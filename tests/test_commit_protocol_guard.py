"""The package has one commit protocol: every put-if-absent goes through
the shared log put (``storage._log_put``), and no module keeps a backend
registry or reads a backend switch from the environment."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "opencypher_datalayer_spark"


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG.parent), ast.parse(path.read_text())


def _env_reads(node):
    """String constants a call or subscript on ``environ``/``getenv`` reads."""
    if isinstance(node, ast.Call):
        target, args = node.func, node.args[:1]
    elif isinstance(node, ast.Subscript):
        target, args = node.value, [node.slice]
    else:
        return []
    if not any(name in ast.unparse(target) for name in ("environ", "getenv")):
        return []
    return [a.value for a in args if isinstance(a, ast.Constant) and isinstance(a.value, str)]


def test_one_commit_protocol():
    bad = []
    for rel, tree in _modules():
        log_put = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "_log_put"
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and ast.unparse(node.func).endswith("_put_if_absent")
                and id(node) not in log_put
            ):
                bad.append(f"{rel}:{node.lineno}: calls _put_if_absent")
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, (ast.AnnAssign, ast.AugAssign))
                else []
            )
            if any(isinstance(t, ast.Name) and t.id == "BACKENDS" for t in targets):
                bad.append(f"{rel}:{node.lineno}: defines BACKENDS")
            for var in _env_reads(node):
                if var.endswith("_BACKEND"):
                    bad.append(f"{rel}:{node.lineno}: reads ${var}")
    assert not bad, bad
