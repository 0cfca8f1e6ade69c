"""Hypothesis model of the artifact-store lifecycle: random
commit / extend / raced-extend / sweep sequences must always leave
the current version pointing at a COMPLETE version whose content equals
the model — in particular, no interleaving of extensions may ever lose a
delta (the CAS contract)."""

import json
import os
import shutil
import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st

from opencypher_datalayer_spark.operators.artifacts import ArtifactStore

KIND, KEY = "model", (("k",),)


def _write_token(d: str, token: str) -> None:
    with open(os.path.join(d, f"{token}.json"), "w") as f:
        json.dump({"t": token}, f)


def _content(vdir: str) -> set[str]:
    return {n[:-5] for n in os.listdir(vdir) if n.endswith(".json")}


ops_strategy = st.lists(
    st.sampled_from(
        ["commit", "extend", "extend_race", "sweep", "compact", "compact_race"]
    ),
    min_size=1,
    max_size=10,
)


def _compact(store, model: set[str], retries: int = 5) -> None:
    """The compactors' protocol, modeled: read the current version,
    republish its merged content via CAS on the base, re-reading on
    conflict — content must be preserved exactly."""
    from opencypher_datalayer_spark.operators.artifacts import ExtensionConflict

    for _ in range(retries + 1):
        base = store.current_version(KIND, KEY)
        cur = store.current_dir(KIND, KEY)
        content = _content(cur)

        def build(d, content=content):
            for tok in content:
                _write_token(d, tok)

        try:
            store.commit_if_current(KIND, KEY, build, base)
            return
        except ExtensionConflict:
            continue
    raise AssertionError("compact lost every publish race")


@settings(max_examples=25, deadline=None)
@given(ops=ops_strategy)
def test_lifecycle_model_never_loses_a_delta(ops):
    root = tempfile.mkdtemp(prefix="artifact_model_")
    try:
        store = ArtifactStore(root)
        model: set[str] = set()
        counter = [0]

        def fresh() -> str:
            counter[0] += 1
            return f"t{counter[0]:03d}"

        for op in ops:
            if op == "commit" or (
                op in ("extend", "extend_race")
                and store.current_dir(KIND, KEY) is None
            ):
                tok = fresh()
                store.commit(KIND, KEY, lambda d, tok=tok: _write_token(d, tok))
                model = {tok}  # full rebuild replaces content
            elif op == "extend":
                tok = fresh()
                store.commit_extension(
                    KIND, KEY, lambda d, tok=tok: _write_token(d, tok)
                )
                model.add(tok)
            elif op == "extend_race":
                # a competing extender completes BETWEEN this one's
                # base read and publish (triggered from inside the
                # builder) — the CAS must keep BOTH deltas
                tok_a, tok_b = fresh(), fresh()
                fired = []

                def build_a(d, tok_a=tok_a, tok_b=tok_b, fired=fired):
                    if not fired:
                        fired.append(1)
                        store.commit_extension(
                            KIND, KEY, lambda d2: _write_token(d2, tok_b)
                        )
                    _write_token(d, tok_a)

                store.commit_extension(KIND, KEY, build_a)
                model |= {tok_a, tok_b}
            elif op == "compact":
                if store.current_dir(KIND, KEY) is not None:
                    _compact(store, model)  # content-neutral
            elif op == "compact_race":
                # an extension commits between compact's read and its
                # publish — the CAS must refuse the stale rewrite and
                # the retry must carry the extension's delta through
                if store.current_dir(KIND, KEY) is None:
                    continue
                tok = fresh()
                orig = store.commit_if_current
                fired = []

                def racing(kind, key, builder, base, tok=tok, fired=fired):
                    if not fired:
                        fired.append(1)
                        store.commit_extension(
                            KIND, KEY, lambda d2: _write_token(d2, tok)
                        )
                    return orig(kind, key, builder, base)

                store.commit_if_current = racing
                try:
                    _compact(store, model)
                finally:
                    store.commit_if_current = orig
                model.add(tok)
            elif op == "sweep":
                store.sweep(keep_versions=1)
            cur = store.current_dir(KIND, KEY)
            if model:
                assert cur is not None
                assert _content(cur) == model, (op, ops)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _dir_footprint(store) -> tuple[int, int]:
    """(version dirs, total entries) of the artifact's directory — the
    growth the sweep schedule must keep bounded."""
    entries = os.listdir(store._adir(KIND, KEY))
    return len([e for e in entries if e.startswith("d-")]), len(entries)


def test_artifact_aging_bounded_growth():
    """SCALE.md §artifact-aging: a long-running deployment's artifact
    directory must not grow without bound. 300 iterations of the
    steady-state schedule — extend every step, compact every 16th (the
    bm25 COMPACT_GENERATIONS cadence), sweep(keep_versions=2) every
    8th, a CONCURRENT second sweeper racing the schedule. Pins: (a)
    content always equals the model (no delta ever lost across ~340
    version publications), (b) immediately after each sweep the
    version-dir count is <= keep_versions and the total directory
    entries stay under a fixed ceiling, (c) no orphan data dirs survive
    the final sweep."""
    import threading

    root = tempfile.mkdtemp(prefix="artifact_aging_")
    try:
        store = ArtifactStore(root)
        sweeper = ArtifactStore(root)  # second process-alike
        store.commit(KIND, KEY, lambda d: _write_token(d, "t000"))
        model = {"t000"}
        for i in range(1, 301):
            tok = f"t{i:03d}"
            store.commit_extension(KIND, KEY, lambda d, tok=tok: _write_token(d, tok))
            model.add(tok)
            if i % 16 == 0:
                _compact(store, model)
            if i % 8 == 0:
                # two sweepers race (a deployment's janitor overlapping
                # an operator-invoked cleanup); rmtree tolerates the
                # overlap and neither may touch the current version
                t = threading.Thread(target=sweeper.sweep, kwargs={"keep_versions": 2})
                t.start()
                store.sweep(keep_versions=2)
                t.join()
                nv, total = _dir_footprint(store)
                assert nv <= 2, (i, nv)
                # KEY/_log + kept versions: fixed ceiling
                assert total <= 8, (i, total)
            cur = store.current_dir(KIND, KEY)
            assert _content(cur) == model, i
        removed = store.sweep(keep_versions=1)
        nv, total = _dir_footprint(store)
        assert nv == 1 and total <= 6, (nv, total, removed)
        assert _content(store.current_dir(KIND, KEY)) == model
    finally:
        shutil.rmtree(root, ignore_errors=True)
