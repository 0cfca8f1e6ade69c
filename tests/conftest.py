import atexit
import os
import shutil
import tempfile

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small local parallelism for tests

# Standing corpus artifacts (operators.artifacts) are content-addressed
# and deliberately survive cache clears; tests write many throwaway
# corpora, so route the store into a per-run dir that is removed at exit
# instead of accreting fingerprints under the shared default root.
_ART_DIR = tempfile.mkdtemp(prefix="test_artifacts_")
os.environ["SPARK_GRAFT_ARTIFACTS"] = _ART_DIR
atexit.register(shutil.rmtree, _ART_DIR, ignore_errors=True)

from opencypher_datalayer_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(params=["parquet", "txnlog"])
def writers(request):
    """Where a test's graph writers run, as a function that places one
    storage handle. ``parquet``: on one host, so their commit lock
    queues them and each build runs once. ``txnlog``: each handle on a
    host of its own, which the O_EXCL lock cannot order, so only the
    log's put-if-absent does and a build that loses its slot is rebuilt
    on the winner's snapshot. (The ids are the names of the two storage
    backends these cases ran on before the store had one protocol.)"""

    def place(storage):
        if request.param == "txnlog":
            storage._acquire_commit_lock = lambda *a, **kw: None
            storage._release_commit_lock = lambda: None
        return storage

    return place
