import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ.setdefault("SPARK_LOCAL_DIRS",
                          str(tmp_path_factory.mktemp("spark-local")))
    from datalake_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests")
    yield s
    s.stop()
