import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)
# executor Python workers import the library and the benchmark modules
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, BENCH, os.environ.get("PYTHONPATH")) if p)


@pytest.fixture(scope="session")
def spark():
    from webloghunter_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
