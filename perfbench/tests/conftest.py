from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(
        tmp_path_factory.mktemp("spark-local"))
    from heritrix_spark.session import get_spark

    s = get_spark("perfbench-tests", cores=2, shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
