from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """A small local session whose scratch space lives under pytest's
    temporary directory."""
    base = tmp_path_factory.mktemp("spark")
    for name in ("scratch", "ckpt", "local"):
        (base / name).mkdir()
    os.environ.update({
        "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEM": "1g",
        "MRS_SCRATCH_DIR": str(base / "scratch"),
        "SPARK_CHECKPOINT_DIR": str(base / "ckpt"),
        "SPARK_LOCAL_DIRS": str(base / "local"),
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"})
    from movie_rec_spark.session import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
