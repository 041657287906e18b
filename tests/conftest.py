from __future__ import annotations

import sys
from pathlib import Path

import pytest

# this checkout's library, wherever the checkout lives
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from movie_rec_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_docs(spark):
    from movie_rec_spark.sources.catalog import load_table
    return load_table(spark, "/root/testdata/sf0.001", "documents")


@pytest.fixture(scope="session")
def sf_emb(spark):
    from movie_rec_spark.sources.catalog import load_table
    return load_table(spark, "/root/testdata/sf0.001", "embeddings")
