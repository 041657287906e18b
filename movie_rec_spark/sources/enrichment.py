"""Per-row external enrichment — S5 (SURVEY.md §2.1): the JSON shaping.

The reference enriches each movie with a per-row TMDB REST GET
(prepare_dataset.py:121-152): response JSON → title, year from
release_date, genres joined with '|', overview. The fetch is the
registered ``rest_enrichment`` data source (``sources/restds.py``):
partitioned, batched, retried, emitting raw JSON per id in
``RAW_SCHEMA``. Everything after the fetch is here and is pure
Catalyst (from_json + transform + concat_ws, F5/F6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

# The wire format: raw JSON per id, parsed JVM-side afterwards.
RAW_SCHEMA = "movie_id bigint, raw_json string"

# Response shape (prepare_dataset.py:136-142 reads title, release_date,
# genres[].name, overview).
TMDB_JSON_SCHEMA = StructType([
    StructField("title", StringType()),
    StructField("release_date", StringType()),
    StructField("genres", ArrayType(
        StructType([StructField("name", StringType())]))),
    StructField("overview", StringType()),
])


def _genres_joined(parsed: Column) -> Column:
    """genres[].name joined with '|' (prepare_dataset.py:141, F5)."""
    return F.concat_ws(
        "|", F.transform(parsed["genres"], lambda g: g["name"]))


def parse_enrichment(raw: DataFrame) -> DataFrame:
    """JSON shaping, all JVM-side: from_json + year extraction (F6) +
    pipe-joined genres (F5) + overview→description."""
    parsed = F.from_json(F.col("raw_json"), TMDB_JSON_SCHEMA)
    return raw.select(
        "movie_id",
        parsed["title"].alias("title"),
        F.year(F.to_date(parsed["release_date"])).alias("year"),
        _genres_joined(parsed).alias("genres"),
        parsed["overview"].alias("description"),
    )
