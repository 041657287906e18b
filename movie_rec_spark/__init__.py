"""movie_rec_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query & data-processing capabilities of
the reference movie-recommendation service (anskarl/movie_rec) as an
idiomatic Spark library: DataFrame/SQL relational core, MLlib ALS for the
latent-factor recommender, Structured Streaming for stateful event-stream
operators, plus large-scale training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing).

Design stance (SURVEY.md §7.0): one SparkSession-backed library; serving
semantics become queries/views; everything declarative so Catalyst gets
predicate pushdown / column pruning / broadcast selection for free.
"""

__version__ = "0.1.0"

from movie_rec_spark.session import get_spark  # noqa: F401
