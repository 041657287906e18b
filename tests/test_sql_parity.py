"""Spark SQL front door: the engine's tables register as views
(``load_table(...).createOrReplaceTempView``) and ANSI-portable queries
run through ``spark.sql`` with results IDENTICAL to the DataFrame API.

The strongest form available for free: the DuckDB oracle strings from
``__spark_entry__.oracle_sql()`` are fed VERBATIM to Spark SQL. The
pinned set below is every oracle that parses on both engines (the rest
use DuckDB-specific functions — string_split, list_*, quantile_cont,
`//` — by design; their Spark-side semantics are the DataFrame
operators themselves). Three engines therefore agree on these: Spark
DataFrame ≡ Spark SQL (this test) ≡ DuckDB (selfcheck/driver gate).

If an oracle edit breaks portability the query drops out of PORTABLE
loudly (parse error) rather than silently shrinking coverage.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"

# every oracle that parses in Spark SQL today — keep sorted; additions
# welcome, removals need a comment explaining the lost portability
PORTABLE = sorted([
    "q_grouping_sets",
    "q_mode",
    "q_skyline",
    "q_heavy_hitters",
    # the streaming replays share their batch twins' oracles — adding
    # them here makes the out-of-order replay three-engine checked
    "q_heavy_hitters_stream",
    "q_active_users",
    "q_new_vs_returning",
    "q_seasonal_naive",
    "q_audience_overlap",
    "q_top_unshipped",
    "q_khop",
    "q_ab_test",
    "q_candidates",
    "q_candidates_scalable",
    "q_corr_matrix",
    "q_cc_chain_minlabel",
    "q_cc_chain_star",
    "q_cumulative_users",
    "q_data_quality",
    "q_dedup_exact",
    "q_delete_antijoin",
    "q_distinct_users",
    "q_event_counters",
    "q_event_transitions",
    "q_event_windowed",
    "q_funnel",
    "q_histogram",
    "q_incremental_view",
    "q_merge_events",
    "q_snapshot_asof",
    "q_snapshot_cdf",
    "q_outer_join",
    "q_profile",
    "q_scd2",
    "q_range_join",
    "q_stream_join_et",
    "q_salted_count",
    "q_set_ops",
    "q_source_overlap",
    "q_star_revenue",
    "q_triangles",
    "q_unpivot",
    "q_upsert_latest",
    "q_user_latest_ratings",
    "q_user_rated_movies",
    "q_user_top_ratings",
    "q_user_topn",
])


@pytest.fixture(scope="module")
def entry(spark):
    import __spark_entry__ as E  # the checkout root is on sys.path (conftest)

    from movie_rec_spark.sources.catalog import TABLES, load_table
    for name in TABLES:
        load_table(spark, SF, name).createOrReplaceTempView(name)
    return E


def _norm(rows):
    # None-safe total order (grouping-set subtotal rows carry NULL keys)
    out = [tuple(round(x, 6) if isinstance(x, float) else x for x in r)
           for r in rows]
    return sorted(out, key=lambda t: tuple(
        (v is None, type(v).__name__, str(v)) for v in t))


@pytest.mark.parametrize("name", PORTABLE)
def test_oracle_sql_runs_identically_on_spark(spark, entry, name):
    sql_df = spark.sql(entry.oracle_sql()[name])
    api_df = entry.queries()[name](spark, SF).select(*sql_df.columns)
    assert _norm(sql_df.collect()) == _norm(api_df.collect())
