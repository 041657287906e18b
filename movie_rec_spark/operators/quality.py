"""Declarative data-quality constraints — the Deequ / Delta Live
Tables "expectations" operator family: a table plus a constraint list
in, one auditable report row per constraint out (violations counted,
never just a boolean, so the report ranks problems by blast radius).

Reference analogue: the reference enforces these piecemeal — NOT NULL /
UNIQUE / FK in the DDL (``prototype/movierama_ddl.sql:1-33``) and
bounds checks inline in the controller (``controller.py:120-122``
rating-range assert). At lakehouse scale constraints are not enforced
by the store; they are AUDITED by exactly this kind of pass, gating
promotion of a batch from bronze to silver.

Constraint kinds and their evaluation cost:

- ``not_null`` / ``in_range`` / ``accepted_values`` are ROW-LOCAL:
  all of them compile into ONE conditional aggregation over a single
  scan of the table (a `sum(CASE WHEN violated)` per constraint), then
  transpose to report rows with one row-local explode — adding a
  constraint adds a column to the agg, not a pass over the data.
- ``unique`` costs one distinct-aggregate on its key columns.
- ``foreign_key`` costs one left-anti join against the referenced
  column (orphans = violations); the ref side is typically a
  dimension table and broadcasts.

Null semantics (documented, not clever): range and accepted-values
constraints do NOT count nulls as violations — null-ness is
``not_null``'s job, so the two failure modes stay separately
attributable in the report. ``foreign_key`` likewise audits only
non-null child keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def not_null(col: str, name: str | None = None) -> dict:
    return {"kind": "not_null", "col": col,
            "name": name or f"{col} not_null"}


def in_range(col: str, lo=None, hi=None, name: str | None = None) -> dict:
    return {"kind": "in_range", "col": col, "lo": lo, "hi": hi,
            "name": name or f"{col} in_range"}


def accepted_values(col: str, values: Sequence,
                    name: str | None = None) -> dict:
    return {"kind": "accepted_values", "col": col, "values": list(values),
            "name": name or f"{col} accepted_values"}


def unique(cols: Sequence[str], name: str | None = None) -> dict:
    cols = list(cols)
    return {"kind": "unique", "cols": cols,
            "name": name or f"({', '.join(cols)}) unique"}


def foreign_key(col: str, ref: DataFrame, ref_col: str,
                name: str | None = None) -> dict:
    return {"kind": "foreign_key", "col": col, "ref": ref,
            "ref_col": ref_col, "name": name or f"{col} foreign_key"}


def _row_local_violation(c: dict):
    col = F.col(c["col"])
    if c["kind"] == "not_null":
        return col.isNull()
    if c["kind"] == "in_range":
        cond = F.lit(False)
        if c["lo"] is not None:
            cond = cond | (col < F.lit(c["lo"]))
        if c["hi"] is not None:
            cond = cond | (col > F.lit(c["hi"]))
        return cond  # null comparisons fall through to 0 (see module doc)
    if c["kind"] == "accepted_values":
        return ~col.isin(*c["values"])
    raise ValueError(f"not row-local: {c['kind']}")


def check_constraints(df: DataFrame, constraints: Sequence[dict]
                      ) -> DataFrame:
    """Evaluate ``constraints`` against ``df``; returns one report row
    per constraint: (constraint_name, kind, n_rows, violations, passed)."""
    row_local = [c for c in constraints
                 if c["kind"] in ("not_null", "in_range",
                                  "accepted_values")]
    parts: list[DataFrame] = []
    if row_local:
        aggs = [F.count(F.lit(1)).alias("_n")] + [
            F.sum(F.when(_row_local_violation(c), 1).otherwise(0))
            .cast("bigint").alias(f"_v{i}")
            for i, c in enumerate(row_local)]
        one = df.agg(*aggs)
        # transpose the single agg row to report rows: one row-local
        # explode, still the same single scan
        structs = F.array(*[
            F.struct(F.lit(c["name"]).alias("constraint_name"),
                     F.lit(c["kind"]).alias("kind"),
                     F.col(f"_v{i}").alias("violations"))
            for i, c in enumerate(row_local)])
        parts.append(
            one.select(F.col("_n"), F.explode(structs).alias("c"))
            .select(F.col("c.constraint_name"), F.col("c.kind"),
                    F.col("_n").alias("n_rows"), F.col("c.violations")))
    for c in constraints:
        if c["kind"] == "unique":
            parts.append(df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.countDistinct(*c["cols"]))
                .alias("violations"))
                .select(F.lit(c["name"]).alias("constraint_name"),
                        F.lit("unique").alias("kind"),
                        "n_rows", "violations"))
        elif c["kind"] == "foreign_key":
            child = df.filter(F.col(c["col"]).isNotNull())
            orphans = child.join(
                F.broadcast(c["ref"].select(
                    F.col(c["ref_col"]).alias(c["col"])).distinct()),
                c["col"], "left_anti")
            parts.append(
                child.agg(F.count(F.lit(1)).alias("n_rows")).crossJoin(
                    orphans.agg(
                        F.count(F.lit(1)).alias("violations")))
                .select(F.lit(c["name"]).alias("constraint_name"),
                        F.lit("foreign_key").alias("kind"),
                        "n_rows", "violations"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("passed", F.col("violations") == 0)


def q_data_quality(orders: DataFrame, customer: DataFrame,
                   lineitem: DataFrame) -> DataFrame:
    """Declared constraint audit over the order/lineitem tables —
    mirrors the reference's DDL constraints plus two bounds checks that
    REALLY fail on this corpus (status 'P' rows; quantities above 40),
    so the report exercises both verdicts. Table names prefix the
    constraint names so the union stays unambiguous."""
    rep_o = check_constraints(orders, [
        not_null("o_custkey", "orders.o_custkey not_null"),
        unique(["o_orderkey"], "orders.o_orderkey unique"),
        in_range("o_totalprice", lo=0,
                 name="orders.o_totalprice nonnegative"),
        accepted_values("o_orderstatus", ["O", "F"],
                        "orders.o_orderstatus in (O,F)"),
        foreign_key("o_custkey", customer, "c_custkey",
                    "orders.o_custkey -> customer"),
    ])
    rep_l = check_constraints(lineitem, [
        unique(["l_orderkey", "l_linenumber"],
               "lineitem.(l_orderkey,l_linenumber) unique"),
        in_range("l_quantity", lo=1, hi=40,
                 name="lineitem.l_quantity in [1,40]"),
        in_range("l_discount", lo=0.0, hi=0.1,
                 name="lineitem.l_discount in [0,0.1]"),
        foreign_key("l_orderkey", orders, "o_orderkey",
                    "lineitem.l_orderkey -> orders"),
    ])
    return rep_o.unionByName(rep_l)


# k-anonymity audit + generalization (Sweeney/Samarati): before a
# customer-attribute table can feed a training pipeline, every
# quasi-identifier combination must be shared by >= K rows — otherwise
# the row re-identifies a person even with the direct identifiers
# stripped. The cents/banding arithmetic follows the repo's
# integer-cents doctrine so both engines band identically.
KANON_K = 5
KANON_BAND_FINE = 100_000    # $1,000 bands (level-0 qid)
KANON_BAND_COARSE = 500_000  # $5,000 bands (level-1 qid)


def _acct_band(width_cents: int):
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    return F.floor(cents / F.lit(width_cents)).cast("int")


def q_kanon(customer: DataFrame, k: int = KANON_K) -> DataFrame:
    """Declared query: the k-anonymity AUDIT — one row per
    quasi-identifier equivalence class (nation, market segment,
    $1,000 account-balance band) with its group size and a violation
    flag (size < k). The governance report a privacy review reads
    before approving a table for training use; the metadata-level
    complement of q_pii_redact's content-level scrub.

    Scale shape: row-local banding fused into the scan, then ONE
    shuffle keyed on the qid (map-side partial counts — the exchange
    moves at most |distinct qids| rows per task). Reference analogue:
    none (`web/app/models.py` stores raw user rows; no privacy
    surface).
    """
    band = _acct_band(KANON_BAND_FINE)
    return (
        customer
        .select("c_nationkey", "c_mktsegment", band.alias("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .withColumn("violates",
                    (F.col("group_size") < k).cast("int"))
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    )


def q_kanon_generalize(customer: DataFrame,
                       k: int = KANON_K) -> DataFrame:
    """Declared query: the ACTION on q_kanon's findings — a fixed
    generalization ladder assigns every row the MINIMAL coarsening
    whose equivalence class reaches k:

      level 0: (nation, segment, $1k band)   — full precision
      level 1: (segment, $5k band)           — nation dropped, band coarsened
      level 2: (segment)                     — segment only
      level 3: suppressed                    — even the segment class is < k

    Output: (c_custkey, level, group_size) with group_size = the size
    of the chosen class (level-3 rows report the failing segment
    size). Deterministic — no Mondrian-style data-dependent cuts, so
    the ladder is oracle-exact and the levels are auditable.

    Scale shape: the three class-size tables are tiny aggregates
    (|distinct qids| rows each) that broadcast back onto the row
    stream — three cheap exchanges on shrinking key sets, zero
    row-stream shuffles; the standard audit-then-annotate plan at
    any corpus size.
    """
    f0 = _acct_band(KANON_BAND_FINE).alias("band0")
    f1 = _acct_band(KANON_BAND_COARSE).alias("band1")
    rows = customer.select("c_custkey", "c_nationkey", "c_mktsegment",
                           f0, f1)
    s0 = (rows.groupBy("c_nationkey", "c_mktsegment", "band0")
          .agg(F.count(F.lit(1)).cast("long").alias("n0")))
    s1 = (rows.groupBy("c_mktsegment", "band1")
          .agg(F.count(F.lit(1)).cast("long").alias("n1")))
    s2 = (rows.groupBy("c_mktsegment")
          .agg(F.count(F.lit(1)).cast("long").alias("n2")))
    level = (
        F.when(F.col("n0") >= k, 0)
        .when(F.col("n1") >= k, 1)
        .when(F.col("n2") >= k, 2)
        .otherwise(3))
    size = (
        F.when(F.col("n0") >= k, F.col("n0"))
        .when(F.col("n1") >= k, F.col("n1"))
        .otherwise(F.col("n2")))
    return (
        rows
        .join(F.broadcast(s0), ["c_nationkey", "c_mktsegment", "band0"])
        .join(F.broadcast(s1), ["c_mktsegment", "band1"])
        .join(F.broadcast(s2), ["c_mktsegment"])
        .select("c_custkey", level.cast("int").alias("level"),
                size.alias("group_size"))
        .orderBy("c_custkey")
    )


LDIV_L = 3


def q_ldiversity(customer: DataFrame, l_min: int = LDIV_L) -> DataFrame:
    """Declared query: the l-diversity audit (Machanavajjhala et al.)
    — k-anonymity's required companion: a class can be k-large yet
    still leak if everyone in it shares the same SENSITIVE value
    (homogeneity attack). Here the quasi-identifier is (nation, $1k
    balance band) and the sensitive attribute is the market segment —
    the attribute deliberately EXCLUDED from this qid (unlike
    q_kanon's, which includes it): one row per class with its size,
    distinct-sensitive count, and violation flag (distinct < l).

    Scale shape: one two-phase distinct aggregate keyed on the qid
    (partial distinct map-side) — the same exchange discipline as
    q_domain_stats. Reference analogue: none.
    """
    band = _acct_band(KANON_BAND_FINE)
    return (
        customer
        .select("c_nationkey", band.alias("bal_band"), "c_mktsegment")
        .groupBy("c_nationkey", "bal_band")
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"),
             F.countDistinct("c_mktsegment").cast("long")
             .alias("n_sensitive"))
        .withColumn("violates",
                    (F.col("n_sensitive") < l_min).cast("int"))
        .orderBy("c_nationkey", "bal_band")
    )
