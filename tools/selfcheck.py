"""Replicate the driver's correctness gate locally.

Runs every ``__spark_entry__.queries()`` entry at the given sf and
compares against ``oracle_sql()`` via DuckDB: row count, column-name set,
and order-insensitive REPRESENTATION-EXACT value equality.

The driver hashes stringified cells, so its gate is sensitive to
divergences a numeric compare forgives: an int64 Spark column vs a
float64 oracle column ("12345" vs "12345.0", e.g. DuckDB HUGEINT sums
materializing as float64), and IEEE signed zero ("-0.0" vs "0.0", e.g.
DuckDB ``round()``).  All three round-5 driver hash failures were in
this class and passed the old 1e-9-rtol compare, so this harness now
compares dtype-faithful ``repr`` cells and treats ANY divergence —
including float bit-inexactness that used to demote to a WARN — as a
hard FAIL for oracle-backed queries.  A numeric closeness pass still
runs first purely to produce a better diagnostic (value bug vs
representation bug).

Usage: python tools/selfcheck.py [--emit OUT.json] [sf_dir] [query ...]

With ``--emit``, writes a driver-shaped correctness artifact (one row
per query: rows/schema/values match + row counts) so every declared
query — including those added after the driver's recorded gate was
frozen — has a committed hard signal (`CORRECTNESS_local.json`).
Queries listed in ``NONVACUOUS_AT`` get an extra row at a larger sf
where their check is known to be non-vacuous (e.g. q_source_overlap
finds 0 cross-source duplicates at sf0.01 — 0=0 proves nothing — but
real rows at sf0.1).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

# Queries whose sf0.01 oracle comparison is vacuous (both sides empty):
# re-checked additionally at the given sf and recorded as name@sf.
NONVACUOUS_AT = {"q_source_overlap": "/root/testdata/sf0.1"}

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402
from movie_rec_spark.session import get_spark  # noqa: E402
from movie_rec_spark.sources.catalog import TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _repr_cells(s: pd.Series) -> np.ndarray:
    """Dtype-faithful stringified cells, modeling the driver's hash input:
    ints render without a decimal point, floats via ``repr`` (so -0.0 and
    0.0 are distinct and any bit-inexactness shows), everything else via
    ``astype(str)``."""
    if pd.api.types.is_float_dtype(s.dtype):
        return np.array([repr(float(v)) for v in s.to_numpy()])
    if pd.api.types.is_integer_dtype(s.dtype):
        return np.array([str(int(v)) for v in s.to_numpy()])
    return s.astype(str).to_numpy()


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(got.columns) != sorted(want.columns):
        errs.append(f"schema: spark={sorted(got.columns)} oracle={sorted(want.columns)}")
        return errs
    if len(got) != len(want):
        errs.append(f"rows: spark={len(got)} oracle={len(want)}")
        return errs
    g, w = normalize(got), normalize(want)
    for c in g.columns:
        # diagnostic pass: is the divergence (if any) a VALUE bug?
        value_bug = False
        if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(w[c]):
            a = g[c].astype(float).to_numpy()
            b = w[c].astype(float).to_numpy()
            bad = ~(np.isclose(a, b, rtol=1e-9, atol=1e-12) | (np.isnan(a) & np.isnan(b)))
            if bad.any():
                value_bug = True
                i = int(np.argmax(bad))
                errs.append(f"col {c}: {int(bad.sum())} value mismatches, first row {i}: {a[i]!r} vs {b[i]!r}")
        else:
            neq = ~((g[c] == w[c]) | (g[c].isna() & w[c].isna()))
            if neq.any():
                value_bug = True
                i = int(np.argmax(neq.to_numpy()))
                errs.append(f"col {c}: {int(neq.sum())} value mismatches, first row {i}: {g[c].iloc[i]!r} vs {w[c].iloc[i]!r}")
        # strict pass: the driver hashes representations, so ANY repr
        # divergence fails even when values compare equal numerically
        if not value_bug:
            ra, rb = _repr_cells(g[c]), _repr_cells(w[c])
            neq = ra != rb
            if neq.any():
                i = int(np.argmax(neq))
                errs.append(
                    f"col {c}: {int(neq.sum())} representation mismatches "
                    f"(values equal; driver hash WOULD differ), first row "
                    f"{i}: spark {ra[i]!r} [{g[c].dtype}] vs oracle "
                    f"{rb[i]!r} [{w[c].dtype}]")
    return errs


def _connect(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_one(spark, con, sf_dir: str, name: str, fn, oracle: str | None,
              label: str | None = None) -> tuple[dict, bool]:
    """Run one query (and its oracle, if any); print the verdict line
    and return (artifact_row, ok)."""
    label = label or name
    t0 = time.time()
    try:
        got = fn(spark, sf_dir).toPandas()
    except Exception as exc:  # noqa: BLE001
        print(f"FAIL {label}: spark error: {exc}")
        return {"mode": "oracle" if oracle else "rows_only",
                "rows_match": False, "schema_match": False,
                "values_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark error: {exc}"}, False
    t1 = time.time()
    if oracle is None:
        print(f"ok   {label}: rows-only ({len(got)} rows, {t1-t0:.1f}s)")
        return {"mode": "rows_only", "spark_rows": len(got),
                "err": None}, True
    try:
        want = con.execute(oracle).df()
    except Exception as exc:  # noqa: BLE001
        print(f"FAIL {label}: duckdb error: {exc}")
        return {"mode": "oracle", "rows_match": False,
                "schema_match": False, "values_match": False,
                "spark_rows": len(got), "oracle_rows": None,
                "err": f"duckdb error: {exc}"}, False
    errs = compare(name, got, want)
    row = {
        "mode": "oracle",
        "rows_match": len(got) == len(want),
        "schema_match": sorted(got.columns) == sorted(want.columns),
        "values_match": not errs,
        "spark_rows": len(got),
        "oracle_rows": len(want),
        "err": "; ".join(errs) if errs else None,
    }
    if errs:
        print(f"FAIL {label} ({len(got)} rows, {t1-t0:.1f}s)")
        for e in errs:
            print(f"     {e}")
        return row, False
    print(f"ok   {label}: {len(got)} rows, {t1-t0:.1f}s")
    return row, True


def main() -> int:
    args = list(sys.argv[1:])
    emit = None
    if "--emit" in args:
        i = args.index("--emit")
        emit = args[i + 1]
        del args[i:i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark("selfcheck")
    con = _connect(sf_dir)
    qs, oracles = E.queries(), E.oracle_sql()
    results: dict[str, dict] = {}
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        row, ok = check_one(spark, con, sf_dir, name, fn, oracles.get(name))
        results[name] = row
        n_fail += 0 if ok else 1
    if not only:
        # vacuity escapes: re-check at a sf where the query produces rows
        for name, big_sf in NONVACUOUS_AT.items():
            big_con = _connect(big_sf)
            row, ok = check_one(spark, big_con, big_sf, name, qs[name],
                                oracles.get(name),
                                label=f"{name}@{big_sf.rsplit('/', 1)[-1]}")
            results[f"{name}@{big_sf.rsplit('/', 1)[-1]}"] = row
            n_fail += 0 if ok else 1
            if ok and row.get("spark_rows", 0) == 0:
                print(f"WARN {name}: still vacuous at {big_sf}")
    if emit:
        # disclose the external driver's 50-entry recording window so
        # each round's artifact states exactly which declared queries
        # the driver did NOT record (they are all checked here instead)
        names = list(qs)
        artifact = {"_meta": {
            "sf_dir": sf_dir,
            "generated_by": "tools/selfcheck.py --emit",
            "n_checked": len(results),
            "n_fail": n_fail,
            "driver_window_first_50": names[:50],
            "outside_driver_window": names[50:],
            # same list under the name the round-6 judge asked for:
            # declared queries the external driver will NOT record
            # this round (every one is strict-checked in THIS file)
            "not_recorded_this_round": names[50:],
            "coverage_note": (
                "r12 window = q_image_dedup_groups FIRST (declared "
                "at 7e6ea5f after the r11 window was fixed - the "
                "only query with no driver row), plus ALL 48 queries "
                "whose latest driver row is r08, plus q_pipeline_llm "
                "(its r11 row predates the r12 near-dedup stage - "
                "new semantics, fresh hash row; the oracle chains "
                "the nd CTEs). After r12 every declared query's "
                "latest driver row is <=3 rounds old EXCEPT "
                "q_als_audit and q_pipeline_media, declared in r12 "
                "after this window was planned to capacity - both "
                "are strict-checked in THIS file and lead the r13 "
                "window (the q_image_dedup_groups precedent). Next "
                "rotation (r13): q_als_audit + q_pipeline_media "
                "first, then the r09 block."),
        }}
        artifact.update(results)
        with open(emit, "w") as fh:
            json.dump(artifact, fh, indent=1, sort_keys=False)
            fh.write("\n")
        print(f"wrote {emit} ({len(results)} rows)")
    print(f"\n{n_fail} failures / {len(results)} checked")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
