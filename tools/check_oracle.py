"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark, runs the matching
``oracle_sql()`` on DuckDB over the same parquet (tables pre-registered as
views), and compares row count, column-name sets, the order-insensitive
multiset of values (columns sorted by name, like the driver's value-hash)
and the physical column types. Each side runs once: one Spark
``toArrow()`` and one DuckDB Arrow fetch give both the values and the
types. Each query line shows both row counts (``rows=<spark>/<duck>``)
and both sides' wall seconds (``spark=<s> duck=<s>``), so a slow oracle
shows up in a full run; the last line sums the seconds per side. After
the seconds each line carries the query's plan facts
(:func:`docling_translate_spark.plans.facts.plan_facts`), read from the
session that checks its values, before the query runs. They are
information only: ``tests/test_plan_facts.py`` checks them, in the
suite's session.

Spark runs on ``local[N]`` with N half the host's cores (at least 1):
``local[N]`` keeps about 2N threads runnable.

Usage: python tools/check_oracle.py [sf_dir]
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time
from collections import Counter
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# optional comma-separated query-name filter for focused re-checks,
# e.g. SPARK_GRAFT_ONLY=pii_redact,curation_pipeline
ONLY = {q for q in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if q}

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, int):
        return v
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        # Spark's toArrow() zones TIMESTAMP values (session zone) where
        # DuckDB's TIMESTAMP is naive: compare the UTC instant
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return str(v)


def row_multiset(tbl):
    order = sorted(range(tbl.num_columns), key=lambda i: tbl.column_names[i])
    cols = [tbl.column(i).to_pylist() for i in order]
    return Counter(tuple(norm(v) for v in row) for row in zip(*cols))


def _arrow_type_map(tbl):
    """Column -> coarse Arrow type string, tz/unit-normalized.

    The driver's value-hash is type-sensitive (round 1: BIGINT vs
    HUGEINT, INT vs BIGINT, DECIMAL(28,2) vs DECIMAL(38,2) all produced
    hash mismatches on bit-identical values), so physical-type drift
    between the Spark and DuckDB results fails the query.
    """
    import pyarrow as pa

    out = {}
    for field in tbl.schema:
        t = field.type
        if pa.types.is_timestamp(t):
            out[field.name] = "timestamp"  # tz/unit differences are benign
        elif pa.types.is_large_string(t) or pa.types.is_string(t):
            out[field.name] = "string"
        else:
            out[field.name] = str(t)
    return out


def dtype_drift(stbl, dtbl):
    smap, dmap = _arrow_type_map(stbl), _arrow_type_map(dtbl)
    return [
        f"dtype {col}: spark={smap[col]} duck={dmap[col]}"
        for col in sorted(set(smap) & set(dmap))
        if smap[col] != dmap[col]
    ]


def main():
    import __spark_entry__ as entrymod
    from docling_translate_spark.plans.facts import plan_facts
    from docling_translate_spark.plans.session import build_session

    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    spark = build_session(app_name="oracle-check", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    # data-dependent oracle literals (ann_ivf centroids) replay their
    # recipe over the gate's parquet — point them at THIS run's sf_dir
    # (the driver gates at sf0.01, the env default)
    os.environ["SPARK_GRAFT_ORACLE_SF"] = SF_DIR
    oracles = entrymod.oracle_sql()
    failures = []
    spark_total = duck_total = 0.0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        secs = time.perf_counter() - t0
        # before the run: AQE rewrites the plan that explain prints
        facts = plan_facts(df)
        t0 = time.perf_counter()
        stbl = df.toArrow()
        secs += time.perf_counter() - t0
        spark_total += secs
        t0 = time.perf_counter()
        dtbl = con.execute(oracles[name]).fetch_arrow_table()
        duck_secs = time.perf_counter() - t0
        duck_total += duck_secs
        scols, dcols = stbl.column_names, dtbl.column_names
        ok = True
        msgs = []
        if sorted(scols) != sorted(dcols):
            ok = False
            msgs.append(f"schema {sorted(scols)} != {sorted(dcols)}")
        if stbl.num_rows != dtbl.num_rows:
            ok = False
            msgs.append(f"rowcount {stbl.num_rows} != {dtbl.num_rows}")
        if ok:
            sm = row_multiset(stbl)
            dm = row_multiset(dtbl)
            if sm != dm:
                ok = False
                diff_s = list((sm - dm).items())[:3]
                diff_d = list((dm - sm).items())[:3]
                msgs.append(f"values spark-only={diff_s} duck-only={diff_d}")
        if ok:
            # Driver parity: the gate's value-hash is type-sensitive
            # (BIGINT vs HUGEINT, DECIMAL widths — and round 3 proved a
            # value-equal TIMESTAMP+DECIMAL result can still hash-FAIL),
            # so physical dtype drift is a FAILURE here, not a warning.
            # Only the coarse timestamp tz/unit class stays normalized —
            # timestamp-emitting queries have passed every driver round.
            drift = dtype_drift(stbl, dtbl)
            if drift:
                ok = False
                msgs.append("dtype-drift " + "; ".join(drift))
        # the runner owns cached relations: operators .cache() what they
        # read twice, and nothing a query cached may outlive it
        spark.catalog.clearCache()
        status = "OK " if ok else "FAIL"
        print(
            f"{name:28s} {status} rows={stbl.num_rows}/{dtbl.num_rows} "
            f"spark={secs:.1f}s duck={duck_secs:.1f}s | {facts}"
            + "".join(f" | {m}" for m in msgs)
        )
        if not ok:
            failures.append((name, "; ".join(msgs)))

    spark.stop()
    print(f"\ntotal spark={spark_total:.1f}s duck={duck_total:.1f}s")
    if failures:
        print("\nFAILURES:")
        for n, m in failures:
            print(" ", n, m)
        sys.exit(1)
    print("\nall queries match")


if __name__ == "__main__":
    main()
