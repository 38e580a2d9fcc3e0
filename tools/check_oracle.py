"""Local stand-in for the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB at the
given sf dir, compares row count, sorted column names, and an
order-insensitive value multiset (values canonicalized: floats via repr,
timestamps via isoformat). Exit nonzero on any mismatch.
"""

from __future__ import annotations

import sys
import time
from collections import Counter

from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

from data_curator_spark.queries import TABLE_SCHEMAS  # noqa: E402
from data_curator_spark.session import build_session  # noqa: E402


def canon(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return repr(v)


def multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    # --legacy may appear anywhere (incl. argv[1]); the first non-flag
    # argument is the sf dir, the rest are query names
    args = [a for a in sys.argv[1:] if a != "--legacy"]
    legacy = "--legacy" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    import os

    # data-dependent oracles (ann_ivf) must train on the same sf dir
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir
    only = set(args[1:]) or None

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    if legacy:
        # the gate=False records of queries.REGISTRY (outside the
        # driver's 50-row gate window) with their oracles — same
        # comparison, run on demand
        from data_curator_spark.queries import LEGACY_QUERIES, get_legacy_oracles

        qs = dict(LEGACY_QUERIES)
        oracles = get_legacy_oracles()

    if only:
        # a name that matches nothing must be a hard error — a typo'd or
        # wrong-registry name (legacy vs registered) would otherwise
        # skip every query and still print the green all-match line.
        # Checked BEFORE Spark starts so the failure is instant.
        unknown = only - set(qs)
        if unknown:
            print(f"FAIL unknown query name(s) {sorted(unknown)} — "
                  f"not in the {'legacy' if legacy else 'registered'} "
                  "registry; check the name or toggle --legacy")
            return 1

    spark = build_session("oracle-check")
    con = duckdb.connect()
    for t in TABLE_SCHEMAS:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # queries persist() multi-consumer intermediates (signatures,
        # candidate pairs, rollup partials) and return lazy frames, so
        # the harness owns the cache lifecycle: release between queries
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows ({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"WARN {name}: 0 rows")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = [str(t).upper() for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        probs = []
        # Arrow-type audit (r5 root cause): fetchall() converts HUGEINT
        # to Python int and hides it, but the DRIVER canonicalizes
        # through Arrow where HUGEINT renders as decimal128 and
        # hash-diverges from Spark int64. Flag the whole fragile class
        # here so local runs reproduce the driver red.
        for c, t in zip(ocols, otypes):
            base = t.split("(")[0]
            if base in ("HUGEINT", "UHUGEINT") or base.startswith("DECIMAL"):
                probs.append(
                    f"oracle column {c} has DuckDB type {t} "
                    "(Arrow decimal128 != Spark int64 in the driver "
                    "harness) — CAST(... AS BIGINT) in the oracle SQL"
                )
            elif base.startswith("TIMESTAMP"):
                probs.append(
                    f"oracle column {c} is {t} — emit epoch-micros BIGINT"
                )
        if len(srows) != len(orows):
            probs.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            probs.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        else:
            ms, mo = multiset(srows, scols), multiset(orows, ocols)
            if ms != mo:
                diff_s = ms - mo
                diff_o = mo - ms
                ex_s = list(diff_s.items())[:3]
                ex_o = list(diff_o.items())[:3]
                probs.append(
                    f"values differ: {sum(diff_s.values())} spark-only / "
                    f"{sum(diff_o.values())} oracle-only; spark e.g. {ex_s}; oracle e.g. {ex_o}"
                )
        if probs:
            print(f"FAIL {name}: " + "; ".join(probs))
            failures.append(name)
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match oracle")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
