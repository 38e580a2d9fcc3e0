"""Per-query build and noop-sink profile of the gate queries.

For every query in ``__spark_entry__.queries()`` at one sf dir,
measured after one untimed warm-up pass over all of them:

- ``build_jobs``/``build_s``: Spark jobs launched, and wall time, while
  the query function builds its DataFrame, before any action;
- ``noop_jobs``/``noop_s``: the same for writing that DataFrame to the
  ``noop`` sink, which materialises every output column (``count()``
  would let Catalyst prune part of the query).

Jobs are counted per phase with ``setJobGroup`` and the status tracker.
The cache is cleared before each query, as the oracle harness does.
Prints one JSON document with the sf, ``SPARK_GRAFT_CPUS`` and
``bench.py``'s host probe next to the per-query rows and their totals:

    python tools/profile_queries.py SF_DIR > layers.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

PHASES = ("build", "noop")


def profile_one(spark, name: str, fn, sf_dir: str) -> dict[str, float | int]:
    """Build ``fn``'s DataFrame, then write it to the noop sink, each
    phase under its own job group."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    row: dict[str, float | int] = {}
    df = None
    for phase in PHASES:
        group = f"profile-{name}-{phase}-{time.monotonic_ns()}"
        sc.setJobGroup(group, f"{name} {phase}", True)
        try:
            t0 = time.perf_counter()
            if phase == "build":
                df = fn(spark, sf_dir)
            else:
                df.write.format("noop").mode("overwrite").save()
            row[f"{phase}_s"] = round(time.perf_counter() - t0, 4)
            row[f"{phase}_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup("", "", False)
    return row


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", help="directory holding the ten testdata tables")
    args = ap.parse_args(argv)

    import __spark_entry__ as entry
    from bench import host_probe_sec
    from data_curator_spark.session import build_session

    # data-dependent oracles train on the same sf dir (see check_oracle.py)
    os.environ["SPARK_GRAFT_ORACLE_SF"] = args.sf_dir
    qs = entry.queries()

    spark = build_session("profile-queries")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for name, fn in qs.items():  # warm-up pass, untimed
            profile_one(spark, name, fn, args.sf_dir)
        rows = {name: profile_one(spark, name, fn, args.sf_dir) for name, fn in qs.items()}
    finally:
        spark.stop()

    totals = {
        key: round(sum(r[key] for r in rows.values()), 4)
        for key in ("build_jobs", "build_s", "noop_jobs", "noop_s")
    }
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "sf": args.sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "host_probe_sec": host_probe_sec(),
        "n_queries": len(rows),
        "totals": totals,
        "queries": rows,
    }, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
