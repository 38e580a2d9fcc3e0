"""`operators` workload: registered gate queries, each collected in full.

Input: the ten TPC-H-ish tables from ``tables.write_tables(seed)`` at
the sf0.001 shape (6,000 lineitem rows, 500 documents, about 0.45 MB).
The seed also sets the order of the queries in every pass, so state
leaking between queries through persisted frames shows up.

One timed job is one pass over ``QUERY_SET``: each query is built after
``clearCache()`` and collected, which materialises every output column
(``count()`` would let Catalyst prune work), then compared untimed with
its DuckDB oracle (``tools/check_oracle.py``'s canonicalisation). Set-up
ends with ``WARM_PASSES`` such passes: on the cold JVM the first takes
about twice as long as the third and later ones, the second about a
fifth longer. The traced run times each query again under a ``noop``
sink.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

# Representative gate queries: the MinHash and contamination Arrow
# mapInPandas kernels and the tabular join, window and aggregation paths.
# A pass over all 50 takes about a minute on four cores, more than one run
# can spend. doc_quality_stats and line_repetition are left out: each
# needs three executions (about 38 s on four cores) before its time
# settles, so a run that includes them times warm-up, not the kernels.
QUERY_SET = (
    "minhash_lsh", "decontaminate",
    "pricing_summary", "revenue_by_nation", "rolling_features", "sessionize",
)
TEXT_TABLES = ("documents", "embeddings")
WARM_PASSES = 2


@dataclass
class Tables:
    sf_dir: str
    order: list[str]
    oracles: dict[str, str]
    con: object  # DuckDB connection with one view per table
    text: set[str] = field(default_factory=set)


def prepare(run_dir: Path, cache_dir: Path, seed: int, cpus: int) -> Tables:
    import duckdb

    import __spark_entry__ as entry
    import tables

    sf_dir = str(run_dir / "tables")
    tables.write_tables(sf_dir, seed)
    order = [QUERY_SET[i] for i in np.random.default_rng([seed, 3]).permutation(len(QUERY_SET))]
    # data-dependent oracles (ann_ivf, bpe_encode) train on this dir
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir
    con = duckdb.connect()
    for name in tables.TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
    return Tables(sf_dir, order, entry.oracle_sql(), con)


def _reads_text(df) -> bool:
    """Text group: the query scans documents or embeddings."""
    return any(f"/{tab}.parquet" in f for f in df.inputFiles() for tab in TEXT_TABLES)


def _collect(fn, spark, sf_dir: str):
    df = fn(spark, sf_dir)
    return df, df.collect()


def _matches_oracle(t: Tables, name: str, df, rows) -> bool:
    from tools.check_oracle import multiset

    rel = t.con.sql(t.oracles[name])
    ocols, orows = list(rel.columns), rel.fetchall()
    return sorted(df.columns) == sorted(ocols) and multiset(
        [tuple(r) for r in rows], df.columns
    ) == multiset(orows, ocols)


def warm_up(spark, session, t: Tables, ledger) -> None:
    """Untimed passes on the cold JVM, checked like every job."""
    for _ in range(WARM_PASSES):
        job(spark, session, t, ledger)


def job(spark, session, t: Tables, ledger) -> bool:
    """One pass in the seed's order: each query is built after
    clearCache() and collected (every output column materialised), then
    compared with its DuckDB oracle outside the timed span."""
    import __spark_entry__ as entry

    queries = entry.queries()
    for name in t.order:
        spark.catalog.clearCache()
        with session.span():
            got = ledger.run(f"op.{name}", _collect, queries[name], spark, t.sf_dir)
        if got is None:
            return False
        df, rows = got
        if _reads_text(df):
            t.text.add(name)
        ok = ledger.run(f"op.{name}.oracle", _matches_oracle, t, name, df, rows)
        ledger.check(f"op.{name}.matches_oracle", bool(ok), f"{len(rows)} Spark rows differ from the oracle")
    return True


def check(spark, t: Tables, ledger) -> None:
    """Each query was compared with its oracle inside every job."""


def _noop_query(fn, spark, sf_dir: str) -> bool:
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return True


def one_pass(spark, t: Tables, ledger) -> dict[str, float] | None:
    """Per-query noop-sink wall times, or None if any query failed."""
    import __spark_entry__ as entry

    queries = entry.queries()
    times = {}
    for name in t.order:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        if not ledger.run(f"op.{name}.noop", _noop_query, queries[name], spark, t.sf_dir):
            return None
        times[name] = time.perf_counter() - t0
    return times


def profile(spark, session, t: Tables, ledger) -> tuple[dict[str, tuple[float, str]], dict[str, int]]:
    """Per-query noop-sink wall times of one pass, plus the job group
    whose plans the caller counts (group -> passes in it)."""
    import __spark_entry__ as entry

    if not t.text:  # no job ran in this process; building a query may run jobs
        session.group("ops.classify")
        t.text.update(n for n in QUERY_SET if _reads_text(entry.queries()[n](spark, t.sf_dir)))
    session.group("ops")
    times = one_pass(spark, t, ledger)
    if times is None:
        return {}, {}
    out = {f"op.{name}_s": (times[name], "s") for name in QUERY_SET}
    out["ops.text_s"] = (sum(out[f"op.{n}_s"][0] for n in QUERY_SET if n in t.text), "s")
    out["ops.tabular_s"] = (sum(out[f"op.{n}_s"][0] for n in QUERY_SET if n not in t.text), "s")
    return out, {"ops": 1}
