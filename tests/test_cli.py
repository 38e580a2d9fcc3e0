"""CLI entry point (python -m data_curator_spark) — the reference's
console-command analog (services/cli.py:155-203)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])


def _run(*args: str) -> str:
    out = subprocess.run(
        [sys.executable, "-m", "data_curator_spark", *args],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-1500:]
    return out.stdout.strip().splitlines()[-1]


def test_cli_corpus_and_pipeline(tmp_path):
    corpus = str(tmp_path / "c.parquet")
    r = json.loads(_run("corpus", "--output", corpus, "--files", "200"))
    assert r["files"] == 200

    r2 = json.loads(
        _run(
            "pipeline", "--input", corpus, "--output", str(tmp_path / "out"),
            "--manifest", str(tmp_path / "m"), "--buckets", "4",
        )
    )
    # 200 + 5% dups + code-defect files (max(n//40, 6) = 6 at n=200)
    # + wave-7 quality-defect files (max(n//80, 6) = 6 at n=200)
    assert r2["rows_total"] == 222
    assert r2["buckets_processed"] == 4
    # resume is a no-op
    r3 = json.loads(
        _run(
            "pipeline", "--input", corpus, "--output", str(tmp_path / "out"),
            "--manifest", str(tmp_path / "m"), "--buckets", "4",
        )
    )
    assert r3["buckets_skipped"] == 4 and r3["buckets_processed"] == 0


def test_cli_overwrite_layout_backfill(spark, tmp_path):
    """--reprocess backfills under the default overwrite layout too:
    bucket 0 is rewritten in place under a new run, so the totals and
    the output's row count stay the input's."""
    from data_curator_spark.pipeline.corpus import write_corpus_parquet
    from data_curator_spark.pipeline.runner import run_pipeline

    corpus = write_corpus_parquet(str(tmp_path / "c.parquet"), 200, 42)
    out, man = str(tmp_path / "out"), str(tmp_path / "m")
    first = run_pipeline(spark, corpus, out, man, n_buckets=4)
    r = json.loads(_run(
        "pipeline", "--input", corpus, "--output", out, "--manifest", man,
        "--buckets", "4", "--reprocess", "0",
    ))
    assert (r["operation"], r["buckets_processed"]) == ("backfill", 1)
    assert (r["rows_total"], r["rows_kept"]) == (first["rows_total"], first["rows_kept"])
    assert spark.read.parquet(out).count() == spark.read.parquet(corpus).count() == 222


def test_cluster_conf_shapes():
    """cluster_conf scales with fleet size and keeps the invariants the
    engine relies on (AQE, Arrow, dynamic partition overwrite)."""
    from data_curator_spark.session import cluster_conf

    c = cluster_conf(executors=1000, cores_per_executor=4)
    assert c["spark.sql.shuffle.partitions"] == str(3 * 4000)
    assert c["spark.sql.adaptive.enabled"] == "true"
    assert c["spark.sql.sources.partitionOverwriteMode"] == "dynamic"
    small = cluster_conf(executors=8, cores_per_executor=8)
    assert small["spark.sql.shuffle.partitions"] == str(3 * 64)


def test_driver_contract_alignment():
    """Every queries() entry has an oracle_sql() entry (the round-2
    contract: zero rows-only checks) and the callables/SQL are non-empty."""
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1]))
    import __spark_entry__ as m

    qs, oracles = m.queries(), m.oracle_sql()
    assert set(oracles) == set(qs), sorted(set(qs) ^ set(oracles))
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in oracles.values())


def test_cli_mvcc_layout_snapshots_travel_vacuum(tmp_path):
    """End-to-end mvcc CLI: run -> backfill -> snapshots -> travel -> vacuum."""
    import json
    import subprocess
    import sys

    corpus = str(tmp_path / "c.parquet")
    out = str(tmp_path / "out")
    man = str(tmp_path / "man")

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "data_curator_spark", *argv],
            capture_output=True, text=True, cwd=ROOT,
            env={**os.environ, "PYTHONPATH": ROOT},
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return r.stdout.strip().splitlines()

    run("corpus", "--output", corpus, "--files", "200")
    line1 = json.loads(run(
        "pipeline", "--input", corpus, "--output", out, "--manifest", man,
        "--buckets", "4", "--layout", "mvcc",
    )[-1])
    assert line1["buckets_processed"] == 4
    line2 = json.loads(run(
        "pipeline", "--input", corpus, "--output", out, "--manifest", man,
        "--buckets", "4", "--layout", "mvcc", "--reprocess", "0",
    )[-1])
    assert line2["operation"] == "backfill"

    snaps = [json.loads(l) for l in run("snapshots", "--manifest", man) if l.startswith("{")]
    assert len(snaps) == 2
    assert snaps[1]["parent_snapshot_id"] == snaps[0]["snapshot_id"]

    exported = str(tmp_path / "asof1.parquet")
    travel = json.loads([l for l in run(
        "travel", "--output", out, "--manifest", man,
        "--snapshot", snaps[0]["snapshot_id"], "--to", exported,
    ) if l.startswith("{")][-1])
    assert travel["rows"] == line1["rows_total"]

    vac = json.loads([l for l in run("vacuum", "--output", out, "--manifest", man) if l.startswith("{")][-1])
    assert vac["removed_runs"] == []  # no crashes -> nothing to remove


def test_cli_pipeline_decontaminate_flag(spark, tmp_path):
    """--decontaminate drops corpus files sharing 5-grams with the
    benchmark parquet, end to end through the CLI (subprocess — the
    in-process main() stops its own SparkSession)."""
    from data_curator_spark.pipeline.corpus import generate_corpus

    corpus = generate_corpus(60, seed=21)
    corpus_path = str(tmp_path / "c.parquet")
    corpus.to_parquet(corpus_path, index=False)
    # benchmark leaks 4 corpus contents verbatim
    bench_path = str(tmp_path / "bench.parquet")
    corpus.iloc[:4][["content"]].to_parquet(bench_path, index=False)

    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "m")
    json.loads(_run(
        "pipeline", "--input", corpus_path, "--output", out_dir,
        "--manifest", manifest, "--buckets", "4",
        "--decontaminate", bench_path,
    ))
    got = spark.read.parquet(out_dir)
    # n_overlap_grams is a stage-internal column (OUTPUT_COLS is the
    # runner's stable schema); the demotion itself is the contract.
    # Only rows the QUALITY gate kept are re-labeled 'contaminated'
    # (already-dropped rows keep their original drop_reason), so the
    # demoted count is <= the 4 leaked docs, >= 1 in practice
    demoted = got.filter("drop_reason = 'contaminated'")
    n_demoted = demoted.count()
    assert 1 <= n_demoted <= 4
    assert demoted.filter("keep").count() == 0
