"""MVCC output layout: snapshot isolation, time travel, backfill,
orphan vacuum — the Iceberg-metadata behaviors on immutable parquet +
the manifest tables."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_curator_spark.pipeline.corpus import write_corpus_parquet
from data_curator_spark.pipeline.mvcc import (
    read_current,
    read_snapshot,
    run_pipeline_mvcc,
    vacuum,
)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("mvcc") / "corpus.parquet")
    write_corpus_parquet(p, 300, seed=7)
    return p


def _sha_set(df):
    return {r["sha256_original"] for r in df.select("sha256_original").collect()}


def test_resume_backfill_time_travel_and_vacuum(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    man = str(tmp_path / "man")

    # run 1: crash after 2 of 4 buckets
    r1 = run_pipeline_mvcc(
        spark, corpus, out, man, n_buckets=4, fail_buckets={2, 3}
    )
    assert r1["buckets_processed"] == 2
    cur1 = read_current(spark, out, man)
    n1 = cur1.count()
    assert n1 > 0

    # run 2: resume completes the remaining buckets
    r2 = run_pipeline_mvcc(spark, corpus, out, man, n_buckets=4)
    assert r2["operation"] == "append-resume"
    cur2 = read_current(spark, out, man)
    assert cur2.count() > n1
    assert cur2.select("bucket").distinct().count() == 4
    # every row resolves to exactly one (run, bucket) version: no dupes
    assert (
        cur2.groupBy("repo", "path").count().filter("count > 1").count() == 0
    )

    # snapshot isolation / time travel: run-2's snapshot sees 4 buckets;
    # run-1's snapshot still sees only its 2
    snap1 = read_snapshot(spark, out, man, r1["snapshot_id"])
    assert set(
        r["bucket"] for r in snap1.select("bucket").distinct().collect()
    ) == set(
        r["bucket"] for r in cur1.select("bucket").distinct().collect()
    )
    assert snap1.count() == n1

    # run 3: BACKFILL bucket 0 under a new run id
    r3 = run_pipeline_mvcc(spark, corpus, out, man, n_buckets=4, reprocess_buckets={0})
    assert r3["operation"] == "backfill"
    cur3 = read_current(spark, out, man)
    # same logical content (the pipeline is deterministic)…
    assert _sha_set(cur3) == _sha_set(cur2)
    assert cur3.groupBy("repo", "path").count().filter("count > 1").count() == 0
    # …but bucket 0 now resolves to run 3's files, while time travel to
    # run 2's snapshot still resolves it to the old version
    b0_run = {
        r["run_id"]
        for r in cur3.filter("bucket = 0").select("run_id").distinct().collect()
    }
    assert b0_run == {r3["run_id"]}
    old_b0_run = {
        r["run_id"]
        for r in read_snapshot(spark, out, man, r2["snapshot_id"])
        .filter("bucket = 0").select("run_id").distinct().collect()
    }
    assert r3["run_id"] not in old_b0_run

    # crash AFTER write, BEFORE commit: readers never see the orphan,
    # vacuum removes exactly that run directory
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline_mvcc(
            spark, corpus, out, man, n_buckets=4,
            reprocess_buckets={1}, crash_before_commit=True,
        )
    orphan_dirs = {
        d.split("=", 1)[1]
        for d in os.listdir(out)
        if d.startswith("run_id=")
    } - {r1["run_id"], r2["run_id"], r3["run_id"]}
    assert len(orphan_dirs) == 1  # the crashed run's files are on disk…
    assert _sha_set(read_current(spark, out, man)) == _sha_set(cur3)  # …invisible
    # the default retention threshold protects a YOUNG unreferenced dir
    # (it could be a live run between write and commit)
    assert vacuum(spark, out, man) == []
    removed = vacuum(spark, out, man, min_age_sec=0)
    assert removed == sorted(orphan_dirs)
    assert not any(
        d == f"run_id={next(iter(orphan_dirs))}" for d in os.listdir(out)
    )
    # vacuum never touches referenced runs
    assert _sha_set(read_current(spark, out, man)) == _sha_set(cur3)


def test_snapshot_diff_changelog(spark, corpus, tmp_path):
    """Net row-level changelog between snapshots: bootstrap is all
    inserts, a resume adds only the new buckets' rows, a deterministic
    rewrite nets to EMPTY, and a real content change emits delete+insert
    pairs that replay one snapshot into the next."""
    from data_curator_spark.pipeline.mvcc import snapshot_diff

    out = str(tmp_path / "out")
    man = str(tmp_path / "man")
    r1 = run_pipeline_mvcc(spark, corpus, out, man, n_buckets=4, fail_buckets={2, 3})
    r2 = run_pipeline_mvcc(spark, corpus, out, man, n_buckets=4)
    r3 = run_pipeline_mvcc(spark, corpus, out, man, n_buckets=4, reprocess_buckets={0})

    # bootstrap: None -> r1 is exactly snapshot-1's content, all inserts
    boot = snapshot_diff(spark, out, man, None, r1["snapshot_id"])
    assert boot.filter("_change_type = 'delete'").count() == 0
    assert _sha_set(boot) == _sha_set(read_snapshot(spark, out, man, r1["snapshot_id"]))

    # incremental: r1 -> r2 is only the resumed buckets, all inserts
    inc = snapshot_diff(spark, out, man, r1["snapshot_id"], r2["snapshot_id"])
    assert inc.filter("_change_type = 'delete'").count() == 0
    assert set(
        r["bucket"] for r in inc.select("bucket").distinct().collect()
    ) == {2, 3}
    # row-multiset check (shas repeat across buckets — the corpus has
    # deliberate duplicate contents): inserts == s2 \ s1 exactly
    inc_rows = inc.drop("_change_type")
    s1 = read_snapshot(spark, out, man, r1["snapshot_id"]).select(*inc_rows.columns)
    s2 = read_snapshot(spark, out, man, r2["snapshot_id"]).select(*inc_rows.columns)
    expected = s2.exceptAll(s1)
    assert inc_rows.exceptAll(expected).count() == 0
    assert expected.exceptAll(inc_rows).count() == 0

    # a deterministic backfill rewrites bucket 0's FILES but not its
    # rows: file churn is not a logical change, the diff must be empty
    assert snapshot_diff(
        spark, out, man, r2["snapshot_id"], r3["snapshot_id"]
    ).count() == 0

    # a REAL content change (backfill bucket 0 from a different corpus)
    corpus2 = str(tmp_path / "corpus2.parquet")
    write_corpus_parquet(corpus2, 220, seed=99)
    r4 = run_pipeline_mvcc(spark, corpus2, out, man, n_buckets=4, reprocess_buckets={0})
    chg = snapshot_diff(spark, out, man, r3["snapshot_id"], r4["snapshot_id"])
    assert set(r["bucket"] for r in chg.select("bucket").distinct().collect()) == {0}
    ins = chg.filter("_change_type = 'insert'").drop("_change_type")
    del_ = chg.filter("_change_type = 'delete'").drop("_change_type")
    assert ins.count() > 0 and del_.count() > 0
    # replay: snapshot3 minus deletes plus inserts == snapshot4
    s3 = read_snapshot(spark, out, man, r3["snapshot_id"]).select(*ins.columns)
    s4 = read_snapshot(spark, out, man, r4["snapshot_id"]).select(*ins.columns)
    replayed = s3.exceptAll(del_).unionByName(ins)
    assert replayed.exceptAll(s4).count() == 0 and s4.exceptAll(replayed).count() == 0

    # scale guard: the changed-bucket scan prunes partitions — unchanged
    # buckets (1,2,3) never appear in the new-side partition filter
    import re

    plan = chg._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    filt = re.findall(r"PartitionFilters: \[(.+?)\]", plan)
    assert filt and all("bucket" in f for f in filt), plan
    bucket_literals = {
        int(v) for f in filt for v in re.findall(r"bucket#\d+ = (\d+)", f)
    }
    assert bucket_literals == {0}, filt


def test_compact_and_expire_snapshots(spark, corpus, tmp_path):
    """compact folds the live selection into one run (content
    unchanged, history still time-travelable); expire_snapshots then
    drops old history and reclaims exactly the runs it unreferenced."""
    from data_curator_spark.pipeline.mvcc import (
        compact,
        expire_snapshots,
        snapshot_diff,
    )
    from data_curator_spark.pipeline.runner import snapshot_lineage

    out = str(tmp_path / "out")
    man = str(tmp_path / "man")
    r1 = run_pipeline_mvcc(spark, corpus, out, man, n_buckets=4, fail_buckets={2, 3})
    r2 = run_pipeline_mvcc(spark, corpus, out, man, n_buckets=4)
    r3 = run_pipeline_mvcc(spark, corpus, out, man, n_buckets=4, reprocess_buckets={1})

    import collections

    def _multiset(df):
        return collections.Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        )

    before = read_current(spark, out, man)
    cols = sorted(c for c in before.columns if c != "run_id")
    before_rows = before.select(*cols)
    before_multiset = _multiset(before_rows)
    c = compact(spark, out, man)
    assert c["operation"] == "compact" and c["runs_compacted"] == 3

    cur = read_current(spark, out, man)
    # one physical run backs the whole live table now
    assert {r["run_id"] for r in cur.select("run_id").distinct().collect()} == {c["run_id"]}
    # …and the content is bit-identical (compaction is not a logical change)
    assert cur.select(*cols).exceptAll(before_rows).count() == 0
    assert before_rows.exceptAll(cur.select(*cols)).count() == 0
    assert snapshot_diff(spark, out, man, r3["snapshot_id"], c["snapshot_id"]).count() == 0
    # pre-compact history still time-travels
    assert read_snapshot(spark, out, man, r1["snapshot_id"]).count() > 0

    # expire all but the compact snapshot: r1/r2/r3 history goes away,
    # their run dirs are reclaimed, current stays intact
    res = expire_snapshots(spark, out, man, keep_last=1)
    assert set(res["expired_snapshots"]) == {
        r1["snapshot_id"], r2["snapshot_id"], r3["snapshot_id"]
    }
    assert set(res["removed_runs"]) == {r1["run_id"], r2["run_id"], r3["run_id"]}
    on_disk = {d.split("=", 1)[1] for d in os.listdir(out) if d.startswith("run_id=")}
    assert on_disk == {c["run_id"]}
    # before_rows' plan references now-DELETED files — compare via the
    # driver-side multiset captured before expiry instead
    after = read_current(spark, out, man)
    assert _multiset(after.select(*cols)) == before_multiset
    with pytest.raises(ValueError, match="unknown snapshot_id"):
        read_snapshot(spark, out, man, r1["snapshot_id"])
    assert snapshot_lineage(spark, man).count() == 1
    # a no-op expiry returns empty and touches nothing
    assert expire_snapshots(spark, out, man, keep_last=5) == {
        "expired_snapshots": [], "removed_runs": [],
    }
    # the manifest still resumes correctly after expiry (all buckets done)
    r5 = run_pipeline_mvcc(spark, corpus, out, man, n_buckets=4)
    assert r5["buckets_processed"] == 0 or r5["buckets_skipped"] == 4


def test_mvcc_matches_overwrite_runner_content(spark, corpus, tmp_path):
    """Both layouts must express the same logical table."""
    from data_curator_spark.pipeline.runner import run_pipeline

    out_a = str(tmp_path / "a_out"); man_a = str(tmp_path / "a_man")
    out_b = str(tmp_path / "b_out"); man_b = str(tmp_path / "b_man")
    run_pipeline(spark, corpus, out_a, man_a, n_buckets=4)
    run_pipeline_mvcc(spark, corpus, out_b, man_b, n_buckets=4)
    a = spark.read.parquet(out_a)
    b = read_current(spark, out_b, man_b)
    cols = [c for c in a.columns if c != "bucket"]
    ha = a.select(*cols).exceptAll(b.select(*cols)).count()
    hb = b.select(*cols).exceptAll(a.select(*cols)).count()
    assert ha == 0 and hb == 0


def test_selection_scan_prunes_partitions(spark, corpus, tmp_path):
    """The manifest-resolved read must show partition filters on
    run_id/bucket in the scan (directory pruning, not a post-scan
    filter over every historical version)."""
    out = str(tmp_path / "out"); man = str(tmp_path / "man")
    run_pipeline_mvcc(spark, corpus, out, man, n_buckets=4)
    run_pipeline_mvcc(spark, corpus, out, man, n_buckets=4, reprocess_buckets={0, 1})
    cur = read_current(spark, out, man)
    plan = cur._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    # the partition filter actually references the partition columns
    import re

    m = re.search(r"PartitionFilters: \[(.+?)\]", plan)
    assert m and "run_id" in m.group(1) and "bucket" in m.group(1), plan


def test_expire_crash_between_rewrites_fails_safe(spark, corpus, tmp_path, monkeypatch):
    """Review r3b: the snapshots table must be rewritten BEFORE the
    entries table — a crash between the two rewrites then leaves
    expired ids unknown (loud) instead of time-travelable over pruned
    entries (silently empty)."""
    import data_curator_spark.pipeline.mvcc as mvcc_mod
    from data_curator_spark.pipeline.mvcc import expire_snapshots

    out = str(tmp_path / "out")
    man = str(tmp_path / "man")
    r1 = run_pipeline_mvcc(spark, corpus, out, man, n_buckets=2, fail_buckets={1})
    r2 = run_pipeline_mvcc(spark, corpus, out, man, n_buckets=2)
    cur = {r["sha256_original"] for r in read_current(spark, out, man).collect()}

    real = mvcc_mod._swap_rewrite
    calls = {"n": 0}

    def crash_on_second(*args):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash between manifest rewrites")
        return real(*args)

    monkeypatch.setattr(mvcc_mod, "_swap_rewrite", crash_on_second)
    with pytest.raises(RuntimeError, match="injected crash"):
        expire_snapshots(spark, out, man, keep_last=1)

    # expired snapshot is GONE (loud failure on time travel)...
    with pytest.raises(ValueError, match="unknown snapshot_id"):
        read_snapshot(spark, out, man, r1["snapshot_id"])
    # ...while current state and the kept snapshot are fully intact
    # (the un-pruned extra entries change no per-bucket winner)
    assert {
        r["sha256_original"] for r in read_current(spark, out, man).collect()
    } == cur
    assert read_snapshot(spark, out, man, r2["snapshot_id"]).count() == len(
        read_current(spark, out, man).collect()
    )


def test_expire_keeps_a_later_manifest_column(spark, corpus, tmp_path):
    """Expiry rewrites each manifest table with the schema it was read
    with: a column that only a later writer's files carry survives,
    null on the rows written before it."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_curator_spark.pipeline.mvcc import expire_snapshots
    from data_curator_spark.pipeline.runner import ENTRIES_ARROW, write_manifest_file

    out = str(tmp_path / "out")
    man = str(tmp_path / "man")
    r1 = run_pipeline_mvcc(spark, corpus, out, man, n_buckets=2, fail_buckets={1})
    run_pipeline_mvcc(spark, corpus, out, man, n_buckets=2)
    # a non-'done' row changes no bucket's winner; newer than every
    # snapshot, it is kept by expiry
    later = ENTRIES_ARROW.append(pa.field("note", pa.string()))
    write_manifest_file(f"{man}/entries", pa.Table.from_pylist([dict(
        run_id="rlater", bucket=0, rows=0, kept=0, dropped=0, scrubbed=0,
        status="failed", elapsed_sec=0.0, committed_at=time.time(), note="later",
    )], later))

    assert expire_snapshots(spark, out, man, keep_last=1)["expired_snapshots"] == [r1["run_id"]]
    entries = pq.read_table(f"{man}/entries").to_pylist()
    assert {e["run_id"]: e["note"] for e in entries if e["note"]} == {"rlater": "later"}
    assert len(entries) == 3


def test_swap_rewrite_crash_recovery(spark, corpus, tmp_path):
    """ADVICE r3: a crash BETWEEN _swap_rewrite's two renames leaves the
    manifest table absent with only <path>__old on disk. Every manifest
    read (and a retried expire) must auto-recover by renaming __old back
    — no human intervention, no AnalysisException."""
    import os

    from data_curator_spark.pipeline.mvcc import expire_snapshots

    out = str(tmp_path / "out")
    man = str(tmp_path / "man")
    run_pipeline_mvcc(spark, corpus, out, man, n_buckets=2, fail_buckets={1})
    run_pipeline_mvcc(spark, corpus, out, man, n_buckets=2)
    cur = {r["sha256_original"] for r in read_current(spark, out, man).collect()}

    # simulate the crash window: snapshots table renamed away, not yet
    # replaced (exactly the state after _swap_rewrite's first rename)
    snaps = os.path.join(man, "snapshots")
    os.rename(snaps, snaps + "__old")

    # any manifest read self-heals via _recover_swap
    assert os.path.isdir(snaps) is False
    recovered = expire_snapshots(spark, out, man, keep_last=1)
    assert os.path.isdir(snaps), "snapshots table not recovered from __old"
    assert recovered["expired_snapshots"]  # expire proceeded normally
    assert {
        r["sha256_original"] for r in read_current(spark, out, man).collect()
    } == cur


def test_vacuum_aborts_on_non_missing_read_failure(spark, corpus, tmp_path):
    """ADVICE r3: only a MISSING manifest may downgrade vacuum to
    no-references; any other read failure must abort instead of treating
    every committed run as an orphan and deleting live data."""
    import os

    from data_curator_spark.pipeline.mvcc import vacuum

    out = str(tmp_path / "out")
    man = str(tmp_path / "man")
    run_pipeline_mvcc(spark, corpus, out, man, n_buckets=2)
    live = [n for n in os.listdir(out) if n.startswith("run_id=")]
    assert live

    # corrupt the entries table: parquet footer garbage -> read fails
    # with something OTHER than a missing-path AnalysisException
    entries = os.path.join(man, "entries")
    victims = [f for f in os.listdir(entries) if f.endswith(".parquet")]
    for v in victims:
        with open(os.path.join(entries, v), "wb") as fh:
            fh.write(b"not a parquet file")

    import pytest as _pytest

    with _pytest.raises(Exception) as exc:
        vacuum(spark, out, man, min_age_sec=0)
    assert not isinstance(exc.value, AssertionError)
    # nothing was deleted
    assert [n for n in os.listdir(out) if n.startswith("run_id=")] == live
