"""MVCC (snapshot) output layout for the quality-filter pipeline.

Both layouts run through the runner's one plan → write → commit core
(pipeline/runner.py: ``run_buckets`` → ``commit_run``) and differ only
in the sink. The overwrite sink keeps ONE physical copy of each bucket
via dynamic partition overwrite — cheap, idempotent, but history-less.
This module's sink, ``_append_run``, is the Iceberg-faithful
alternative: data files are IMMUTABLE (every run appends under its own
``run_id=`` partition) and the manifest decides which (run_id, bucket)
pairs a reader sees. That buys, exactly like Iceberg's metadata architecture:

- **snapshot isolation**: a reader resolves its (run_id, bucket) set
  from the manifest once; concurrent writers appending new run
  partitions can never tear its view;
- **time travel**: ``read_snapshot`` replays the manifest as of any
  recorded snapshot — old bucket versions are still on disk;
- **crash consistency without overwrite**: a run that died between
  write and manifest commit leaves an unreferenced ``run_id=``
  directory; readers never see it, and ``vacuum`` deletes it (Iceberg's
  orphan-file cleanup analog);
- **backfill/repair**: ``reprocess_buckets`` re-runs chosen buckets
  under a new run_id — the manifest flips those buckets to the new
  version atomically-per-bucket, and the old version stays readable
  through earlier snapshots;
- **incremental/changelog reads**: ``snapshot_diff`` emits the net
  insert/delete rows between two snapshots, scanning only the buckets
  whose selected run changed (Iceberg changelog-scan analog);
- **maintenance**: ``compact`` folds a fragmented live selection into
  one run (rewrite_data_files analog), ``expire_snapshots`` drops old
  history and reclaims exactly the runs it unreferenced, ``vacuum``
  removes never-committed orphans.

Scale notes: the reader's (run_id, bucket) selection is collected from
the manifest (≤ n_buckets rows) and compiled into a partition-literal
predicate, so the scan PRUNES to exactly the selected directories — no
join against the data, no full listing of dead versions. Storage grows
with history until vacuum/expiry, the same trade Iceberg makes.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_curator_spark.pipeline.runner import (
    ENTRIES_ARROW,
    OUTPUT_COLS,
    SNAPSHOTS_ARROW,
    _entries_path,
    _recover_swap,
    _snapshots_path,
    commit_run,
    latest_entries,
    local_path,
    read_manifest,
    run_buckets,
    write_manifest_file,
)


def _read_data(
    spark: SparkSession,
    output_path: str,
    pairs: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Data-table read for paths that may span runs written by DIFFERENT
    code versions (read_current / read_snapshot / snapshot_diff):
    mergeSchema unions the runs' parquet schemas instead of sampling
    one footer, so a column added by a pipeline upgrade (e.g.
    secret_entropy) is visible regardless of which file the sampler
    hits; pre-upgrade rows read it as null. NOTE: a bucket REWRITTEN
    after such an upgrade nets a non-empty snapshot_diff even for
    byte-identical content — the new columns ARE a logical change.

    Schema inference under mergeSchema reads EVERY discovered footer,
    BEFORE partition pruning — so when the selection is known, the read
    is scoped to the SELECTED run directories (basePath keeps the
    run_id/bucket partition columns): footer cost is O(live selection),
    not O(every file ever written), on a long-lived MVCC table whose
    history grows a full copy per rewrite."""
    if pairs:
        run_dirs = sorted({f"{output_path}/run_id={r}" for r, _ in pairs})
        return (
            spark.read.option("mergeSchema", "true")
            .option("basePath", output_path)
            .parquet(*run_dirs)
        )
    return spark.read.option("mergeSchema", "true").parquet(output_path)


def _selection_predicate(pairs: list[tuple[str, int]]):
    """(run_id, bucket) pairs → a partition-literal predicate Spark can
    prune directories with. Grouped per run_id so the expression is
    O(#runs) clauses, not O(#buckets)."""
    by_run: dict[str, list[int]] = {}
    for run_id, bucket in pairs:
        by_run.setdefault(run_id, []).append(bucket)
    pred = F.lit(False)
    for run_id, buckets in sorted(by_run.items()):
        pred = pred | (
            (F.col("run_id") == run_id) & F.col("bucket").isin(sorted(buckets))
        )
    return pred


def _append_run(
    spark: SparkSession, result: DataFrame, run_id: str, output_path: str
) -> DataFrame:
    """The MVCC layout's sink (``runner.Sink``). IMMUTABLE write: append
    ``result`` under this run's partition — never touches other runs'
    files, so no overwrite mode gymnastics and no torn reads for
    concurrent manifest-resolved readers. Returns the
    run's files read back with the written schema (no inference job)."""
    out = result.withColumn("run_id", F.lit(run_id))
    (
        out.sortWithinPartitions("bucket", "repo", "path")
        .write.partitionBy("run_id", "bucket")
        .mode("append")
        .parquet(output_path)
    )
    return spark.read.schema(out.schema).parquet(output_path).filter(F.col("run_id") == run_id)


def _pairs(latest: dict) -> list[tuple[str, int]]:
    """A manifest plan (latest entry per bucket) as (run_id, bucket)."""
    return [(e["run_id"], b) for b, e in sorted(latest.items())]


def _current_pairs(spark: SparkSession, manifest_path: str) -> list[tuple[str, int]]:
    return _pairs(latest_entries(spark, manifest_path))


def _read_selection(
    spark: SparkSession, output_path: str, pairs: list[tuple[str, int]]
) -> DataFrame:
    df = _read_data(spark, output_path, pairs)
    return df.filter(_selection_predicate(pairs)) if pairs else df.limit(0)


def read_current(spark: SparkSession, output_path: str, manifest_path: str) -> DataFrame:
    """The table's CURRENT state: latest committed version of every
    bucket, resolved from the manifest, partition-pruned scan."""
    return _read_selection(spark, output_path, _current_pairs(spark, manifest_path))


def _pairs_as_of(
    spark: SparkSession, manifest_path: str, snapshot_id: str
) -> list[tuple[str, int]]:
    """The (run_id, bucket) selection as of ``snapshot_id`` — entries
    committed after that snapshot are invisible, so buckets rewritten
    since then resolve to the version the snapshot saw."""
    snap = read_manifest(
        _snapshots_path(manifest_path), SNAPSHOTS_ARROW, ["committed_at"],
        ds.field("snapshot_id") == snapshot_id,
    )
    if not snap.num_rows:
        raise ValueError(f"unknown snapshot_id {snapshot_id!r}")
    cutoff = snap["committed_at"][0].as_py()
    return _pairs(latest_entries(spark, manifest_path, committed_by=cutoff))


def read_snapshot(
    spark: SparkSession, output_path: str, manifest_path: str, snapshot_id: str
) -> DataFrame:
    """Time travel: the table as of ``snapshot_id``."""
    return _read_selection(spark, output_path, _pairs_as_of(spark, manifest_path, snapshot_id))


def snapshot_diff(
    spark: SparkSession,
    output_path: str,
    manifest_path: str,
    from_snapshot: str | None,
    to_snapshot: str | None = None,
) -> DataFrame:
    """NET row-level changelog between two snapshots (Iceberg
    incremental/changelog read analog): rows present at ``to`` but not
    at ``from`` come back with ``_change_type = 'insert'``, rows present
    at ``from`` but gone at ``to`` with ``'delete'`` (an updated row is
    a delete + insert pair). ``from_snapshot=None`` means "before the
    table existed" — every row is an insert, the bootstrap of an
    incremental consumer. ``to_snapshot=None`` means current.

    Scale shape: versions are immutable per (run_id, bucket), so a
    bucket whose selected run is THE SAME at both endpoints cannot have
    changed — it is excluded before any file is opened. Both scans are
    partition-literal pruned to the changed buckets only, and the
    ``exceptAll`` pair shuffles just those buckets' rows, not the table.
    A backfill that rewrote a bucket to identical content (deterministic
    reprocess) therefore nets to an EMPTY diff — copy-on-write file
    churn is not a logical change, same as Iceberg's changelog scan.
    """
    from_map = dict(
        (b, r)
        for r, b in (
            _pairs_as_of(spark, manifest_path, from_snapshot) if from_snapshot else []
        )
    )
    to_map = dict(
        (b, r)
        for r, b in (
            _pairs_as_of(spark, manifest_path, to_snapshot)
            if to_snapshot
            else _current_pairs(spark, manifest_path)
        )
    )
    changed = {b for b in from_map.keys() | to_map.keys() if from_map.get(b) != to_map.get(b)}
    old_pairs = [(from_map[b], b) for b in sorted(changed) if b in from_map]
    new_pairs = [(to_map[b], b) for b in sorted(changed) if b in to_map]

    # scope the footer-merging read to BOTH endpoints' changed runs;
    # the empty-diff case still needs a schema, so fall back to the
    # full-path read only when no pair is selected on either side
    base = _read_data(spark, output_path, old_pairs + new_pairs)
    cols = ["bucket", *[c for c in OUTPUT_COLS if c in base.columns]]

    def _side(pairs: list[tuple[str, int]]) -> DataFrame:
        if not pairs:
            return base.select(*cols).limit(0)
        return base.filter(_selection_predicate(pairs)).select(*cols)

    old, new = _side(old_pairs), _side(new_pairs)
    return (
        new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        .unionByName(old.exceptAll(new).withColumn("_change_type", F.lit("delete")))
        .select("_change_type", *cols)
    )


def compact(
    spark: SparkSession, output_path: str, manifest_path: str
) -> dict:
    """Rewrite the table's CURRENT selection under one new run_id
    (Iceberg ``rewrite_data_files`` analog). After many resumes and
    backfills the live table is scattered across run directories — a
    reader's selection predicate grows one clause per live run, and
    each run partition holds only a slice of the buckets. Compaction
    folds them into a single run (one predicate clause, contiguous
    files per bucket) and commits a ``compact`` snapshot; the OLD
    versions stay time-travelable until ``expire_snapshots`` reclaims
    them, exactly like Iceberg's rewrite + expire split.

    Scale shape: one partition-pruned scan of the live selection, one
    sorted write — no shuffle beyond the write's ``sortWithinPartitions``
    — committed through the runner's ``commit_run``, the same
    observe-gated path as a normal run.
    """
    t0 = time.time()
    latest = latest_entries(spark, manifest_path)
    if not latest:
        raise ValueError("compact: empty manifest — nothing to compact")
    pairs = _pairs(latest)
    current = _read_selection(spark, output_path, pairs).drop("run_id")
    result = current.select("bucket", *[c for c in OUTPUT_COLS if c in current.columns])
    out = commit_run(
        spark, output_path, manifest_path, _append_run, result, sorted(latest), 0,
        latest, "compact", t0,
    )
    return {**out, "runs_compacted": len({r for r, _ in pairs}), "buckets": len(latest)}


def _swap_rewrite(table: pa.Table, path: str) -> None:
    """Rewrite a (driver-small) manifest table via write-to-temp + rename
    swap instead of a delete-then-write overwrite — a crash mid-
    overwrite would leave NO manifest at all, while a crash between the
    two renames here leaves the old table recoverable at ``<path>__old``.
    On an object store this becomes the catalog's conditional metadata
    swap (the same contract real Iceberg gets from its catalog)."""
    # a previous crash between the two renames leaves only <path>__old;
    # restore it first so the rewrite starts from a consistent table
    _recover_swap(path)
    local = local_path(path)
    tmp, old = f"{local}__tmp", f"{local}__old"
    for stale in (tmp, old):
        if os.path.isdir(stale):
            shutil.rmtree(stale)
    write_manifest_file(tmp, table)
    os.rename(local, old)
    os.rename(tmp, local)
    shutil.rmtree(old)


def expire_snapshots(
    spark: SparkSession,
    output_path: str,
    manifest_path: str,
    keep_last: int = 1,
) -> dict:
    """Drop all but the newest ``keep_last`` snapshots and reclaim the
    data files only they referenced (Iceberg ``expire_snapshots``). The
    complement of ``vacuum``: vacuum removes never-committed orphans,
    expire removes history that policy says nobody may time-travel to
    anymore.

    Entry retention rule: a kept snapshot S resolves each bucket to the
    newest 'done' entry with ``committed_at <= S.cutoff``. Keeping (a)
    every entry newer than the OLDEST kept snapshot's cutoff plus (b)
    the entries that oldest kept snapshot itself selects is sufficient
    for every kept snapshot — any newer snapshot's winner for a bucket
    is either in (a) or coincides with (b).

    Both manifest tables are driver-small by design (runs × buckets
    rows), so the rewrite reads and re-writes them with Arrow on the
    driver; on an object store this becomes a conditional metadata swap.
    """
    if keep_last < 1:
        raise ValueError("expire_snapshots: keep_last must be >= 1")
    snaps = read_manifest(_snapshots_path(manifest_path), SNAPSHOTS_ARROW).sort_by(
        [("committed_at", "ascending"), ("snapshot_id", "ascending")]
    )
    n_expired = max(snaps.num_rows - keep_last, 0)
    if not n_expired:
        return {"expired_snapshots": [], "removed_runs": []}
    oldest_kept = snaps.slice(n_expired, 1).to_pylist()[0]
    keep_pairs = set(_pairs_as_of(spark, manifest_path, oldest_kept["snapshot_id"]))

    entries = read_manifest(_entries_path(manifest_path), ENTRIES_ARROW)
    entry_rows = entries.to_pylist()
    live = [
        i
        for i, r in enumerate(entry_rows)
        if r["committed_at"] > oldest_kept["committed_at"]
        or (r["run_id"], int(r["bucket"])) in keep_pairs
    ]
    # both tables are rewritten with the schemas they were READ with
    # (never a hardcoded copy — a manifest column added later must
    # survive expiry untouched)
    # snapshots rewrite FIRST: a crash between the two rewrites then
    # fails SAFE — the expired snapshot ids are already gone (readers
    # get 'unknown snapshot_id', never a silently-partial time travel),
    # while the extra not-yet-pruned entries are harmless: every
    # surviving snapshot's per-bucket winner is unchanged by older rows.
    # The reverse order would leave expired snapshots readable over
    # already-pruned entries = silently empty/wrong content.
    _swap_rewrite(snaps.slice(n_expired), _snapshots_path(manifest_path))
    _swap_rewrite(entries.take(live), _entries_path(manifest_path))

    # reclaim EXACTLY the runs this expiry unreferenced (was-referenced
    # minus still-referenced) — never a blanket orphan sweep, so an
    # in-flight writer's written-but-uncommitted run directory is safe
    was_referenced = {r["run_id"] for r in entry_rows}
    still_referenced = {entry_rows[i]["run_id"] for i in live}
    root = local_path(output_path)
    removed: list[str] = []
    for run_id in sorted(was_referenced - still_referenced):
        full = os.path.join(root, f"run_id={run_id}")
        if os.path.isdir(full):
            shutil.rmtree(full)
            removed.append(run_id)
    return {
        "expired_snapshots": snaps["snapshot_id"].slice(0, n_expired).to_pylist(),
        "removed_runs": removed,
    }


def vacuum(
    spark: SparkSession,
    output_path: str,
    manifest_path: str,
    min_age_sec: float = 24 * 3600,
) -> list[str]:
    """Delete run partitions no manifest entry references (crashed runs
    that wrote data but never committed — Iceberg orphan-file cleanup).
    Returns the removed run_ids. Local-filesystem implementation; on an
    object store this is a driver-side listing + batched deletes.

    ``min_age_sec`` is the retention threshold (Iceberg's orphan cleanup
    has the same knob, for the same reason): a LIVE run sits
    unreferenced between its data write and its manifest commit, so
    deleting young directories would destroy an in-flight run's data
    right before it commits pointers to them. Only directories older
    than the threshold — far longer than any write→commit gap — are
    eligible. Pass 0 only when no writer can be running (tests,
    single-writer maintenance windows)."""
    try:
        referenced = set(
            read_manifest(_entries_path(manifest_path), ENTRIES_ARROW, ["run_id"])
            .column("run_id").to_pylist()
        )
    except FileNotFoundError:  # no manifest yet: everything is orphan-free
        referenced = set()
    # any OTHER failure (corrupt footer, transient FS/Py4J error,
    # permissions) must ABORT the vacuum: proceeding with an empty
    # referenced set would make every committed run look unreferenced
    # and delete live data from a cleanup command
    removed: list[str] = []
    root = local_path(output_path)
    if not os.path.isdir(root):
        return removed
    now = time.time()
    for name in sorted(os.listdir(root)):
        if not name.startswith("run_id="):
            continue
        run_id = name.split("=", 1)[1]
        full = os.path.join(root, name)
        if run_id not in referenced and now - os.path.getmtime(full) >= min_age_sec:
            shutil.rmtree(full)
            removed.append(run_id)
    return removed


def run_pipeline_mvcc(
    spark: SparkSession, input_path: str, output_path: str, manifest_path: str,
    n_buckets: int = 64, **opts,
) -> dict:
    """Run, resume or backfill the pipeline with the MVCC layout:
    ``runner.run_buckets`` (which takes ``opts``) with the
    ``_append_run`` sink. A backfill's (``reprocess_buckets``) old
    bucket versions stay time-travelable; ``crash_before_commit``
    leaves an orphan run directory that readers never see and
    ``vacuum`` removes."""
    return run_buckets(
        spark, input_path, output_path, manifest_path, _append_run, n_buckets, **opts
    )
