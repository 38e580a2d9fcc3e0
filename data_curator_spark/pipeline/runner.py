"""End-to-end quality-filter pipeline runner with lineage + resume.

One core, two sinks: ``run_buckets`` plans a run from the manifest and
``commit_run`` writes and commits it, as Iceberg's append, overwrite
and rewrite all commit through one snapshot producer. The output
layout is a sink function: ``_overwrite_buckets`` here (``run_pipeline``:
one physical copy of each bucket) or ``mvcc._append_run``
(``run_pipeline_mvcc`` and ``mvcc.compact``: immutable run partitions).

- **Salted buckets**: ``pmod(xxhash64(repo, path), n_buckets)`` — path
  participates so a mega-repo's files spread over all buckets instead
  of hot-spotting one partition.
- **Lineage manifest (Iceberg analog, two tables)**: ``entries/`` holds
  one row per committed bucket with counts/timings (Iceberg's manifest
  entries), ``snapshots/`` one row per run with its parent snapshot and
  summary counts (the snapshot log). A restart skips the committed
  buckets — the distributed rewrite of the reference's per-identifier
  log-and-continue loop (data_curator.py:177-213). As Iceberg commits
  metadata files through its FileIO, the DRIVER commits every manifest
  append with Arrow: one parquet file under a hidden
  ``.part-<uuid>.parquet`` name, atomically renamed into view, so no
  Spark job reads or writes the manifest and a crash before the rename
  leaves only a file every reader skips. No Iceberg catalog is used
  (BASELINE.md); ``writeTo(...).append()`` would be one more sink, not
  a redesign.
- **Idempotent bucket rewrites**: the overwrite sink writes with dynamic
  partition overwrite, so a bucket that was written but not committed
  (crash in the gap) is simply REPLACED on resume — no duplicate rows,
  no cleanup pass.
- **Manifest planned on the driver**: a run reads ``entries/`` once
  with Arrow (``status = 'done'`` pushed into the scan) and reduces it
  to the latest entry per bucket: the committed buckets, the MVCC
  selection and the run totals. Per-bucket metrics come from a
  partition-pruned read of ONLY the just-written buckets, so a resume
  never re-reads completed output. The input is read with the declared
  ``CORPUS_SCHEMA`` (``read_corpus``), so a no-op re-submit runs no
  Spark job at all and commits only a snapshot row.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Callable, Iterable
from typing import Any

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_curator_spark.engine.cache import cache_scope
from data_curator_spark.pipeline.stages import run_stages

OUTPUT_COLS = [
    "repo", "path", "commit", "lang", "content_scrubbed",
    "keep", "drop_reason", "scrub_rules_fired",
    "sha256_original", "sha256_scrubbed",
    "lang_pred", "langid_margin", "log_ppl",
    "n_chars", "n_lines", "max_line_len", "avg_line_len",
    "alnum_ratio", "digit_ratio", "distinct_line_ratio",
    "b64_blob_chars", "hex_blob_chars", "autogen_head", "compress_ratio",
    "secret_entropy", "mojibake_chars", "comment_chars",
]

# The declared input table: the columns generate_corpus writes and the
# stages read. Extra input columns are not read (OUTPUT_COLS drops them).
CORPUS_SCHEMA = "repo STRING, path STRING, commit STRING, lang STRING, content STRING"
CORPUS_COLUMNS = [f.split()[0] for f in CORPUS_SCHEMA.split(", ")]

# the runner's output projection as SQL text: a select of column names
# costs about four py4j round trips per name, a selectExpr one
_OUTPUT_SQL = [f"`{c}`" for c in ("bucket", *OUTPUT_COLS)]

# 100-TB resume granularity: a lost bucket re-runs 1/n_buckets of the
# input, so the default is sized for cluster-scale inputs (a 100 TB
# corpus re-runs ~400 GB per lost bucket at 256), while staying cheap on
# small runs (metrics aggregate is per-bucket, not per-row)
DEFAULT_N_BUCKETS = 256


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Salted bucket id: hash includes path so mega-repos spread."""
    return df.withColumn("bucket", F.expr(f"pmod(xxhash64(repo, path), {int(n_buckets)})"))


def read_corpus(
    spark: SparkSession, path: str, columns: list[str] | None = None
) -> DataFrame:
    """The one reader of a corpus table: ``path`` read with
    ``CORPUS_SCHEMA`` (or the subset ``columns`` of it), so no Spark job
    infers the schema.

    Raises ``ValueError`` naming each declared column that the first
    input file lacks or does not store as a string: a declared-schema
    read would fill a missing column with NULLs, and would read an
    unannotated BINARY column as STRING. The check reads that file's
    parquet footer (the one Spark's schema inference read) on the
    driver, with no Spark job."""
    cols = columns or CORPUS_COLUMNS
    df = spark.read.schema(", ".join(f"`{c}` STRING" for c in cols)).parquet(path)
    files = df._jdf.inputFiles()  # a Java array: fetch only the first path
    if len(files):
        footer = pq.read_schema(files[0])
        bad = {}
        for c in cols:
            if c not in footer.names:
                bad[c] = "missing"
            elif not pa.types.is_string(t := footer.field(c).type) and not pa.types.is_large_string(t):
                bad[c] = str(t)
        if bad:
            raise ValueError(f"{files[0]}: declared STRING column(s) missing or mistyped: {bad}")
    return df


def stage_output(df: DataFrame, spark: SparkSession, **stage_opts) -> DataFrame:
    """``run_stages`` over the bucketed input, projected to the runner's
    output schema (``bucket`` + OUTPUT_COLS); shared by both layouts."""
    return run_stages(df, spark, **stage_opts).selectExpr(*_OUTPUT_SQL)


ENTRIES_SCHEMA = (
    "run_id string, bucket bigint, rows long, kept long, dropped long, "
    "scrubbed long, status string, elapsed_sec double, committed_at double"
)
SNAPSHOTS_SCHEMA = (
    "snapshot_id string, parent_snapshot_id string, operation string, "
    "buckets_processed int, buckets_skipped int, rows_total long, "
    "rows_kept long, committed_at double"
)
# the narrow entry columns the driver-side plan needs
_PLAN_COLS = ["bucket", "committed_at", "run_id", "rows", "kept"]

_ARROW_TYPES = {
    "string": pa.string(), "int": pa.int32(), "bigint": pa.int64(),
    "long": pa.int64(), "double": pa.float64(),
}


def _arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow twin of a flat ``name type, ...`` DDL string, so each
    manifest schema is declared once."""
    return pa.schema(
        [(name, _ARROW_TYPES[typ]) for name, typ in (f.split() for f in ddl.split(","))]
    )


ENTRIES_ARROW = _arrow_schema(ENTRIES_SCHEMA)
SNAPSHOTS_ARROW = _arrow_schema(SNAPSHOTS_SCHEMA)


def bucket_in(buckets: Iterable[int]) -> str:
    """SQL predicate: ``bucket`` is one of ``buckets``."""
    return f"bucket IN ({', '.join(str(int(b)) for b in buckets)})"


def new_run_id() -> str:
    # "r" prefix: a bare hex id like "8463e2231577" parses as a DOUBLE
    # in scientific notation, and when EVERY run_id= directory name is
    # number-parseable, partition-type inference flips the column to
    # DOUBLE and string comparisons throw under ANSI (observed flake)
    return "r" + uuid.uuid4().hex[:11]


def _entries_path(manifest_root: str) -> str:
    return f"{manifest_root}/entries"


def _snapshots_path(manifest_root: str) -> str:
    return f"{manifest_root}/snapshots"


def local_path(path: str) -> str:
    """The driver-visible filesystem path behind a ``file:`` URI — the
    manifest is read and committed with driver file I/O."""
    return path[len("file:"):] if path.startswith("file:") else path


def _recover_swap(path: str) -> None:
    """Crash recovery for mvcc's ``_swap_rewrite``: a crash between its
    two renames leaves the table ABSENT at ``path`` with only
    ``<path>__old`` on disk. Rename the old table back into place so
    every reader — and a retried expire — proceeds automatically
    instead of failing until a human intervenes."""
    local = local_path(path)
    old = f"{local}__old"
    if not os.path.exists(local) and os.path.isdir(old):
        os.rename(old, local)


def read_manifest(
    path: str, schema: pa.Schema, columns: list[str] | None = None, filter=None
) -> pa.Table:
    """Read one manifest table on the driver with Arrow — no Spark job.
    A crashed swap-rewrite is healed first. Hidden ``.part-*`` files
    (an append that died before its rename) are skipped, as Spark skips
    them. ``schema`` leads; a column a later writer added to some files
    follows it, null where absent, so a rewrite of the table as read
    keeps it. Raises FileNotFoundError while the table does not exist."""
    _recover_swap(path)
    files = ds.dataset(local_path(path), format="parquet")
    full = pa.unify_schemas([schema, *(f.physical_schema for f in files.get_fragments())])
    return files.replace_schema(full).to_table(columns=columns, filter=filter)


def write_manifest_file(path: str, table: pa.Table) -> None:
    """Commit ``table`` as ONE new parquet file of the manifest table at
    ``path`` (Iceberg's FileIO commit of a metadata file): written under
    a hidden ``.part-<uuid>.parquet`` name, then atomically renamed into
    view, so a reader sees the whole file or none of it."""
    local = local_path(path)
    os.makedirs(local, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    hidden = os.path.join(local, f".{name}")
    pq.write_table(table, hidden)
    os.replace(hidden, os.path.join(local, name))


def latest_per_bucket(entries: Iterable) -> dict[int, Any]:
    """One entry per bucket: the most recently committed one wins (a
    bucket can be legitimately rewritten after a crash in the
    write→commit gap — dynamic partition overwrite makes the rewrite
    idempotent, and this picks the matching lineage row). Order:
    ``committed_at`` desc, then ``run_id`` desc — the deterministic
    tie-break, since committed_at is a driver time.time() float and two
    runs inside clock resolution (or after a backwards clock step) would
    otherwise pick a nondeterministic lineage row."""
    latest: dict[int, Any] = {}
    for e in entries:
        b = int(e["bucket"])
        cur = latest.get(b)
        if cur is None or (e["committed_at"], e["run_id"]) > (cur["committed_at"], cur["run_id"]):
            latest[b] = e
    return latest


def latest_entries(
    spark: SparkSession, manifest_root: str, committed_by: float | None = None
) -> dict[int, Any]:
    """Plan the manifest on the driver: ONE Arrow read of ``entries/``
    that scans the narrow columns of the 'done' rows (≤ n_buckets × runs)
    and reduces them to the latest entry per bucket. ``committed_by``
    hides entries committed after that time (time travel). ``spark`` is
    unused; callers keep one signature for every manifest helper."""
    done = ds.field("status") == "done"
    if committed_by is not None:
        done &= ds.field("committed_at") <= committed_by
    try:
        m = read_manifest(_entries_path(manifest_root), ENTRIES_ARROW, _PLAN_COLS, done)
    except FileNotFoundError:  # first run: no manifest yet
        return {}
    return latest_per_bucket(m.to_pylist())


def completed_buckets(spark: SparkSession, manifest_root: str) -> list[int]:
    return sorted(latest_entries(spark, manifest_root))


def latest_snapshot_id(spark: SparkSession, manifest_root: str) -> str | None:
    """Most recent snapshot id, or None on a fresh manifest — the parent
    pointer for the next run's snapshot row (Iceberg snapshot-log
    analog). Order: ``committed_at`` desc, then ``snapshot_id`` desc."""
    try:
        s = read_manifest(
            _snapshots_path(manifest_root), SNAPSHOTS_ARROW, ["committed_at", "snapshot_id"]
        ).to_pydict()
    except FileNotFoundError:
        return None
    return max(zip(s["committed_at"], s["snapshot_id"]), default=(None, None))[1]


def snapshot_lineage(spark: SparkSession, manifest_root: str) -> DataFrame:
    """The snapshot chain (snapshot_id, parent_snapshot_id, operation,
    summary counts, committed_at) — Iceberg's snapshot history analog,
    as a Spark DataFrame for the CLI."""
    return spark.read.schema(SNAPSHOTS_SCHEMA).parquet(_snapshots_path(manifest_root))


def attach_lineage_observation(result: DataFrame, run_id: str):
    """Attach the run-level lineage totals to the WRITE pass (3
    aggregate expressions via observe — no second job, no output
    re-read)."""
    observation = Observation(f"lineage_{run_id}")
    observed = result.observe(
        observation,
        F.expr("count(1) AS `rows`"),
        F.expr("sum(CAST(keep AS BIGINT)) AS `kept`"),
        F.expr("sum(CAST(size(scrub_rules_fired) > 0 AS BIGINT)) AS `scrubbed`"),
    )
    return observation, observed


def commit_bucket_metrics(
    observation: Observation,
    written_new: DataFrame,
    new_buckets: list[int],
    run_id: str,
    t0: float,
    manifest_path: str,
) -> list[dict]:
    """Per-bucket lineage rows from ONE pruned aggregation over the
    just-written output, gated on the write-pass observation, appended
    to the manifest. Returns the appended entries, so the caller merges
    them into its plan instead of re-reading the manifest."""
    agg_rows = written_new.groupBy("bucket").agg(
        F.expr("count(1) AS `rows`"),
        F.expr("sum(CAST(keep AS BIGINT)) AS `kept`"),
        F.expr("sum(CAST(NOT keep AS BIGINT)) AS `dropped`"),
        F.expr("sum(CAST(size(scrub_rules_fired) > 0 AS BIGINT)) AS `scrubbed`"),
    ).collect()  # <= n_buckets rows — the only action on the re-read
    by_bucket = {int(r["bucket"]): r for r in agg_rows}

    # integrity gate: the write-pass observation and the re-read metrics
    # must agree row-for-row — a divergence means the output on disk is
    # not what this run produced (partial overwrite, concurrent writer)
    # and the lineage rows must NOT be committed
    observed = observation.get
    for field in ("rows", "kept", "scrubbed"):
        total = sum(int(r[field] or 0) for r in agg_rows)
        if total != int(observed[field] or 0):
            raise RuntimeError(
                f"lineage integrity: written output disagrees with the write-pass "
                f"observation on '{field}' ({total} vs {observed[field]}) "
                f"— refusing to commit manifest entries for run {run_id}"
            )

    # EVERY attempted bucket gets a 'done' entry, including input-less
    # ones (zero rows) — otherwise empty buckets are 'reprocessed' on
    # every resume forever and the snapshot chain never converges to a
    # no-op re-submit
    now = time.time()
    counts = ("rows", "kept", "dropped", "scrubbed")
    entries = [
        dict(
            run_id=run_id, bucket=int(b),
            **{c: int(by_bucket[b][c] or 0) if b in by_bucket else 0 for c in counts},
            status="done", elapsed_sec=float(now - t0), committed_at=float(now),
        )
        for b in new_buckets
    ]
    write_manifest_file(
        _entries_path(manifest_path), pa.Table.from_pylist(entries, ENTRIES_ARROW)
    )
    return entries


def commit_snapshot(
    manifest_path: str, snapshot_id: str,
    parent_snapshot_id: str | None, operation: str,
    buckets_processed: int, buckets_skipped: int, latest: dict[int, Any],
) -> dict[str, int]:
    """Append the run's snapshot row (Iceberg snapshot-log analog; the
    entries table holds the per-bucket rows) with run totals summed
    from the planned manifest ``latest`` — never from a scan of the
    output. Returns those totals."""
    totals = {
        "rows_total": sum(int(e["rows"] or 0) for e in latest.values()),
        "rows_kept": sum(int(e["kept"] or 0) for e in latest.values()),
    }
    row = dict(
        snapshot_id=snapshot_id, parent_snapshot_id=parent_snapshot_id,
        operation=operation, buckets_processed=buckets_processed,
        buckets_skipped=buckets_skipped, **totals, committed_at=time.time(),
    )
    write_manifest_file(
        _snapshots_path(manifest_path), pa.Table.from_pylist([row], SNAPSHOTS_ARROW)
    )
    return totals


# An output layout: ``sink(spark, result, run_id, output_path)`` writes
# the run's rows and returns the output read back with the written
# schema (no inference job); commit_run prunes it to the run's buckets.
Sink = Callable[[SparkSession, DataFrame, str, str], DataFrame]


def commit_run(
    spark: SparkSession, output_path: str, manifest_path: str, sink: Sink,
    result: DataFrame | None, buckets: list[int], skipped: int,
    latest: dict[int, Any], operation: str, t0: float,
    crash_before_commit: bool = False,
) -> dict:
    """The one write → commit path of every layout and operation: write
    ``result``, the rows of ``buckets``, through ``sink``; commit one
    entry per bucket; then commit the snapshot row, whose totals are the
    plan ``latest`` merged with those entries. With no bucket to write,
    only the snapshot row is committed. ``crash_before_commit`` (tests)
    raises between the data write and the manifest commit, so no entry
    references the written data.

    Returns run_id (= snapshot_id), operation, buckets_processed,
    buckets_skipped (= ``skipped``), rows_total, rows_kept and
    elapsed_sec (since ``t0``)."""
    run_id = new_run_id()
    parent_snapshot = latest_snapshot_id(spark, manifest_path)
    if buckets:
        # run-level lineage totals ride the WRITE pass for free and
        # cross-check the per-bucket metrics. Those do NOT use observe:
        # ~3·n_buckets conditional sums per row in the write path measured
        # 11× slower than the write itself at n_buckets=256 (8.35s vs
        # 0.74s per 2M rows) — the column- and partition-pruned re-read
        # of ONLY the just-written buckets is the cheaper plan.
        observation, observed = attach_lineage_observation(result, run_id)
        written = sink(spark, observed, run_id, output_path)
        if crash_before_commit:
            raise RuntimeError(f"injected crash after write, before commit (run {run_id})")
        committed = commit_bucket_metrics(
            observation, written.filter(bucket_in(buckets)), buckets, run_id, t0,
            manifest_path,
        )
        latest = latest_per_bucket([*latest.values(), *committed])
    totals = commit_snapshot(
        manifest_path, run_id, parent_snapshot, operation, len(buckets), skipped, latest
    )
    return {
        "run_id": run_id, "snapshot_id": run_id, "operation": operation,
        "buckets_processed": len(buckets), "buckets_skipped": skipped,
        **totals, "elapsed_sec": time.time() - t0,
    }


def run_buckets(
    spark: SparkSession, input_path: str, output_path: str, manifest_path: str,
    sink: Sink, n_buckets: int,
    fail_buckets: set[int] | None = None,
    reprocess_buckets: set[int] | None = None,
    crash_before_commit: bool = False,
    repo_min_keep_bp: int | None = None,
    **stage_opts,
) -> dict:
    """Plan one run, resume or backfill over the bucketed input, then
    write and commit it through ``commit_run``.

    Skipped = (committed − ``reprocess_buckets``) ∪ ``fail_buckets``;
    every other bucket of ``range(n_buckets)`` is staged, written and
    committed. ``reprocess_buckets`` backfills committed buckets under
    this run; ``fail_buckets`` (tests) stay uncommitted, as after a
    mid-job crash. The operation is ``append`` on an empty manifest,
    ``backfill`` with ``reprocess_buckets``, else ``append-resume``.
    ``stage_opts`` go to ``run_stages``; its corpus-global stages see
    only this run's buckets (see ``stages.with_near_dup``). The run
    plans and commits inside one ``cache_scope``, so the stages' persists
    and checkpoints are released when it returns or raises."""
    t0 = time.time()
    latest = latest_entries(spark, manifest_path)
    redo = set(reprocess_buckets or ())
    skip = (set(latest) - redo) | set(fail_buckets or ())
    if repo_min_keep_bp is not None and skip:
        # salted bucketing spreads every repo across all buckets, so a
        # rollup over a bucket subset would FALSELY demote files of
        # globally-healthy repos (stages.with_repo_demotion)
        raise ValueError(
            "repo_min_keep_bp requires a full (non-resume, non-backfill) run; "
            "re-run on a fresh manifest or use with_repo_demotion as a batch "
            "post-pass over the output"
        )
    new_buckets = [b for b in range(n_buckets) if b not in skip]
    operation = "append" if not latest else ("backfill" if redo else "append-resume")
    with cache_scope():
        result = None  # a no-op re-submit reads no input and builds no stage chain
        if new_buckets:
            raw = with_bucket(read_corpus(spark, input_path), n_buckets)
            todo = raw if len(new_buckets) == n_buckets else raw.filter(bucket_in(new_buckets))
            result = stage_output(todo, spark, repo_min_keep_bp=repo_min_keep_bp, **stage_opts)
        return commit_run(
            spark, output_path, manifest_path, sink, result, new_buckets, len(skip),
            latest, operation, t0, crash_before_commit,
        )


def _overwrite_buckets(
    spark: SparkSession, result: DataFrame, run_id: str, output_path: str
) -> DataFrame:
    """The overwrite layout's sink: ONE physical copy of each bucket
    (``run_id`` is not part of the layout)."""
    # idempotent bucket rewrite: dynamic partition overwrite replaces
    # exactly the partitions present in `result`; untouched
    # (completed) buckets survive, and an uncommitted bucket from a
    # crashed run is overwritten instead of double-appended. The
    # write option scopes the mode to this one write; the session
    # conf, shared with any other query, is left untouched.
    # sortWithinPartitions(bucket, repo, path): each task writes one
    # contiguous run per bucket (one open writer at a time instead of
    # one per bucket value) and row groups land sorted by (repo,
    # path) — better compression + min/max skipping on the columns
    # downstream jobs filter by
    (
        result.sortWithinPartitions("bucket", "repo", "path")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(output_path)
    )
    return spark.read.schema(result.schema).parquet(output_path)


def run_pipeline(
    spark: SparkSession, input_path: str, output_path: str, manifest_path: str,
    n_buckets: int = DEFAULT_N_BUCKETS, **opts,
) -> dict:
    """Run, resume or backfill the pipeline with the overwrite layout:
    ``run_buckets`` (which takes ``opts``) with the ``_overwrite_buckets``
    sink."""
    return run_buckets(
        spark, input_path, output_path, manifest_path, _overwrite_buckets, n_buckets, **opts
    )
