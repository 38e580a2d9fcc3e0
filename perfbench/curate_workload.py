"""`curate` workload: the quality-filter job through ``run_pipeline``.

Input: ``generate_corpus(N_FILES, seed)`` (1,087 rows, about 1 MB of
parquet) split into one parquet file per core so the scan runs one task
per core.

One timed job is the crash/resume life cycle on an empty output: a run
with the existing ``fail_buckets`` hook on the even buckets (it
processes the odd half and commits it), the resume that finishes the
even half, and the no-op re-submit once every bucket is done. It runs
the runner both ways: the write pass into an empty table, and the
manifest reads, anti-join on completed buckets and partial dynamic
overwrite into an existing one.

Set-up ends with one fresh run into a second empty output on the cold
JVM (that output is the reference the checks compare against) and one
untimed life cycle: the first life cycle of a process takes about a
fifth longer than the ones after it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 1000
# The CLI default is 64; with 16 the same code paths run and one cold
# process still fits the benchmark's time budget.
N_BUCKETS = 16
EVEN = frozenset(range(0, N_BUCKETS, 2))
MIN_F1 = 0.99
MODEL_SAMPLE_DOCS = 5000
NOOP_REPS = 3  # noop probes take about a second each


@dataclass
class Corpus:
    path: str
    rows: int
    in_bytes: int
    labels: pd.DataFrame  # repo, path, keep (reference labeler)
    out_fresh: str
    man_fresh: str
    out_life: str
    man_life: str
    lifecycles: list[dict] = field(default_factory=list)


def prepare(run_dir: Path, cache_dir: Path, seed: int, cpus: int) -> Corpus:
    from data_curator_spark.pipeline.corpus import generate_corpus
    from data_curator_spark.pipeline.reference_labeler import label_corpus

    pdf = generate_corpus(N_FILES, seed)
    corpus_dir = run_dir / "corpus"
    corpus_dir.mkdir(parents=True, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // cpus)
    for i in range(cpus):
        pq.write_table(table.slice(i * step, step), corpus_dir / f"part-{i:03d}.parquet")

    label_path = cache_dir / f"labels-{seed}-{N_FILES}.parquet"
    if label_path.exists():
        labels = pd.read_parquet(label_path)
    else:
        labels = label_corpus(pdf)[["repo", "path", "keep"]]
        labels.to_parquet(label_path.with_suffix(".tmp"), index=False)
        os.replace(label_path.with_suffix(".tmp"), label_path)
    return Corpus(
        path=str(corpus_dir),
        rows=len(pdf),
        in_bytes=_tree_bytes(corpus_dir),
        labels=labels,
        out_fresh=str(run_dir / "out-fresh"),
        man_fresh=str(run_dir / "manifest-fresh"),
        out_life=str(run_dir / "out-life"),
        man_life=str(run_dir / "manifest-life"),
    )


def _tree_bytes(path: str | Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*.parquet"))


def _reset(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def _run(spark, session, c: Corpus, out: str, man: str, **kw) -> tuple[dict, float]:
    from data_curator_spark.pipeline.runner import run_pipeline

    with session.span() as wall:
        res = run_pipeline(spark, c.path, out, man, n_buckets=N_BUCKETS, **kw)
    return res, wall()


def lifecycle(spark, session, c: Corpus, ledger) -> dict[str, float] | None:
    """crash -> resume -> re-submit on an empty output; wall times."""
    _reset(c.out_life, c.man_life)
    got = {}
    for step, kw in (("crash", {"fail_buckets": set(EVEN)}), ("resume", {}), ("resubmit", {})):
        r = ledger.run(f"curate.{step}", _run, spark, session, c, c.out_life, c.man_life, **kw)
        if r is None:
            return None
        got[step] = r
    (crash, _), (resume, _), (resub, _) = got["crash"], got["resume"], got["resubmit"]
    half = N_BUCKETS // 2
    ok = ledger.check(
        "curate.resume.buckets",
        (crash["buckets_processed"], resume["buckets_processed"], resume["buckets_skipped"],
         resub["buckets_processed"], resub["rows_total"]) == (half, half, half, 0, c.rows),
        f"crash {crash}, resume {resume}, resubmit {resub}",
    )
    if not ok:
        return None
    out = {step: t for step, (_, t) in got.items()}
    out["resume_rows"] = resume["rows_total"] - crash["rows_total"]
    return out


def warm_up(spark, session, c: Corpus, ledger) -> None:
    """One fresh run into an empty output on the cold JVM, whose output
    is the reference the checks compare against, then one untimed life
    cycle."""
    _fresh(spark, session, c, ledger)
    lifecycle(spark, session, c, ledger)


def job(spark, session, c: Corpus, ledger) -> bool:
    lc = lifecycle(spark, session, c, ledger)
    if lc is not None:
        c.lifecycles.append(lc)
    return lc is not None


def _fresh(spark, session, c: Corpus, ledger) -> float | None:
    _reset(c.out_fresh, c.man_fresh)
    got = ledger.run("curate.fresh", _run, spark, session, c, c.out_fresh, c.man_fresh)
    return got[1] if got else None


# --------------------------------------------------------------------------
# output checks


def _read_output(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def row_hash(df: pd.DataFrame) -> str:
    """Order-independent hash over OUTPUT_COLS: xor-free (sorted digests)
    so duplicated rows still count."""
    from data_curator_spark.pipeline.runner import OUTPUT_COLS

    digests = sorted(
        hashlib.sha256(repr(tuple(
            tuple(v) if isinstance(v, np.ndarray) else v for v in row
        )).encode()).hexdigest()
        for row in df[OUTPUT_COLS].itertuples(index=False, name=None)
    )
    return hashlib.sha256("".join(digests).encode()).hexdigest()


def _f1(fresh: pd.DataFrame, labels: pd.DataFrame) -> float:
    from data_curator_spark.pipeline.reference_labeler import f1_score

    merged = fresh.merge(labels, on=["repo", "path"], suffixes=("", "_ref"), validate="one_to_one")
    if len(merged) != len(labels):
        return 0.0
    return f1_score(merged["keep_ref"].to_numpy(bool), merged["keep"].to_numpy(bool))


def _snapshot_chain(man: str) -> list[tuple]:
    snaps = pq.read_table(f"{man}/snapshots").to_pandas().sort_values("committed_at")
    ids = [None, *snaps["snapshot_id"]]
    return [
        (op, parent == ids[i], processed)
        for i, (op, parent, processed) in enumerate(
            zip(snaps["operation"], snaps["parent_snapshot_id"], snaps["buckets_processed"])
        )
    ]


def check(spark, c: Corpus, ledger) -> None:
    """The warm-up's fresh output against the reference labeler; the
    resumed output and its snapshot chain against the fresh run."""
    fresh = ledger.run("curate.check.read", _read_output, c.out_fresh)
    if fresh is None:
        return
    ledger.check("curate.check.rows", len(fresh) == c.rows, f"{len(fresh)} rows, input {c.rows}")
    f1 = ledger.run("curate.check.f1", _f1, fresh, c.labels)
    ledger.check("curate.check.f1", f1 is not None and f1 >= MIN_F1, f"F1 {f1} < {MIN_F1}")
    untouched = fresh["scrub_rules_fired"].map(len) == 0
    bad = int((fresh.loc[untouched, "sha256_scrubbed"] != fresh.loc[untouched, "sha256_original"]).sum())
    ledger.check("curate.check.sha256", bad == 0, f"{bad} unscrubbed rows changed sha256")

    life = ledger.run("curate.check.read_resumed", _read_output, c.out_life)
    if life is not None:
        ledger.check("curate.check.resume_equals_fresh", row_hash(life) == row_hash(fresh),
                     "resumed output differs from a fresh run")
    chain = ledger.run("curate.check.snapshots", _snapshot_chain, c.man_life)
    half = N_BUCKETS // 2
    want = [("append", True, half), ("append-resume", True, half), ("append-resume", True, 0)]
    ledger.check("curate.check.snapshot_chain", chain == want, f"snapshot chain {chain}")


# --------------------------------------------------------------------------
# traced run: per-layer probes, spans from this file around each layer call


def _timed_noop(make_df) -> float:
    """Median wall time of writing a fresh frame to the noop sink, which
    materialises every column."""
    times = []
    for _ in range(NOOP_REPS):
        df = make_df()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _stage_prefixes(spark, raw):
    """Cumulative prefixes of run_stages' default chain, each ending in
    the output of one more stage."""
    from pyspark.sql import functions as F

    from data_curator_spark.pipeline.stages import (
        heuristics_pass_expr, vendored_path_expr, with_decision,
        with_heuristics, with_model_scores, with_scrub,
    )

    h = with_heuristics(raw)
    gated = h.withColumn("__gate", heuristics_pass_expr() & ~vendored_path_expr())
    m = with_model_scores(gated, spark, gate=F.col("__gate")).drop("__gate")
    s = with_scrub(m, pre_redacted="secret_redacted").drop("secret_redacted")
    d = with_decision(s)
    return {"heuristics": h, "model_scores": m, "scrub": s, "decision": d}


def _model_rates(c: Corpus) -> dict[str, tuple[float, str]]:
    from data_curator_spark.pipeline.model import build_bigram_lm, build_langid_model

    docs = pq.read_table(c.path, columns=["content"]).column("content").to_pylist()
    sample = (docs * (MODEL_SAMPLE_DOCS // len(docs) + 1))[:MODEL_SAMPLE_DOCS]
    t0 = time.perf_counter()
    langid, lm = build_langid_model(), build_bigram_lm()
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    langid.predict(sample)
    langid_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    lm.log_perplexity(sample)
    lm_s = time.perf_counter() - t0
    return {
        "model.build_s": (build_s, "s"),
        "model.langid_docs_per_s": (len(sample) / langid_s, "1/s"),
        "model.lm_docs_per_s": (len(sample) / lm_s, "1/s"),
    }


def profile(spark, session, c: Corpus, ledger) -> tuple[dict[str, tuple[float, str]], dict[str, int]]:
    """Per-layer metrics, plus the job groups whose plans the caller
    counts (group -> number of identical executions in it)."""
    from data_curator_spark.pipeline.runner import OUTPUT_COLS, completed_buckets, latest_snapshot_id
    from data_curator_spark.pipeline.stages import run_stages

    out: dict[str, tuple[float, str]] = {}
    session.group("sources")
    scan_s = _timed_noop(lambda: spark.read.parquet(c.path))
    out["sources.scan_s"] = (scan_s, "s")

    session.group("stages.prefix")
    prev = scan_s
    for name in ("heuristics", "model_scores", "scrub", "decision"):
        cum = _timed_noop(lambda: _stage_prefixes(spark, spark.read.parquet(c.path))[name])
        out[f"stages.{name}_s"] = (cum - prev, "s")
        prev = cum
    session.group("stages")
    total_s = _timed_noop(lambda: run_stages(spark.read.parquet(c.path), spark).select(*OUTPUT_COLS))
    out["stages.total_s"] = (total_s, "s")

    session.group("runner")
    pipe_s = _fresh(spark, session, c, ledger)
    if not c.lifecycles:
        lc = lifecycle(spark, session, c, ledger)
        if lc:
            c.lifecycles.append(lc)
    t0 = time.perf_counter()
    for _ in range(NOOP_REPS):
        completed_buckets(spark, c.man_life)
        latest_snapshot_id(spark, c.man_life)
    out["runner.manifest_read_s"] = ((time.perf_counter() - t0) / NOOP_REPS, "s")
    if pipe_s is not None:
        sink_s = pipe_s - total_s
        out["runner.fresh_s"] = (pipe_s, "s")
        out["runner.files_per_s"] = (c.rows / pipe_s, "1/s")
        out["runner.sink_commit_s"] = (sink_s, "s")
        # scan + stage self times + sink/commit over the run_pipeline wall
        out["runner.accounted_share"] = ((prev + sink_s) / pipe_s, "ratio")
    if c.lifecycles:
        for step in ("crash", "resume", "resubmit"):
            out[f"runner.{step}_s"] = (statistics.median(lc[step] for lc in c.lifecycles), "s")
        out["runner.resume_files_per_s"] = (
            statistics.median(lc["resume_rows"] / lc["resume"] for lc in c.lifecycles), "1/s"
        )
    out_bytes = _tree_bytes(c.out_fresh)
    out["runner.output_files"] = (sum(1 for _ in Path(c.out_fresh).rglob("*.parquet")), "count")
    out["runner.output_bytes"] = (out_bytes, "bytes")
    out["runner.out_bytes_per_in_byte"] = (out_bytes / c.in_bytes, "ratio")
    out.update(_model_rates(c))
    return out, {"stages": NOOP_REPS}
