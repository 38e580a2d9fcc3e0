"""Quality-filter pipeline: F1 vs reference labels, scrub equality,
sha256 invariant, salted skew spread, checkpoint resume (BASELINE.md)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_curator_spark.pipeline.corpus import generate_corpus, write_corpus_parquet
from data_curator_spark.pipeline.reference_labeler import f1_score, label_corpus
from data_curator_spark.pipeline.runner import run_pipeline, with_bucket
from data_curator_spark.pipeline.stages import run_stages

N_FILES = 800
SEED = 42


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    return write_corpus_parquet(str(d / "corpus.parquet"), N_FILES, SEED)


@pytest.fixture(scope="module")
def labels():
    return label_corpus(generate_corpus(N_FILES, SEED))


@pytest.fixture(scope="module")
def spark_result(spark, corpus_path):
    out = run_stages(spark.read.parquet(corpus_path), spark)
    return out.select(
        "repo", "path", "keep", "drop_reason", "content_scrubbed",
        "scrub_rules_fired", "sha256_original", "sha256_scrubbed",
    ).toPandas()


def _merged(labels, spark_result):
    return labels.merge(spark_result, on=["repo", "path"], suffixes=("_ref", "_spark"))


def test_keep_f1_at_least_099(labels, spark_result):
    m = _merged(labels, spark_result)
    assert len(m) == len(labels)
    f1 = f1_score(m["keep_ref"].to_numpy(), m["keep_spark"].to_numpy())
    assert f1 >= 0.99


def test_drop_reasons_match(labels, spark_result):
    m = _merged(labels, spark_result)
    assert (m["drop_reason_ref"].fillna("") == m["drop_reason_spark"].fillna("")).all()


def test_scrubbed_text_exact_match(labels, spark_result):
    m = _merged(labels, spark_result)
    assert (m["content_scrubbed_ref"] == m["content_scrubbed_spark"]).all()


def test_sha256_preserved_for_untouched_rows(labels, spark_result):
    m = _merged(labels, spark_result)
    untouched = m[m["scrub_rules_fired"].map(len) == 0]
    assert len(untouched) > 0
    assert (untouched["sha256_original_spark"] == untouched["sha256_scrubbed_spark"]).all()
    # spark hashes agree with the independently-computed reference hashes
    assert (m["sha256_original_spark"] == m["sha256_original_ref"]).all()
    assert (m["sha256_scrubbed_spark"] == m["sha256_scrubbed_ref"]).all()
    # and scrubbed rows must differ
    touched = m[m["scrub_rules_fired"].map(len) > 0]
    assert len(touched) > 0
    assert (touched["sha256_original_spark"] != touched["sha256_scrubbed_spark"]).all()


def test_secret_literals_redacted_in_all_persisted_rows(labels, spark_result):
    """Privacy is UNGATED: every over-threshold credential literal must be
    absent from content_scrubbed on every persisted row — kept rows,
    heuristic-dropped rows, and model-dropped rows alike — and the
    redaction must register as the 'secret_literal' scrub rule."""
    import math
    import re

    from data_curator_spark.pipeline import spec
    from data_curator_spark.pipeline.corpus import generate_corpus

    rx = re.compile(spec.SECRET_LITERAL_PATTERN)

    def hot_literals(doc: str) -> list[str]:
        out = []
        for lit in rx.findall(doc):
            n = len(lit)
            counts = sorted(lit.count(ch) for ch in sorted(set(lit)))
            h = math.log2(n) - sum(c * math.log2(c) for c in counts) / n
            if h > spec.MAX_SECRET_ENTROPY:
                out.append(lit)
        return out

    corpus = generate_corpus(N_FILES, SEED)
    corpus["__hot"] = corpus["content"].map(hot_literals)
    hot = corpus[corpus["__hot"].map(len) > 0]
    assert len(hot) > 0  # the seed-42 corpus plants credential files
    m = hot.merge(spark_result, on=["repo", "path"])
    assert len(m) == len(hot)
    assert not m["keep"].all()  # some carriers are heuristic-dropped
    for _, row in m.iterrows():
        for lit in row["__hot"]:
            assert lit not in row["content_scrubbed"]
        assert "secret_literal" in list(row["scrub_rules_fired"])
        assert spec.SECRET_REPLACEMENT in row["content_scrubbed"]


def test_every_rule_fires_in_corpus(labels):
    from data_curator_spark.pipeline import spec

    reasons = set(labels["drop_reason"].dropna())
    # every registered rule must fire in the seed-42 corpus (the wave-7
    # defect pass guarantees comment_heavy / mojibake / too_short kinds
    # at any n_files via kind = j % 3)
    assert set(spec.RULE_NAMES) <= reasons


def test_salted_buckets_defuse_mega_repo(spark, corpus_path):
    df = with_bucket(spark.read.parquet(corpus_path), 16)
    mega = df.filter(F.col("repo").endswith("repo0"))
    n_buckets_used = mega.select("bucket").distinct().count()
    assert mega.count() > N_FILES * 0.1  # it IS the skewed repo
    assert n_buckets_used == 16  # and it spreads over every bucket


def test_resume_from_manifest(spark, corpus_path, tmp_path):
    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    # first run "crashes" with 4 buckets unprocessed
    r1 = run_pipeline(
        spark, corpus_path, out_dir, manifest, n_buckets=8, fail_buckets={5, 6, 7, 2}
    )
    assert r1["buckets_processed"] == 4
    # resume: only the missing buckets run
    r2 = run_pipeline(spark, corpus_path, out_dir, manifest, n_buckets=8)
    assert r2["buckets_skipped"] == 4
    assert r2["buckets_processed"] == 4
    # output is complete and row-exact (no duplicates from the resume)
    total_rows = spark.read.parquet(corpus_path).count()
    assert r2["rows_total"] == total_rows
    written = spark.read.parquet(out_dir)
    assert written.groupBy("repo", "path", "commit").count().filter("count > 1").isEmpty()


def test_model_separation():
    """LangId classifies clean single-language files correctly; the LM
    separates gibberish from real code."""
    from data_curator_spark.pipeline.corpus import LANGS, _normal_file, _gibberish_file
    from data_curator_spark.pipeline.model import build_bigram_lm, build_langid_model

    rng = np.random.default_rng(99)
    model = build_langid_model()
    lm = build_bigram_lm()
    docs, want = [], []
    for lang in LANGS:
        for _ in range(10):
            docs.append(_normal_file(rng, lang))
            want.append(lang)
    best, margin = model.predict(docs)
    acc = np.mean(np.array(model.langs)[best] == np.array(want))
    assert acc >= 0.98
    clean_ppl = lm.log_perplexity(docs)
    gib_ppl = lm.log_perplexity([_gibberish_file(rng) for _ in range(10)])
    assert gib_ppl.min() > clean_ppl.max()


def test_empty_corpus_through_all_stages(spark):
    """0-row input must flow through every stage without error."""
    empty = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"
    )
    out = run_stages(empty, spark)
    assert out.count() == 0
    assert "keep" in out.columns and "content_scrubbed" in out.columns


def test_runner_metrics_scan_prunes_completed_buckets(spark, corpus_path, tmp_path):
    """The lineage/metrics read must partition-prune to the just-written
    buckets — a resume at 100 TB must never re-scan completed history
    (VERDICT r1, wrong #2)."""
    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    run_pipeline(spark, corpus_path, out_dir, manifest, n_buckets=8, fail_buckets={3})
    # the exact scan shape the runner uses for metrics on the resume run
    df = spark.read.parquet(out_dir).filter(F.col("bucket").isin([3]))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    # the bucket predicate lands in PartitionFilters (metadata pruning),
    # not as a post-scan Filter over all history
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "bucket" in pf_line and ("IN" in pf_line or "= 3" in pf_line)


def test_bucket_rewrite_idempotent_after_lost_manifest(spark, corpus_path, tmp_path):
    """Crash in the write→manifest-commit gap: the bucket's data exists
    but is not marked done, so the resume reprocesses it. Dynamic
    partition overwrite must REPLACE the partition (no duplicate rows) —
    ADVICE r1 (runner atomicity)."""
    out_dir = str(tmp_path / "out")
    m1 = str(tmp_path / "manifest1")
    m2 = str(tmp_path / "manifest2")
    r1 = run_pipeline(spark, corpus_path, out_dir, m1, n_buckets=4)
    # simulate total manifest loss (worst case of the gap): every bucket
    # re-runs against the already-written output
    r2 = run_pipeline(spark, corpus_path, out_dir, m2, n_buckets=4)
    total = spark.read.parquet(corpus_path).count()
    assert r1["rows_total"] == total and r2["rows_total"] == total
    written = spark.read.parquet(out_dir)
    assert written.count() == total
    assert written.groupBy("repo", "path", "commit").count().filter("count > 1").isEmpty()


def test_resume_overwrites_only_its_buckets_and_leaves_session_conf(
    spark, corpus_path, tmp_path, monkeypatch
):
    """The resume's dynamic overwrite is a write option: the buckets the
    crashed run committed keep their files, and the session conf (shared
    with any other query on the session) is never set."""
    from pyspark.sql.conf import RuntimeConfig

    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(key)
    run_pipeline(spark, corpus_path, out_dir, manifest, n_buckets=8, fail_buckets={1, 3, 5, 7})
    done = {f"bucket={b}" for b in (0, 2, 4, 6)}
    done_files = [f for f in _files_under(out_dir) if f.split("/")[0] in done]
    conf_sets = []
    orig_set = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig, "set",
        lambda self, k, v: (conf_sets.append(k), orig_set(self, k, v))[1],
    )
    r2 = run_pipeline(spark, corpus_path, out_dir, manifest, n_buckets=8)
    assert r2["buckets_processed"] == 4
    assert key not in conf_sets and spark.conf.get(key) == mode_before
    assert done_files and set(done_files) <= set(_files_under(out_dir))
    assert spark.read.parquet(out_dir).count() == spark.read.parquet(corpus_path).count()


def test_snapshot_lineage_chain(spark, corpus_path, tmp_path):
    """Iceberg-analog snapshot log: each run appends a snapshot row whose
    parent_snapshot_id points at the previous run; a crash+resume pair
    forms a 2-link chain with correct summary counts."""
    from data_curator_spark.pipeline.runner import snapshot_lineage

    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    r1 = run_pipeline(spark, corpus_path, out_dir, manifest, n_buckets=8, fail_buckets={1, 2})
    r2 = run_pipeline(spark, corpus_path, out_dir, manifest, n_buckets=8)
    snaps = {s["snapshot_id"]: s for s in snapshot_lineage(spark, manifest).collect()}
    assert len(snaps) == 2
    assert snaps[r1["run_id"]]["parent_snapshot_id"] is None
    assert snaps[r2["run_id"]]["parent_snapshot_id"] == r1["run_id"]
    assert snaps[r2["run_id"]]["operation"] == "append-resume"
    assert snaps[r2["run_id"]]["rows_total"] == spark.read.parquet(corpus_path).count()
    assert snaps[r1["run_id"]]["buckets_processed"] == 6
    assert snaps[r2["run_id"]]["buckets_processed"] == 2


def test_empty_buckets_commit_and_resume_converges(spark, tmp_path):
    """A corpus smaller than n_buckets leaves input-less buckets; they
    must still be committed 'done' (zero rows) so an identical re-submit
    is a true no-op (buckets_processed == 0)."""
    import pandas as pd

    small = str(tmp_path / "small.parquet")
    pd.DataFrame(
        {
            "repo": ["r1", "r2"], "path": ["a.py", "b.py"],
            "commit": ["c1", "c2"], "lang": ["python", "python"],
            "content": ["print('hello world')\n" * 5, "def f():\n    return 1\n" * 5],
        }
    ).to_parquet(small)
    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    r1 = run_pipeline(spark, small, out_dir, manifest, n_buckets=16)
    assert r1["buckets_processed"] == 16 and r1["rows_total"] == 2
    r2 = run_pipeline(spark, small, out_dir, manifest, n_buckets=16)
    assert r2["buckets_processed"] == 0 and r2["buckets_skipped"] == 16
    assert r2["rows_total"] == 2


def test_near_dup_stage_boilerplate_guard_default(spark):
    """r3 verdict item 9: the pipeline-level near-dup stage ships with
    the boilerplate-bucket guard ON (DEFAULT_MAX_BUCKET). A 250-member
    identical-template clique (> cap) must NOT explode into ~31k LSH
    pairs — its buckets are dropped (exact clones are exact-hash
    dedup's job) — while a genuine small near-dup pair is still caught
    and its non-canonical member demoted to keep=false/near_dup."""
    from data_curator_spark.pipeline.stages import DEFAULT_MAX_BUCKET, with_near_dup

    assert DEFAULT_MAX_BUCKET == 200
    boiler = " ".join(f"word{i % 17} token{i}" for i in range(40))
    near_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(20))
    near_b = near_a + " trailing extra"
    rows = [
        (f"r{i}", f"boiler/{i}.py", "c0", True, None, boiler) for i in range(250)
    ] + [
        ("rx", "near/a.py", "c0", True, None, near_a),
        ("rx", "near/b.py", "c0", True, None, near_b),
        ("rx", "unique/c.py", "c0", True, None, "completely unrelated content " * 5),
        ("rx", "dropped/d.py", "c0", False, "too_short", near_a),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, keep boolean, "
        "drop_reason string, content_scrubbed string"
    )
    out = with_near_dup(df).collect()
    by_path = {r["path"]: r for r in out}

    # clique > cap: untouched by the near-dup stage
    for i in range(250):
        r = by_path[f"boiler/{i}.py"]
        assert r["keep"] and r["drop_reason"] is None

    # genuine near-dup pair: same cluster, min-id canonical kept,
    # the other demoted
    a, b = by_path["near/a.py"], by_path["near/b.py"]
    assert a["near_dup_cluster"] == b["near_dup_cluster"]
    assert a["keep"] and a["drop_reason"] is None
    assert (not b["keep"]) and b["drop_reason"] == "near_dup"

    # already-dropped rows keep their original reason even when
    # non-canonical in a cluster
    d = by_path["dropped/d.py"]
    assert (not d["keep"]) and d["drop_reason"] == "too_short"
    assert by_path["unique/c.py"]["keep"]


def test_run_stages_near_dup_end_to_end(spark, corpus_path):
    """run_stages(near_dup=True): the synthetic corpus has deliberate
    exact/near duplicate files — the stage must demote at least one
    non-canonical member and leave every cluster exactly one canonical."""
    out = run_stages(spark.read.parquet(corpus_path), spark, near_dup=True)
    rows = out.select(
        "keep", "drop_reason", "near_dup_cluster", "near_dup_canonical"
    ).collect()
    demoted = [r for r in rows if r["drop_reason"] == "near_dup"]
    assert demoted, "corpus contains duplicates; none demoted"
    # every non-singleton cluster has exactly one canonical member
    from collections import Counter

    canon = Counter(r["near_dup_cluster"] for r in rows if r["near_dup_canonical"])
    assert all(v == 1 for v in canon.values())


def test_span_dedup_stage_demotes_over_threshold(spark):
    """with_span_dedup: a kept file whose duplicated-span coverage
    reaches max_bp flips to keep=false/dup_spans; the file holding the
    globally-first occurrences still counts as covered (marking is
    occurrence-count based) but BOTH only demote when over threshold;
    already-dropped rows keep their original reason; content columns
    are untouched (no rewrite)."""
    from data_curator_spark.pipeline.stages import with_span_dedup

    shared = " ".join(f"tok{i}" for i in range(12))  # 12 tokens
    unique_tail = " ".join(f"u{i}" for i in range(12))
    rows = [
        # fully duplicated pair: coverage 10000 bp in both
        ("r1", "a.py", "c0", True, None, shared),
        ("r2", "b.py", "c0", True, None, shared),
        # half-covered: 12 shared + 12 unique tokens -> 5000 bp
        ("r3", "c.py", "c0", True, None, shared + " " + unique_tail),
        # unique file: 0 bp (genuinely distinct tokens — a repeated
        # phrase would self-mark via intra-doc windows)
        ("r4", "d.py", "c0", True, None, " ".join(f"only{i} once{i}" for i in range(9))),
        # dropped earlier: reason preserved even though fully duplicated
        ("r5", "e.py", "c0", False, "too_short", shared),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, keep boolean, "
        "drop_reason string, content_scrubbed string"
    )
    out = {r["path"]: r for r in with_span_dedup(df, max_bp=6000).collect()}
    assert not out["a.py"]["keep"] and out["a.py"]["drop_reason"] == "dup_spans"
    assert not out["b.py"]["keep"] and out["b.py"]["drop_reason"] == "dup_spans"
    # 5000 bp < 6000 threshold -> kept
    assert out["c.py"]["keep"] and out["c.py"]["drop_reason"] is None
    assert out["d.py"]["keep"]
    assert not out["e.py"]["keep"] and out["e.py"]["drop_reason"] == "too_short"
    # content untouched
    assert out["a.py"]["content_scrubbed"] == shared


@pytest.mark.parametrize("stage", ["near_dup", "span_dedup", "cdc_dedup", "decontamination"])
def test_corpus_global_stages_key_each_commit_apart(spark, stage):
    """Two commits of one file are two documents to every corpus-global
    stage: a.py@c1 and b.py@c1 share their 40 tokens, a.py@c2 has 40
    tokens of its own. Keyed by (repo, path) alone, a.py's commits
    shared one id: the near-dup stage returned 9 rows, the span stage 5,
    and the CDC stage demoted a.py@c2 for its sibling's duplication."""
    from data_curator_spark.pipeline import stages

    shared = " ".join(f"tok{i}" for i in range(40))
    rows = [
        ("r", "a.py", "c1", True, None, shared),
        ("r", "b.py", "c1", True, None, shared),
        ("r", "a.py", "c2", True, None, " ".join(f"own{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, keep boolean, "
        "drop_reason string, content_scrubbed string"
    )
    run = {
        "near_dup": lambda: stages.with_near_dup(df),
        "span_dedup": lambda: stages.with_span_dedup(df, max_bp=5000),
        "cdc_dedup": lambda: stages.with_cdc_dedup(df, max_bp=5000),
        "decontamination": lambda: stages.with_decontamination(
            df, spark.createDataFrame([(shared,)], "content string")
        ),
    }[stage]
    out = run().collect()
    assert len(out) == 3
    by_doc = {(r["path"], r["commit"]): r for r in out}
    assert by_doc[("a.py", "c2")]["keep"] and by_doc[("a.py", "c2")]["drop_reason"] is None


def test_run_stages_span_dedup_end_to_end(spark, corpus_path):
    """run_stages(span_dedup_bp=...): wiring through the stage chain —
    rows demoted by the span stage carry drop_reason=dup_spans, every
    other row's verdict matches the span-less run exactly, and
    sha256_scrubbed is identical in both runs (no content rewrite)."""
    raw = spark.read.parquet(corpus_path)
    base = {
        (r["repo"], r["path"]): r
        for r in run_stages(raw, spark).select(
            "repo", "path", "keep", "drop_reason", "sha256_scrubbed"
        ).collect()
    }
    spanned = {
        (r["repo"], r["path"]): r
        for r in run_stages(raw, spark, span_dedup_bp=8000).select(
            "repo", "path", "keep", "drop_reason", "sha256_scrubbed"
        ).collect()
    }
    assert set(base) == set(spanned)
    demoted = [
        k for k, r in spanned.items() if r["drop_reason"] == "dup_spans"
    ]
    assert demoted, "synthetic corpus has exact duplicates; none demoted"
    for k, r in spanned.items():
        assert r["sha256_scrubbed"] == base[k]["sha256_scrubbed"]
        if r["drop_reason"] != "dup_spans":
            assert (r["keep"], r["drop_reason"]) == (
                base[k]["keep"], base[k]["drop_reason"]
            )
        else:
            assert base[k]["keep"] is True


@pytest.mark.parametrize("opts", [{"near_dup": True}, {"span_dedup_bp": 5000}], ids=str)
def test_corpus_global_run_leaves_no_cached_data(spark, tmp_path, opts):
    """A pipeline run with a corpus-global stage releases every persist
    and checkpoint its stages made: the session's persisted RDDs are the
    same after the run as before it. Storage starts empty, so an RDD
    that an earlier test left to the ContextCleaner cannot be released
    during the run and change the set."""
    from data_curator_spark.engine.cache import persisted_rdd_ids, unpersist_rdd_ids

    corpus = write_corpus_parquet(str(tmp_path / "c.parquet"), 200, 7)
    spark.catalog.clearCache()
    unpersist_rdd_ids(spark, persisted_rdd_ids(spark), blocking=True)
    before = persisted_rdd_ids(spark)
    res = run_pipeline(
        spark, corpus, str(tmp_path / "out"), str(tmp_path / "m"), n_buckets=4, **opts
    )
    assert res["buckets_processed"] == 4
    assert persisted_rdd_ids(spark) == before


def test_repo_demotion_flags_junk_repo(spark):
    """Repo-level curation: a repo whose kept fraction is below the
    threshold has its surviving files demoted to
    drop_reason='repo_flagged'; healthy repos and under-min_files repos
    are untouched, and already-dropped rows keep their original
    evidence."""
    from data_curator_spark.pipeline.stages import with_repo_demotion

    rows = []
    # junk repo: 10 files, 2 kept (20% < 25% threshold)
    for i in range(10):
        rows.append(("org/junk", f"f{i}.py", i < 2, None if i < 2 else "long_line"))
    # healthy repo: 10 files, 8 kept
    for i in range(10):
        rows.append(("org/good", f"g{i}.py", i < 8, None if i < 8 else "long_line"))
    # tiny repo below min_files: 3 files, 0 kept — exempt
    for i in range(3):
        rows.append(("org/tiny", f"t{i}.py", i < 1, None if i < 1 else "long_line"))
    df = spark.createDataFrame(
        rows, "repo string, path string, keep boolean, drop_reason string"
    )
    out = with_repo_demotion(df, min_keep_bp=2500, min_files=5).collect()
    by = {(r.repo, r.path): r for r in out}
    assert len(out) == 23
    for i in range(2):  # junk repo's survivors demoted
        r = by[("org/junk", f"f{i}.py")]
        assert not r.keep and r.drop_reason == "repo_flagged"
    for i in range(2, 10):  # junk repo's dropped rows keep their reason
        r = by[("org/junk", f"f{i}.py")]
        assert not r.keep and r.drop_reason == "long_line"
    for i in range(8):  # healthy repo untouched
        assert by[("org/good", f"g{i}.py")].keep
    # tiny repo exempt despite 33% kept < threshold
    assert by[("org/tiny", "t0.py")].keep
    assert by[("org/tiny", "t0.py")].drop_reason is None


def test_repo_demotion_threshold_edge_and_partitioning(spark):
    """kept*10000 < bp*files is a strict integer comparison: exactly-at-
    threshold repos are NOT flagged; the outcome is invariant to input
    partitioning (the rollup is a plain aggregate)."""
    from data_curator_spark.pipeline.stages import with_repo_demotion

    rows = [
        ("org/edge", f"e{i}.py", i < 2, None if i < 2 else "long_line")
        for i in range(8)  # exactly 25%
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, keep boolean, drop_reason string"
    )
    a = with_repo_demotion(df, min_keep_bp=2500, min_files=5)
    assert all(r.keep for r in a.collect() if r.path in ("e0.py", "e1.py"))
    b = with_repo_demotion(
        df.repartition(16, F.rand(3)), min_keep_bp=2500, min_files=5
    )
    sa = sorted(map(tuple, a.collect()))
    sb = sorted(map(tuple, b.collect()))
    assert sa == sb


def test_repo_demotion_end_to_end(spark, corpus_path):
    """run_stages(repo_min_keep_bp=...) composes with the full chain:
    flagged-repo survivors flip, global kept count only decreases, and
    the expected flag set matches an independent pandas rollup."""
    import pandas as pd

    base = run_stages(spark.read.parquet(corpus_path), spark)
    plain = base.select("repo", "path", "keep", "drop_reason").toPandas()
    out = run_stages(
        spark.read.parquet(corpus_path), spark, repo_min_keep_bp=6000
    ).select("repo", "path", "keep", "drop_reason").toPandas()

    g = plain.groupby("repo")["keep"].agg(["size", "sum"])
    flagged = set(g[(g["size"] >= 5) & (g["sum"] * 10_000 < 6000 * g["size"])].index)
    assert flagged  # the threshold is chosen to fire on this corpus
    m = plain.merge(out, on=["repo", "path"], suffixes=("_a", "_b"))
    assert len(m) == len(plain)
    exp_demoted = m["keep_a"] & m["repo"].isin(flagged)
    assert (m.loc[exp_demoted, "drop_reason_b"] == "repo_flagged").all()
    assert (~m.loc[exp_demoted, "keep_b"]).all()
    un = ~exp_demoted
    assert (m.loc[un, "keep_a"] == m.loc[un, "keep_b"]).all()
    assert (
        m.loc[un, "drop_reason_a"].fillna("")
        == m.loc[un, "drop_reason_b"].fillna("")
    ).all()


def test_repo_demotion_refuses_partial_runs(spark, corpus_path, tmp_path):
    """repo_min_keep_bp needs a GLOBAL rollup: both a fail-bucket run
    and a resume over an existing manifest must refuse it (a bucket
    subset would falsely demote globally-healthy repos)."""
    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    with pytest.raises(ValueError, match="full"):
        run_pipeline(
            spark, corpus_path, out_dir, manifest, n_buckets=8,
            fail_buckets={3}, repo_min_keep_bp=2500,
        )
    # full run with the flag is fine; the RESUME after a crash is not
    run_pipeline(
        spark, corpus_path, out_dir, manifest, n_buckets=8, fail_buckets={3}
    )
    with pytest.raises(ValueError, match="full"):
        run_pipeline(
            spark, corpus_path, out_dir, manifest, n_buckets=8,
            repo_min_keep_bp=2500,
        )


def _files_under(path: str) -> list[str]:
    import os

    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, names in os.walk(path)
        for f in names
    )


def test_lifecycle_job_counts_and_noop_resubmit(spark, corpus_path, tmp_path):
    """The manifest is planned and committed on the driver: a 16-bucket
    crash → resume → re-submit runs a pinned number of Spark jobs per
    call, and the no-op re-submit runs no stage chain — it writes no
    output or entries file and commits exactly one snapshot row."""
    import uuid

    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]

    def run(step, **kw):
        group = f"lifecycle-{tag}-{step}"
        sc.setJobGroup(group, step, True)
        try:
            res = run_pipeline(spark, corpus_path, out_dir, manifest, n_buckets=16, **kw)
            return res, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup("", "", False)

    crash, n_crash = run("crash", fail_buckets=set(range(0, 16, 2)))
    resume, n_resume = run("resume")
    out_before = _files_under(out_dir)
    entries_before = _files_under(f"{manifest}/entries")
    snaps_before = spark.read.parquet(f"{manifest}/snapshots").count()
    resub, n_resub = run("resubmit")

    assert (crash["buckets_processed"], resume["buckets_processed"]) == (8, 8)
    # skipped = the buckets this call did not write, failed ones included
    assert crash["buckets_skipped"] == 8
    assert resub["buckets_processed"] == 0 and resub["buckets_skipped"] == 16
    assert (resub["rows_total"], resub["rows_kept"]) == (
        resume["rows_total"], resume["rows_kept"]
    )
    assert resume["rows_total"] == spark.read.parquet(corpus_path).count()
    # no Spark job reads or writes the manifest, and the input is read
    # with its declared schema (no inference job): what is left is the
    # write and the two-stage per-bucket aggregation; the no-op
    # re-submit runs no Spark job at all
    assert (n_crash, n_resume, n_resub) == (3, 3, 0)
    assert n_crash + n_resume + n_resub <= 6 and n_resub == 0
    assert _files_under(out_dir) == out_before
    assert _files_under(f"{manifest}/entries") == entries_before
    snaps = spark.read.parquet(f"{manifest}/snapshots")
    assert snaps.count() == snaps_before + 1
    noop = snaps.filter(F.col("snapshot_id") == resub["run_id"]).collect()[0]
    assert (noop["operation"], noop["parent_snapshot_id"]) == ("append-resume", resume["run_id"])
    crash_snap = snaps.filter(F.col("snapshot_id") == crash["run_id"]).collect()[0]
    assert crash_snap["buckets_skipped"] == 8


def test_manifest_ignores_uncommitted_files_and_keeps_ddl_types(spark, corpus_path, tmp_path):
    """A crash between a manifest file's write and its rename leaves a
    hidden ``.part-*.parquet`` file: every manifest reader and the next
    run ignore it. The driver-written tables read back through Spark's
    schema inference (tests, the CLI) and ``pq.read_table`` with the
    DDL's column types."""
    import os

    import pyarrow.parquet as pq

    from data_curator_spark.pipeline.runner import (
        ENTRIES_SCHEMA, SNAPSHOTS_SCHEMA, completed_buckets, latest_entries,
        latest_snapshot_id, snapshot_lineage,
    )

    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    r1 = run_pipeline(spark, corpus_path, out_dir, manifest, n_buckets=4, fail_buckets={3})
    for table in ("entries", "snapshots"):
        with open(os.path.join(manifest, table, ".part-crashed.parquet"), "wb") as fh:
            fh.write(b"garbage bytes: written, never renamed")

    assert completed_buckets(spark, manifest) == [0, 1, 2]
    assert {e["run_id"] for e in latest_entries(spark, manifest).values()} == {r1["run_id"]}
    assert latest_snapshot_id(spark, manifest) == r1["run_id"]
    assert [r["snapshot_id"] for r in snapshot_lineage(spark, manifest).collect()] == [r1["run_id"]]

    r2 = run_pipeline(spark, corpus_path, out_dir, manifest, n_buckets=4)
    assert (r2["buckets_processed"], r2["buckets_skipped"]) == (1, 3)
    assert r2["rows_total"] == spark.read.parquet(corpus_path).count()
    assert latest_snapshot_id(spark, manifest) == r2["run_id"]
    assert pq.read_table(f"{manifest}/snapshots").num_rows == 2

    for table, ddl in (("entries", ENTRIES_SCHEMA), ("snapshots", SNAPSHOTS_SCHEMA)):
        inferred = spark.read.parquet(f"{manifest}/{table}").schema
        declared = spark.createDataFrame([], ddl).schema
        assert [(f.name, f.dataType) for f in inferred] == [
            (f.name, f.dataType) for f in declared
        ]
    assert sorted(
        n for t in ("entries", "snapshots") for n in os.listdir(os.path.join(manifest, t))
        if n.startswith(".part-")
    ) == [".part-crashed.parquet"] * 2


_LATEST_SQL = """
    SELECT bucket, run_id, rows, kept FROM (
        SELECT *, row_number() OVER (
            PARTITION BY bucket ORDER BY committed_at DESC, run_id DESC
        ) AS rn
        FROM manifest_entries WHERE status = 'done'
    ) WHERE rn = 1
"""


def _sql_latest(spark, manifest: str) -> dict:
    """The manifest's latest-row-per-bucket rule, as the SQL window it
    replaced."""
    spark.read.parquet(f"{manifest}/entries").createOrReplaceTempView("manifest_entries")
    return {
        int(r["bucket"]): (r["run_id"], r["rows"], r["kept"])
        for r in spark.sql(_LATEST_SQL).collect()
    }


def _assert_plan_matches_sql(spark, manifest: str, result: dict) -> dict:
    from data_curator_spark.pipeline.runner import completed_buckets, latest_entries

    want = _sql_latest(spark, manifest)
    got = {b: (e["run_id"], e["rows"], e["kept"]) for b, e in latest_entries(spark, manifest).items()}
    assert got == want
    assert completed_buckets(spark, manifest) == sorted(want)
    assert result["rows_total"] == sum(r for _, r, _ in want.values())
    assert result["rows_kept"] == sum(k for _, _, k in want.values())
    return want


def test_manifest_plan_tie_break_parity_runner(spark, corpus_path, tmp_path):
    """The driver-side latest-entry reduction, and the run totals built
    from it, equal the row_number() window rule on a hand-built manifest
    with a rewritten bucket, a committed_at tie broken by run_id, and
    non-'done' rows — on a no-op re-submit and on a run that merges
    freshly committed entries into the plan."""
    from data_curator_spark.pipeline.runner import ENTRIES_SCHEMA

    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    rows = [
        # (run_id, bucket, rows, kept, status, committed_at)
        ("ra", 0, 10, 7, "done", 100.0),
        ("rz", 0, 99, 99, "failed", 900.0),  # newer, but not done
        ("ra", 1, 11, 5, "done", 100.0),
        ("rb", 1, 12, 6, "done", 200.0),  # bucket 1 rewritten
        ("rd", 2, 14, 3, "done", 300.0),  # tie on committed_at:
        ("rc", 2, 13, 4, "done", 300.0),  # run_id desc picks rd
        ("ra", 3, 15, 9, "done", 100.0),
    ]
    spark.createDataFrame(
        [(r, b, n, k, n - k, 0, s, 1.0, t) for r, b, n, k, s, t in rows], ENTRIES_SCHEMA
    ).write.parquet(f"{manifest}/entries")

    noop = run_pipeline(spark, corpus_path, out_dir, manifest, n_buckets=4)
    assert (noop["buckets_processed"], noop["buckets_skipped"]) == (0, 4)
    want = _assert_plan_matches_sql(spark, manifest, noop)
    assert {b: r for b, (r, _, _) in want.items()} == {0: "ra", 1: "rb", 2: "rd", 3: "ra"}

    grown = run_pipeline(spark, corpus_path, out_dir, manifest, n_buckets=5)
    assert (grown["buckets_processed"], grown["buckets_skipped"]) == (1, 4)
    want = _assert_plan_matches_sql(spark, manifest, grown)
    assert want[4][0] == grown["run_id"]


def test_manifest_plan_tie_break_parity_mvcc_backfill(spark, corpus_path, tmp_path):
    """Same parity for the MVCC layout: a backfill (reprocess_buckets)
    over a manifest holding committed_at ties on two buckets — one won
    by a higher run_id, one lost by a lower one. Totals and the
    reader's (run_id, bucket) selection follow the window rule."""
    from data_curator_spark.pipeline.mvcc import _current_pairs, run_pipeline_mvcc
    from data_curator_spark.pipeline.runner import ENTRIES_SCHEMA

    out_dir = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    r1 = run_pipeline_mvcc(spark, corpus_path, out_dir, manifest, n_buckets=4)
    at = {
        int(r["bucket"]): r["committed_at"]
        for r in spark.read.parquet(f"{manifest}/entries").collect()
    }
    spark.createDataFrame(
        [
            ("r" + "f" * 11, 1, 5, 2, 3, 0, "done", 1.0, at[1]),  # wins the tie
            ("r" + "0" * 11, 2, 6, 1, 5, 0, "done", 1.0, at[2]),  # loses it
        ],
        ENTRIES_SCHEMA,
    ).write.mode("append").parquet(f"{manifest}/entries")

    r2 = run_pipeline_mvcc(
        spark, corpus_path, out_dir, manifest, n_buckets=4, reprocess_buckets={0}
    )
    assert r2["operation"] == "backfill" and r2["buckets_processed"] == 1
    want = _assert_plan_matches_sql(spark, manifest, r2)
    assert {b: r for b, (r, _, _) in want.items()} == {
        0: r2["run_id"], 1: "r" + "f" * 11, 2: r1["run_id"], 3: r1["run_id"],
    }
    assert _current_pairs(spark, manifest) == [(want[b][0], b) for b in sorted(want)]
