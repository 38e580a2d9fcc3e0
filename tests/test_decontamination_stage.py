"""The pipeline's decontamination stage against the gate query's operator.

``stages.with_decontamination`` runs ``dedup.contamination_overlap``
(the ``decontaminate`` gate query's operator) over the scrubbed content,
so a row is demoted iff the quality gate kept it and the operator flags
it. These tests pin that equivalence, the set the pipeline demoted
before the stage moved onto the operator, and the edge rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_curator_spark.operators.dedup import contamination_overlap
from data_curator_spark.pipeline.corpus import generate_corpus
from data_curator_spark.pipeline.stages import run_stages, with_decontamination

# (repo, path, commit) demoted on generate_corpus(80, 11) with its first 6
# documents as the benchmark, recorded from the pipeline's previous
# decontamination path (JVM word_shingles + hex_prefix_long, then a
# literal array_intersect) on the same input
PREVIOUS_PATH_DEMOTED = {
    ("org1/repo1", "src/node/queue_5.go", "500413c09ddaa13d971f2e508cc98eac611e43f9"),
    ("org3/repo3", "src/buffer/table_2.js", "bf04d2ded0ac12a5b83a6767b2b723e9c3198b30"),
    ("org3/repo3", "src/node/stack_1.py", "a99f2cb921596be66bca6a98066838c99bd15969"),
    ("org4/repo4", "src/handler/value_3.go", "0bcdc985c62cdbb816e23c16028c81656d03677c"),
}

KEY = ["repo", "path", "commit"]


def _keys(df):
    return {tuple(r) for r in df.select(*KEY).collect()}


def test_pipeline_flags_equal_gate_operator(spark):
    corpus = generate_corpus(80, seed=11)
    raw = spark.createDataFrame(corpus)
    # benchmark = 6 corpus contents verbatim (worst-case leak: the eval
    # set is IN the training crawl)
    bench = spark.createDataFrame(corpus.iloc[:6][["content"]])

    gated = run_stages(raw, spark)
    out = run_stages(raw, spark, benchmark=bench)
    got = _keys(out.filter(F.col("drop_reason") == "contaminated"))

    # the operator over the same scrubbed content, restricted to the
    # rows the quality gate kept
    keyed = gated.withColumn("file_id", F.concat_ws("\x1f", *KEY))
    flagged = contamination_overlap(
        keyed,
        bench.select(F.lit("").alias("file_id"), F.col("content").alias("content_scrubbed")),
        "file_id", "content_scrubbed", shingle_n=5,
    )
    assert flagged.count() >= 6  # the 6 verbatim leaks at minimum
    want = _keys(keyed.filter("keep").join(flagged, on="file_id"))

    assert got == want == PREVIOUS_PATH_DEMOTED
    assert out.filter(F.col("keep").isNull()).count() == 0
    assert out.filter("keep AND drop_reason = 'contaminated'").count() == 0
    # every other row keeps the quality gate's decision
    decided = {tuple(r) for r in gated.select(*KEY, "keep", "drop_reason").collect()}
    after = {tuple(r) for r in out.select(*KEY, "keep", "drop_reason").collect()}
    assert {r for r in after if r[:3] not in got} == {
        r for r in decided if r[:3] not in got
    }


def test_edge_rows_null_short_and_per_commit(spark):
    leak = "def handler value config return stream window batch table"
    rows = [
        # two commits of one file: only the first carries the leak
        ("r", "a.py", "c1", leak, True, None),
        ("r", "a.py", "c2", "import os print len range dict list str", True, None),
        # NULL content and a doc shorter than one 5-gram: no grams
        ("r", "b.py", "c1", None, True, None),
        ("r", "c.py", "c1", "def handler value", True, None),
        # already dropped: keeps its own reason
        ("r", "d.py", "c1", leak, False, "too_short"),
    ]
    df = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, content_scrubbed string, "
        "keep boolean, drop_reason string",
    )
    bench = spark.createDataFrame(
        [(leak,), (None,), ("x y",)], "content string"
    )
    out = {
        (r.path, r.commit): (r.keep, r.drop_reason)
        for r in with_decontamination(df, bench).collect()
    }
    assert out == {
        ("a.py", "c1"): (False, "contaminated"),
        ("a.py", "c2"): (True, None),
        ("b.py", "c1"): (True, None),
        ("c.py", "c1"): (True, None),
        ("d.py", "c1"): (False, "too_short"),
    }
