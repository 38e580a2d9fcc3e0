"""Deterministic hash sampling: reproducible across partitionings and
engines, per-stratum rates, salt independence."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_curator_spark.operators.sampling import stratified_sample


def uniform_sample(df, rate_permille, salt="sample"):
    """A uniform hash sample: the empty rate map sends every row through
    ``sample_gate`` at ``rate_permille``."""
    return stratified_sample(df, "doc_id", "doc_id", {}, rate_permille, salt=salt)


def test_sample_invariant_under_partitioning(spark):
    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in uniform_sample(df, 100).collect()}
    b = {r["doc_id"] for r in uniform_sample(df.repartition(17), 100).collect()}
    assert a == b  # df.sample would fail this
    assert 0.07 < len(a) / 5000 < 0.13  # ~10%


def test_salts_give_independent_samples(spark):
    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in uniform_sample(df, 200, salt="s1").collect()}
    b = {r["doc_id"] for r in uniform_sample(df, 200, salt="s2").collect()}
    overlap = len(a & b) / max(len(a), 1)
    assert 0.1 < overlap < 0.35  # ~rate of an independent 20% sample


def test_stratified_rates(spark):
    df = spark.range(9000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("web"), F.lit("wiki"), F.lit("books")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("source"),
    )
    out = stratified_sample(
        df, "doc_id", "source", {"web": 50, "wiki": 800}, default_permille=300
    )
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0.02 < counts["web"] / 3000 < 0.08
    assert 0.75 < counts["wiki"] / 3000 < 0.85
    assert 0.25 < counts["books"] / 3000 < 0.35


def test_scan_level_filter_no_shuffle(spark, tmp_path):
    """The sample predicate must stay a scan-level Filter — zero
    exchanges in the plan."""
    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    df.write.mode("overwrite").parquet(str(tmp_path / "ids"))
    src = spark.read.parquet(str(tmp_path / "ids"))
    plan = uniform_sample(src, 100)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan


def test_hash_split_disjoint_total_and_deterministic(spark):
    from data_curator_spark.operators.sampling import hash_split

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    out = hash_split(
        df, "doc_id", {"train": 900, "val": 50, "test": 50}, salt="s1"
    )
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 2000  # total: every row assigned exactly once
    from collections import Counter

    c = Counter(rows.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > 1600 and 40 <= c["val"] + c["test"] <= 350
    # deterministic under repartitioning
    rows2 = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            df.repartition(7), "doc_id", {"train": 900, "val": 50, "test": 50},
            salt="s1",
        ).collect()
    }
    assert rows2 == rows
    # different salt -> different assignment (independence)
    rows3 = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            df, "doc_id", {"train": 900, "val": 50, "test": 50}, salt="s2"
        ).collect()
    }
    assert rows3 != rows

    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1000"):
        hash_split(df, "doc_id", {"train": 900, "val": 50})


def test_pack_sequences_arithmetic_and_shard_independence(spark):
    from data_curator_spark.operators.sampling import pack_sequences

    rows = [
        (1, "a", 3000), (2, "a", 2000), (3, "a", 2000), (4, "a", 500),
        (10, "b", 4096), (11, "b", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = pack_sequences(df, "doc_id", "n_chars", 4096, "lang", salt="t")
    got = {r["doc_id"]: (r["pack_bin"], r["pack_offset"]) for r in out.collect()}

    # reconstruct the expected order with the same portable gate
    from data_curator_spark.operators.sampling import sample_gate

    order = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", sample_gate(F.col("doc_id"), "t").alias("g")).collect()
    }
    for lang, ids in (("a", [1, 2, 3, 4]), ("b", [10, 11])):
        ordered = sorted(ids, key=lambda i: (order[i], i))
        cum = 0
        sizes = dict((r[0], r[2]) for r in rows)
        for i in ordered:
            assert got[i] == (cum // 4096, cum % 4096), (i, got[i], cum)
            cum += sizes[i]
    # shard 'b' packs independently of shard 'a' (bins restart at 0)
    b_bins = {got[10], got[11]}
    assert any(bin_ == 0 and off == 0 for bin_, off in b_bins)


def test_contamination_overlap_planted(spark):
    from data_curator_spark.operators.dedup import contamination_overlap

    secret = "alpha bravo charlie delta echo foxtrot golf hotel"
    bench = spark.createDataFrame(
        [(100, f"benchmark question text {secret} answer choices")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, f"training doc that leaked {secret} verbatim here"),
            (2, f"another leak: {secret}."),
            (3, "totally clean document with its own unrelated words"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_overlap_grams"]
        for r in contamination_overlap(
            corpus, bench, "doc_id", "text", shingle_n=5, min_overlap=1
        ).collect()
    }
    assert set(out) == {1, 2}
    # doc 1 shares the full 8-word secret -> 4 distinct 5-grams
    assert out[1] == 4
    # doc 2 ends with 'foxtrot.' (punctuation breaks the last grams)
    assert out[2] >= 1


def test_theta_distinct_estimate_accuracy(spark):
    """Deterministic sketch: estimate within ~3/sqrt(n_sampled) of the
    exact distinct count on a high-cardinality group, and every group
    present (even ones whose sample is tiny — small groups are noisy by
    design; callers read n_sampled as the confidence signal). Data is
    fixed, so these are hard assertions, not flaky statistical ones."""
    from data_curator_spark.operators.sampling import theta_distinct_estimate

    df = spark.range(50_000).select(
        F.lit("big").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("v")
    ).unionByName(
        spark.range(40).select(
            F.lit("small").alias("g"), F.concat(F.lit("w"), F.col("id")).alias("v")
        )
    )
    est = {
        r["g"]: (r["est_distinct"], r["n_sampled"])
        for r in theta_distinct_estimate(df, "g", "v", log2_ratio=4).collect()
    }
    assert set(est) == {"big", "small"}  # tiny groups survive (maybe 0s)
    assert est["small"][0] == est["small"][1] * 16
    e, n_sampled = est["big"]
    assert n_sampled > 2000
    rel = abs(e - 50_000) / 50_000
    assert rel < 3.0 / (n_sampled ** 0.5), (e, rel)
    # duplicates never inflate the estimate (sketch is over DISTINCT hashes)
    est2 = {
        r["g"]: r["est_distinct"]
        for r in theta_distinct_estimate(
            df.unionByName(df), "g", "v", log2_ratio=4
        ).collect()
    }
    assert est2["big"] == e


def test_pack_sequences_property_matches_pandas_replay(spark):
    """Property check on irregular sizes (hypothesis-style but with a
    fixed seed so the Spark round-trip stays one job): for every shard,
    offsets/bins must equal a pandas replay of the same portable order,
    bins are non-decreasing along the order, and offset < context."""
    import random

    rng = random.Random(7)
    rows = [
        (i, f"s{rng.randrange(5)}", rng.choice([0, 1, 17, 4095, 4096, 4097, 90000]))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, shard string, sz long")
    from data_curator_spark.operators.sampling import pack_sequences, sample_gate

    got = {
        r["doc_id"]: (r["pack_bin"], r["pack_offset"])
        for r in pack_sequences(df, "doc_id", "sz", 4096, "shard", salt="p").collect()
    }
    order = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", sample_gate(F.col("doc_id"), "p").alias("g")).collect()
    }
    by_shard: dict = {}
    for i, shard, sz in rows:
        by_shard.setdefault(shard, []).append((i, sz))
    for shard, members in by_shard.items():
        cum = 0
        last_bin = -1
        for i, sz in sorted(members, key=lambda t: (order[t[0]], t[0])):
            b, off = got[i]
            assert (b, off) == (cum // 4096, cum % 4096), (shard, i)
            assert off < 4096 and b >= last_bin
            last_bin = b
            cum += sz


def test_contamination_overlap_empty_benchmark(spark):
    from data_curator_spark.operators.dedup import contamination_overlap

    corpus = spark.createDataFrame(
        [(1, "some words repeated words and more words here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([], "doc_id long, text string")
    assert contamination_overlap(corpus, bench, "doc_id", "text").count() == 0


def test_budget_sample_quota_semantics(spark):
    from data_curator_spark.operators.sampling import budget_sample

    rows = [(i, "en" if i % 2 else "de", 100) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = budget_sample(
        df, "doc_id", "n_chars", "lang",
        budgets={"en": 450}, default_budget=200, salt="t",
    )
    by_lang = {
        r.lang: r.total
        for r in out.groupBy("lang").agg(F.sum("n_chars").alias("total")).collect()
    }
    # quota-fill: kept total is the smallest prefix sum >= budget,
    # overshooting by at most one doc (here 100 chars)
    assert 450 <= by_lang["en"] <= 549
    assert 200 <= by_lang["de"] <= 299


def test_budget_sample_zero_budget_drops_and_positive_keeps_one(spark):
    from data_curator_spark.operators.sampling import budget_sample

    df = spark.createDataFrame(
        [(1, "a", 10_000), (2, "a", 10_000), (3, "b", 99)],
        "doc_id long, lang string, n_chars long",
    )
    out = budget_sample(
        df, "doc_id", "n_chars", "lang",
        budgets={"a": 1, "b": 0}, default_budget=0, salt="t",
    ).collect()
    # budget 1 < any doc size still keeps exactly one doc (cum_prev=0);
    # budget 0 drops the stratum entirely
    assert len(out) == 1 and out[0].lang == "a"


def test_budget_sample_partitioning_invariant(spark):
    from data_curator_spark.operators.sampling import budget_sample

    rows = [(i, ["en", "de", "fr"][i % 3], 50 + i) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    kw = dict(budgets={"en": 900}, default_budget=700, salt="t")
    a = {r.doc_id for r in budget_sample(df, "doc_id", "n_chars", "lang", **kw).collect()}
    b = {
        r.doc_id
        for r in budget_sample(
            df.repartition(7), "doc_id", "n_chars", "lang", **kw
        ).collect()
    }
    assert a == b and len(a) > 0


def test_budget_sample_validation(spark):
    import pytest as _pytest

    from data_curator_spark.operators.sampling import budget_sample

    df = spark.createDataFrame([(1, "a", 1)], "doc_id long, lang string, n_chars long")
    with _pytest.raises(ValueError):
        budget_sample(df, "doc_id", "n_chars", "lang", budgets={"a": -1})
    with _pytest.raises(ValueError):
        budget_sample(df, "doc_id", "n_chars", "lang", budgets={}, default_budget=-5)


def test_hash_split_rejects_negative_permille(spark):
    import pytest as _pytest

    from data_curator_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(1,)], "doc_id long")
    with _pytest.raises(ValueError, match=">= 0"):
        hash_split(df, "doc_id", {"train": 1100, "val": -100})


def test_pack_sequences_rejects_bad_context_len(spark):
    import pytest as _pytest

    from data_curator_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame([(1, "a", 10)], "doc_id long, lang string, n_chars long")
    with _pytest.raises(ValueError, match="context_len"):
        pack_sequences(df, "doc_id", "n_chars", 0, "lang")


def test_theta_distinct_null_group_counted(spark):
    from data_curator_spark.operators.sampling import theta_distinct_estimate

    rows = [(None, f"v{i}") for i in range(2000)] + [("g", f"w{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "grp string, val string")
    out = {r.grp: r for r in theta_distinct_estimate(df, "grp", "val").collect()}
    assert set(out) == {None, "g"}
    # the NULL group's 2000 values must actually be sampled (the old
    # null-unsafe equi-join reported 0 forever)
    assert out[None].n_sampled > 0 and out[None].est_distinct > 0


def test_budget_sample_monotone_in_budget(spark):
    """Raising a stratum's budget only ADDS documents (the hash order
    and running sums are fixed, the threshold moves) — the property
    that makes budget sweeps reproducible supersets."""
    from data_curator_spark.operators.sampling import budget_sample

    rows = [(i, "en", 37 + (i * 13) % 91) for i in range(1, 200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    prev: set = set()
    for budget in (0, 100, 500, 2000, 10_000_000):
        kept = {
            r.doc_id
            for r in budget_sample(
                df, "doc_id", "n_chars", "lang", budgets={"en": budget}, salt="m"
            ).collect()
        }
        assert prev <= kept, budget
        prev = kept
    assert len(prev) == 199  # huge budget keeps everything


def test_shuffle_shards_deterministic_across_partitionings(spark):
    """The (shuffle_key, shard, shard_pos) triple is a pure function of
    (id, salt, n_shards): identical whether the input arrives as one
    partition or thirty-two randomly-ordered ones — the property that
    makes the shard writer byte-identical at N vs 4N executors."""
    from data_curator_spark.operators.sampling import shuffle_shards

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {
        (r.doc_id, r.shuffle_key, r.shard, r.shard_pos)
        for r in shuffle_shards(df.coalesce(1), "doc_id", 8).collect()
    }
    b = {
        (r.doc_id, r.shuffle_key, r.shard, r.shard_pos)
        for r in shuffle_shards(
            df.repartition(32, F.rand(7)), "doc_id", 8
        ).collect()
    }
    assert a == b
    # shard_pos is a 0-based total rank within each shard
    by_shard: dict = {}
    for _, key, shard, pos in a:
        by_shard.setdefault(shard, []).append((pos, key))
    assert set(by_shard) == set(range(8))
    for shard, items in by_shard.items():
        items.sort()
        assert [p for p, _ in items] == list(range(len(items)))
        keys = [k for _, k in items]
        assert keys == sorted(keys)  # intra-shard order follows the key


def test_shuffle_shards_salt_gives_independent_permutation(spark):
    from data_curator_spark.operators.sampling import shuffle_shards

    df = spark.createDataFrame([(i,) for i in range(400)], "doc_id long")
    a = {r.doc_id: r.shard for r in shuffle_shards(df, "doc_id", 8).collect()}
    b = {
        r.doc_id: r.shard
        for r in shuffle_shards(df, "doc_id", 8, salt="epoch2").collect()
    }
    moved = sum(1 for i in a if a[i] != b[i])
    assert moved > 200  # ~7/8 expected to move under an independent hash
    # md5 balance: no shard is empty or dominant
    from collections import Counter

    sizes = Counter(a.values())
    assert len(sizes) == 8
    assert max(sizes.values()) < 2.5 * min(sizes.values())


def test_shuffle_shards_validation(spark):
    import pytest as _pytest

    from data_curator_spark.operators.sampling import shuffle_shards

    df = spark.createDataFrame([(1,)], "doc_id long")
    with _pytest.raises(ValueError):
        shuffle_shards(df, "doc_id", 0)


def test_chunk_documents_reconstruction_and_bounds(spark):
    """Stripping each chunk's leading overlap and concatenating in
    chunk_idx order reproduces the original text exactly; starts follow
    the stride; every chunk is non-empty and within size."""
    from data_curator_spark.operators.sampling import chunk_documents

    import numpy as np

    rng = np.random.default_rng(5)
    docs = [
        (i, "".join(chr(97 + int(c)) for c in rng.integers(0, 26, int(n))))
        for i, n in enumerate(rng.integers(0, 45, 60))
    ] + [(1000, ""), (1001, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    chunk, overlap = 10, 3
    out = chunk_documents(df, "doc_id", "text", chunk, overlap).collect()
    by: dict = {}
    for r in out:
        by.setdefault(r.doc_id, []).append(r)
    assert 1001 not in by  # null text -> no rows
    assert [r.chunk_text for r in by[1000]] == [""]  # empty -> one empty
    stride = chunk - overlap
    for doc_id, text in docs:
        if text is None:
            continue
        rows = sorted(by[doc_id], key=lambda r: r.chunk_idx)
        assert [r.chunk_idx for r in rows] == list(range(len(rows)))
        rebuilt = rows[0].chunk_text + "".join(
            r.chunk_text[overlap:] for r in rows[1:]
        )
        assert rebuilt == text, doc_id
        for r in rows:
            assert r.chunk_start == r.chunk_idx * stride
            assert len(r.chunk_text) <= chunk
            if r.chunk_idx > 0:  # every later chunk adds new content
                assert len(r.chunk_text) > overlap


def test_chunk_documents_validation(spark):
    import pytest as _pytest

    from data_curator_spark.operators.sampling import chunk_documents

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", 0)
    with _pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", 10, 10)


def test_fim_transform_reassembly_and_determinism(spark):
    """prefix || middle || suffix == text for every row; the split is a
    pure function of (id, salt) — partitioning-invariant — and a
    different salt produces different cuts; both psm and spm occur."""
    from data_curator_spark.operators.sampling import fim_transform

    import numpy as np

    rng = np.random.default_rng(11)
    docs = [
        (i, "".join(chr(97 + int(c)) for c in rng.integers(0, 26, int(n))))
        for i, n in enumerate(rng.integers(0, 80, 120))
    ] + [(999, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = {r.doc_id: r for r in fim_transform(df, "doc_id", "text").collect()}
    b = {
        r.doc_id: r
        for r in fim_transform(
            df.repartition(16, F.rand(2)), "doc_id", "text"
        ).collect()
    }
    for doc_id, text in docs:
        r = a[doc_id]
        assert r.fim_prefix + r.fim_middle + r.fim_suffix == text
        assert tuple(r) == tuple(b[doc_id])  # partitioning-invariant
    assert {r.fim_mode for r in a.values()} == {"psm", "spm"}
    c = {
        r.doc_id: r
        for r in fim_transform(df, "doc_id", "text", salt="epoch2").collect()
    }
    moved = sum(
        1
        for i in a
        if len(a[i].fim_prefix) != len(c[i].fim_prefix)
        and len(a[i].fim_prefix or "") + len(a[i].fim_middle or "") > 0
    )
    assert moved > 60  # independent cuts under a different salt


def test_hash_primitives_properties(spark):
    """Hypothesis property pass over the portable-hash primitives the
    samplers/shufflers share: gate range, split totality+disjointness,
    and chunk reconstruction on adversarial text (whitespace, unicode,
    newline runs)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_curator_spark.operators.sampling import chunk_documents

    texts = st.text(
        alphabet=st.characters(
            whitelist_categories=("L", "N", "P", "Z"), whitelist_characters="\n\t"
        ),
        max_size=200,
    )

    @settings(max_examples=30, deadline=None)
    @given(st.lists(texts, min_size=1, max_size=8), st.integers(2, 20), st.integers(0, 5))
    def check(docs, chunk, overlap):
        if overlap >= chunk:
            overlap = chunk - 1
        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        )
        rows = chunk_documents(df, "doc_id", "text", chunk, overlap).collect()
        by: dict = {}
        for r in rows:
            by.setdefault(r.doc_id, []).append(r)
        for i, text in enumerate(docs):
            parts = sorted(by[i], key=lambda r: r.chunk_idx)
            rebuilt = parts[0].chunk_text + "".join(
                p.chunk_text[overlap:] for p in parts[1:]
            )
            assert rebuilt == text

    check()


def test_temperature_rates_properties():
    """alpha=1 reproduces natural proportions; alpha->0 approaches
    uniform; low-resource strata get boosted rates; caps at 1000."""
    from data_curator_spark.operators.sampling import temperature_rates_permille

    counts = {"en": 8000, "de": 1500, "sw": 500}
    nat = temperature_rates_permille(counts, 1.0, 1000)
    # alpha=1: expected kept per stratum = n/N*target -> rate = target/N
    assert nat == {"en": 100, "de": 100, "sw": 100}
    cool = temperature_rates_permille(counts, 0.3, 1000)
    assert cool["sw"] > cool["de"] > cool["en"]  # low-resource boost
    # tiny stratum + low alpha: rate caps at 1000 (keep everything)
    tiny = temperature_rates_permille({"en": 100000, "xx": 3}, 0.1, 50000)
    assert tiny["xx"] == 1000
    assert temperature_rates_permille({"a": 5}, 0.5, 0) == {"a": 0}
    assert temperature_rates_permille({"a": 0, "b": 5}, 0.5, 10)["a"] == 0


def test_temperature_sample_deterministic(spark):
    from data_curator_spark.operators.sampling import temperature_sample

    rows = [(i, "en" if i % 10 else "sw") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    a = {r.doc_id for r in temperature_sample(df, "doc_id", "lang", 0.4, 100).collect()}
    b = {
        r.doc_id
        for r in temperature_sample(
            df.repartition(16, F.rand(9)), "doc_id", "lang", 0.4, 100
        ).collect()
    }
    assert a == b
    kept = {r.doc_id % 10 == 0: 0 for r in []}
    sw = sum(1 for i in a if i % 10 == 0)
    en = len(a) - sw
    # sw is 10% of docs but must be kept at a HIGHER rate than en
    assert sw / 100 > en / 900
