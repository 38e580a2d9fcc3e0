"""Dedup operator semantics: MinHash estimate quality, LSH candidate
recall, SimHash hamming behavior, exact-dup grouping."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_curator_spark.operators import dedup as D


def _mk_docs(spark, docs):
    return spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(200)]
    base_docs = [
        " ".join(rng.choice(vocab, 60)) for _ in range(10)
    ]
    docs = list(base_docs)
    # docs 10..14: near-dups of docs 0..4 (replace 3 of 60 words)
    for i in range(5):
        words = base_docs[i].split()
        for j in range(3):
            words[int(rng.integers(0, len(words)))] = "CHANGED" + str(j)
        docs.append(" ".join(words))
    # doc 15: exact dup of doc 0
    docs.append(base_docs[0])
    return _mk_docs(spark, docs), docs


def _true_jaccard(a: str, b: str, n=3) -> float:
    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B)


def test_exact_duplicates(spark, near_dup_docs):
    df, docs = near_dup_docs
    out = D.exact_duplicates(df, "doc_id", "text").collect()
    assert len(out) == 1
    assert out[0]["canonical_id"] == 0 and out[0]["n_members"] == 2


def test_ngram_jaccard_exact_values(spark, near_dup_docs):
    df, docs = near_dup_docs
    # every pair as a candidate: verify computes the exact all-pairs value
    ids = df.select("doc_id")
    pairs = ids.withColumnRenamed("doc_id", "id_a").crossJoin(
        ids.withColumnRenamed("doc_id", "id_b")
    ).filter("id_a < id_b")
    out = D.ngram_jaccard_verify(df, pairs, "doc_id", "text", threshold=0.3).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    # near-dup pairs present with the true jaccard value
    for i in range(5):
        pair = (i, i + 10)
        assert pair in got
        assert got[pair] == pytest.approx(_true_jaccard(docs[i], docs[i + 10]))
    assert got[(0, 15)] == pytest.approx(1.0)


def test_minhash_lsh_recall_and_estimate(spark, near_dup_docs):
    df, docs = near_dup_docs
    sigs = D.minhash_signatures(df, "doc_id", "text", k=64)
    pairs = D.lsh_candidate_pairs(sigs, "doc_id", k=64, bands=16).collect()
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    # all true near-dup pairs are candidates (high-sim ⇒ ≥1 band collides)
    for i in range(5):
        assert (i, i + 10) in got
        true_j = _true_jaccard(docs[i], docs[i + 10])
        assert got[(i, i + 10)] == pytest.approx(true_j, abs=0.25)
    assert got[(0, 15)] == 1.0  # exact dup: all minhashes equal


def test_simhash_near_pairs(spark, near_dup_docs):
    df, docs = near_dup_docs
    fps = D.simhash(df, "doc_id", "text")
    rows = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    # exact dup → identical fingerprints
    assert rows[0] == rows[15]
    pairs = D.simhash_near_pairs(fps, "doc_id", max_hamming=15).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got[(0, 15)] == 0
    # near-dups (true hamming ≤ 13 for this fixture) all found — the
    # pigeonhole banding guarantees completeness within the radius
    for i in range(5):
        assert (i, i + 10) in got
    # unrelated docs (hamming ≈ 21) excluded
    assert (1, 2) not in got


def test_word_shingles_edgecases(spark):
    df = spark.createDataFrame(
        [(0, "a b"), (1, ""), (2, "a b c d")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", D.word_shingles(F.col("text"), 3).alias("sh")
    ).collect()}
    assert out[0] == []  # fewer words than n
    assert out[1] == []
    assert out[2] == ["a b c", "b c d"]


def test_connected_components_chains_and_singletons(spark):
    """Min-label propagation handles multi-hop chains (diameter > 1),
    singletons, and cleans up its per-round caches inside a scope."""
    from data_curator_spark.engine.cache import cache_scope
    from data_curator_spark.operators.dedup import connected_components

    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11]], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    from data_curator_spark.engine.cache import persisted_rdd_ids, unpersist_rdd_ids

    spark.catalog.clearCache()
    unpersist_rdd_ids(spark, persisted_rdd_ids(spark), blocking=True)
    with cache_scope():
        out = connected_components(verts, pairs, "doc_id", driver_solve_edge_cap=0)
        got = {
            r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in out.collect()
        }
        # only the FINAL round's localCheckpoint is still held (by `out`);
        # superseded rounds were released eagerly
        live = persisted_rdd_ids(spark)
        # final-round checkpoint + scoped edges + the materialized
        # vertex-filtered relabel frame — all tracked, all released below
        assert len(live) <= 3, live
    # scope released the persist_tracked edges; drop the final checkpoint
    unpersist_rdd_ids(spark, persisted_rdd_ids(spark), blocking=True)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        5: (5, True), 10: (10, True), 11: (10, False),
    }


def test_connected_components_long_chain_converges(spark):
    """A 12-hop chain needs several propagation rounds; min-label must
    still reach the far end (and the checksum fixpoint must not stop
    early on a still-moving labeling)."""
    from data_curator_spark.operators.dedup import connected_components

    from data_curator_spark.engine.cache import (
        cache_scope,
        persisted_rdd_ids,
        unpersist_rdd_ids,
    )

    n = 13
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with cache_scope():
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(
                verts, pairs, "doc_id", driver_solve_edge_cap=0
            ).collect()
        }
    unpersist_rdd_ids(spark, persisted_rdd_ids(spark), blocking=True)
    assert got == {i: 0 for i in range(n)}


def test_connected_components_string_ids(spark):
    """Type-agnostic convergence: string doc ids (sha/uuid-style) work —
    a numeric label checksum would throw or never converge here."""
    from data_curator_spark.operators.dedup import connected_components

    verts = spark.createDataFrame(
        [("aa",), ("bb",), ("cc",), ("zz",)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("bb", "cc"), ("aa", "bb")], "id_a string, id_b string"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in connected_components(
            verts, pairs, "doc_id", driver_solve_edge_cap=0
        ).collect()
    }
    assert got == {
        "aa": ("aa", True), "bb": ("aa", False), "cc": ("aa", False),
        "zz": ("zz", True),
    }


def test_connected_components_dangling_pair_ids(spark):
    """Review r3: a pair id missing from `vertices` must still CARRY
    connectivity but never become a cluster_id — every cluster gets a
    canonical member that is a real vertex."""
    from data_curator_spark.operators.dedup import connected_components

    verts = spark.createDataFrame([(5,), (6,), (9,)], "doc_id long")
    # 3 is dangling; it links 5 and 6 transitively and has the min id
    pairs = spark.createDataFrame([(5, 3), (6, 3)], "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in connected_components(verts, pairs, "doc_id").collect()
    }
    assert got == {5: (5, True), 6: (5, False), 9: (9, True)}


def test_connected_components_deep_chain_logarithmic(spark):
    """r3 verdict item 6: the adaptive pointer compression's O(log d)
    claim, pinned at depth. A 10^4-long chain must converge in
    ~2*log2(d)+3 rounds (plain min-propagation would need d rounds),
    and checkpoint-block recycling must hold the simultaneously-live
    checkpoint RDD count at <= 4 regardless of depth — the invariant
    that keeps a 100x-deeper graph from exhausting storage memory."""
    import math

    from data_curator_spark.operators.dedup import connected_components

    n = 10_000
    ids = [(f"d{i:05d}",) for i in range(n)]
    chain = [(f"d{i:05d}", f"d{i+1:05d}") for i in range(n - 1)]
    vertices = spark.createDataFrame(ids, "doc_id string")
    pairs = spark.createDataFrame(chain, "id_a string, id_b string")

    stats: dict = {}
    out = connected_components(
        vertices, pairs, "doc_id", max_iter=40, stats=stats,
        driver_solve_edge_cap=0,
    )
    rows = out.collect()
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} == {"d00000"}
    assert sum(r["is_canonical"] for r in rows) == 1

    d = n - 1
    bound = 2 * math.log2(d) + 3
    assert stats["driver_solve"] is False
    assert stats["rounds"] <= bound, (stats, bound)
    assert stats["peak_checkpoint_rdds"] <= 4, stats


def test_dedup_lines_first_occurrence_order(spark):
    from pyspark.sql import functions as F

    from data_curator_spark.functions.text import dedup_lines

    text = "a\nb\na\nc\nb\na"
    out = spark.createDataFrame([(text,)], "text string").select(
        dedup_lines(F.col("text")).alias("c")
    ).first()["c"]
    assert out == "a\nb\nc"


def test_strip_hot_segments_line_granularity(spark):
    """The code-corpus use: license-header lines shared by >= min_df
    docs are stripped; unique lines survive in order; a doc that was
    ALL boilerplate becomes '', null text stays null."""
    from data_curator_spark.operators.dedup import strip_hot_segments

    header = "# licensed under apache-2.0\n# all rights reserved"
    rows = [
        (1, header + "\ndef f():\n    return 1"),
        (2, header + "\ndef g():\n    return 2"),
        (3, header),                      # pure boilerplate
        (4, "def h():\n    return 3"),    # no boilerplate
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: r.text_stripped
        for r in strip_hot_segments(df, "doc_id", "text", min_df=3).collect()
    }
    assert out[1] == "def f():\n    return 1"
    assert out[2] == "def g():\n    return 2"
    assert out[3] == ""
    assert out[4] == "def h():\n    return 3"
    assert out[5] is None


def test_strip_hot_segments_threshold_and_order(spark):
    from data_curator_spark.operators.dedup import strip_hot_segments

    df = spark.createDataFrame(
        [(1, "x\ny\nz"), (2, "y\nx"), (3, "z\nx\nq")],
        "doc_id int, text string",
    )
    # x in 3 docs, y and z in 2, q in 1 -> min_df=3 strips only x
    out = {
        r.doc_id: r.text_stripped
        for r in strip_hot_segments(df, "doc_id", "text", min_df=3).collect()
    }
    assert out == {1: "y\nz", 2: "y", 3: "z\nq"}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        strip_hot_segments(df, "doc_id", "text", min_df=0)
    with _pytest.raises(ValueError, match="delimiter"):
        strip_hot_segments(df, "doc_id", "text", min_df=3, delimiter="")


def test_strip_hot_segments_intra_doc_repeats_count_once(spark):
    """DF semantics: 100 copies inside ONE doc contribute 1 to the
    document frequency (per-doc distinct before the count)."""
    from data_curator_spark.operators.dedup import strip_hot_segments

    df = spark.createDataFrame(
        [(1, "\n".join(["spam"] * 100)), (2, "ham")],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r.text_stripped
        for r in strip_hot_segments(df, "doc_id", "text", min_df=2).collect()
    }
    # spam's DF is 1, below min_df=2: nothing stripped
    assert out[1] == "\n".join(["spam"] * 100)
    assert out[2] == "ham"


def test_dedup_segments_global_first_occurrence(spark):
    """Cross-doc keep rule: only the globally-first occurrence of a
    segment (by doc_id asc, pos asc) survives — including later
    repeats inside the SAME doc; null text stays null; a doc whose
    every segment lost becomes ''."""
    from data_curator_spark.operators.dedup import dedup_segments_global

    rows = [
        (1, "a b c b"),   # intra-doc repeat of b at pos 3 drops too
        (2, "b d a"),     # b, a first seen in doc 1 -> keeps d
        (3, None),
        (4, "a b"),       # everything already seen -> ''
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.text_deduped, r.n_segments, r.n_kept)
        for r in dedup_segments_global(
            df, "doc_id", "text", delimiter=" "
        ).collect()
    }
    assert out[1] == ("a b c", 4, 3)
    assert out[2] == ("d", 3, 1)
    assert out[3] == (None, None, None)
    assert out[4] == ("", 2, 0)


def test_dedup_segments_global_min_len_and_structure(spark):
    """Segments below min_len never participate: they are kept in
    place everywhere (empty segments from doubled delimiters are
    separator structure), and they do not consume a first-occurrence
    slot."""
    from data_curator_spark.operators.dedup import dedup_segments_global

    rows = [(1, "x  y"), (2, "q  r"), (3, "ab x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.text_deduped, r.n_segments, r.n_kept)
        for r in dedup_segments_global(
            df, "doc_id", "text", delimiter=" ", min_len=2
        ).collect()
    }
    # min_len=2: 1-char segments x/y/q/r and '' all non-participating ->
    # kept verbatim everywhere; only 'ab' participates (first in doc 3)
    assert out[1] == ("x  y", 3, 3)
    assert out[2] == ("q  r", 3, 3)
    assert out[3] == ("ab x", 2, 2)


def test_dedup_segments_global_line_granularity(spark):
    """The production shape: newline-delimited paragraphs, the repeated
    paragraph surviving only in the earliest document."""
    from data_curator_spark.operators.dedup import dedup_segments_global

    para = "shared paragraph of boilerplate"
    rows = [(10, f"unique one\n{para}"), (20, f"{para}\nunique two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.text_deduped
        for r in dedup_segments_global(df, "doc_id", "text").collect()
    }
    assert out[10] == f"unique one\n{para}"
    assert out[20] == "unique two"


def test_dedup_segments_global_validates_min_len(spark):
    from data_curator_spark.operators.dedup import dedup_segments_global

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_len"):
        dedup_segments_global(df, "doc_id", "text", min_len=0)
    with pytest.raises(ValueError, match="delimiter"):
        dedup_segments_global(df, "doc_id", "text", delimiter="")


def test_duplicated_span_stats_cross_doc(spark):
    """Windows shared across docs mark both docs; coverage is the
    distinct-token union of overlapping duplicated windows; short and
    unique docs report zeros; null text is excluded."""
    from data_curator_spark.operators.dedup import exact_substring_dedup

    rows = [
        (1, "a b c d e f"),
        (2, "x b c d e y"),
        (3, "p q r"),
        (4, "a b"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_tokens, r.n_dup_windows, r.dup_tokens, r.dup_span_bp)
        for r in exact_substring_dedup(
            df, "doc_id", "text", span_len=3, removal=False
        ).collect()
    }
    # "b c d" and "c d e" are shared; union covers tokens 2-5 (4 of 6)
    assert out[1] == (6, 2, 4, 6666)
    assert out[2] == (6, 2, 4, 6666)
    assert out[3] == (3, 0, 0, 0)
    assert out[4] == (2, 0, 0, 0)
    assert 5 not in out


def test_duplicated_span_stats_intra_doc_repeat(spark):
    """A span repeated inside ONE doc is duplicated too (count is over
    all occurrences, not distinct docs) — the Lee et al. rule."""
    from data_curator_spark.operators.dedup import exact_substring_dedup

    df = spark.createDataFrame(
        [(1, "m n o z m n o")], "doc_id long, text string"
    )
    (r,) = exact_substring_dedup(
        df, "doc_id", "text", span_len=3, removal=False
    ).collect()
    # "m n o" occurs at pos 1 and pos 5 -> both marked, covering 6 of 7
    assert (r.n_tokens, r.n_dup_windows, r.dup_tokens, r.dup_span_bp) == (
        7, 2, 6, 8571,
    )


def test_duplicated_span_stats_validates(spark):
    import pytest

    from data_curator_spark.operators.dedup import exact_substring_dedup

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="span_len"):
        exact_substring_dedup(df, "doc_id", "text", span_len=1, removal=False)


def test_remove_duplicated_spans_keeps_global_first(spark):
    """The globally-first occurrence (by id, pos) of a duplicated
    window survives intact; later occurrences lose the union of their
    covered tokens. Short/unique docs pass through; null and
    whitespace-only text have no row."""
    from data_curator_spark.operators.dedup import exact_substring_dedup

    rows = [
        (1, "a b c d e f"),
        (2, "x b c d e y"),
        (3, "p q r"),
        (4, "   "),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.text_despanned, r.n_tokens, r.n_dropped)
        for r in exact_substring_dedup(
            df, "doc_id", "text", span_len=3, removal=True
        ).collect()
    }
    # doc 1 holds the first occurrence of both shared windows -> intact
    assert out[1] == ("a b c d e f", 6, 0)
    # doc 2's pos-2 and pos-3 windows are later occurrences -> tokens
    # 2..5 cut as one block
    assert out[2] == ("x y", 6, 4)
    assert out[3] == ("p q r", 3, 0)
    assert set(out) == {1, 2, 3}


def test_remove_duplicated_spans_intra_doc(spark):
    """A window repeated inside ONE doc keeps its first position and
    cuts the later one — the Lee et al. rule at intra-doc granularity."""
    from data_curator_spark.operators.dedup import exact_substring_dedup

    df = spark.createDataFrame(
        [(1, "m n o z m n o")], "doc_id long, text string"
    )
    (r,) = exact_substring_dedup(
        df, "doc_id", "text", span_len=3, removal=True
    ).collect()
    assert (r.text_despanned, r.n_tokens, r.n_dropped) == ("m n o z", 7, 3)


def test_remove_duplicated_spans_overlap_union(spark):
    """Overlapping duplicate windows in the SAME later doc union into
    one cut block (no double counting)."""
    from data_curator_spark.operators.dedup import exact_substring_dedup

    # doc 2 repeats doc 1's full 4-token run: windows (pos1, pos2)
    # overlap on tokens 2-3 -> union covers tokens 1-4 exactly once
    rows = [(1, "a b c d"), (2, "a b c d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.text_despanned, r.n_dropped)
        for r in exact_substring_dedup(
            df, "doc_id", "text", span_len=3, removal=True
        ).collect()
    }
    assert out[1] == ("a b c d", 0)
    assert out[2] == ("", 4)


def test_remove_duplicated_spans_validates(spark):
    import pytest

    from data_curator_spark.operators.dedup import exact_substring_dedup

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="span_len"):
        exact_substring_dedup(df, "doc_id", "text", span_len=1, removal=True)


def _ref_exact_substr(docs, span):
    """Brute-force Python reference for exact_substring_dedup: returns
    {id: (n_tokens, n_dup_windows, dup_tokens, despanned_text,
    n_dropped)} over non-null/non-blank docs."""
    import re

    toks = {
        i: re.split(r"[ \n\t\r]+", t.strip())
        for i, t in docs.items()
        if t is not None and t.strip() != ""
    }
    occ: dict[str, list] = {}
    for i in sorted(toks):
        ws = toks[i]
        for p in range(1, len(ws) - span + 2):
            g = " ".join(ws[p - 1 : p - 1 + span])
            occ.setdefault(g, []).append((i, p))
    marks: dict[int, set] = {i: set() for i in toks}
    cuts: dict[int, set] = {i: set() for i in toks}
    starts: dict[int, int] = {i: 0 for i in toks}
    for g, lst in occ.items():
        if len(lst) > 1:
            for i, p in lst:
                starts[i] += 1
                marks[i].update(range(p, p + span))
            for i, p in lst[1:]:
                cuts[i].update(range(p, p + span))
    out = {}
    for i, ws in toks.items():
        kept = [w for j, w in enumerate(ws, start=1) if j not in cuts[i]]
        out[i] = (
            len(ws),
            starts[i],
            len(marks[i]),
            " ".join(kept),
            len(cuts[i]),
        )
    return out


def test_exact_substring_random_differential(spark):
    """Randomized differential test: on small random corpora from a
    6-word alphabet (dense window collisions, heavy overlaps), BOTH
    kernel halves reproduce a brute-force Python reference exactly —
    marking counts, coverage union, rebuilt text, drop counts."""
    import random

    from data_curator_spark.operators.dedup import exact_substring_dedup

    words = ["aa", "bb", "cc", "dd", "ee", "ff"]
    span = 3
    for seed in range(6):
        rng = random.Random(seed)
        docs = {}
        for i in range(8):
            n = rng.randint(0, 12)
            docs[i] = " ".join(rng.choice(words) for _ in range(n))
        docs[98] = ""
        docs[99] = None
        ref = _ref_exact_substr(docs, span)

        df = spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"
        )
        got = {
            r.doc_id: (
                r.n_tokens,
                r.n_dup_windows,
                r.dup_tokens,
                r.text_despanned,
                r.n_dropped,
            )
            for r in exact_substring_dedup(
                df, "doc_id", "text", span_len=span
            ).collect()
        }
        assert got == ref, f"seed {seed}: kernel diverges from reference"


def test_connected_components_driver_solve_matches_loop(spark):
    """The small-graph driver union-find fast path must be output-
    identical to the distributed min-label loop — same clusters, same
    canonical members, dangling ids and null endpoints included."""
    from data_curator_spark.operators.dedup import connected_components

    verts = spark.createDataFrame(
        [(f"v{i:02d}",) for i in range(20)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        # two chains, one clique edge set, a dangling id, a null end
        [("v01", "v02"), ("v02", "v03"), ("v07", "v08"),
         ("v10", "v11"), ("v11", "v12"), ("v10", "v12"),
         ("v15", "zz-dangling"), ("v16", "zz-dangling"),
         ("v18", None)],
        "id_a string, id_b string",
    )

    def run(cap):
        return sorted(
            (r["doc_id"], r["cluster_id"], r["is_canonical"])
            for r in connected_components(
                verts, pairs, "doc_id", driver_solve_edge_cap=cap
            ).collect()
        )

    fast = run(1_000_000)
    loop = run(0)
    assert fast == loop
    stats_fast: dict = {}
    connected_components(
        verts, pairs, "doc_id", stats=stats_fast
    ).collect()
    assert stats_fast["driver_solve"] is True  # the fast path actually ran
    assert stats_fast["rounds"] == 0


def test_connected_components_driver_solve_matches_loop_long_ids(spark):
    """The same fast-path parity on long ids, whose labels frame must
    come back as LongType through the Arrow table."""
    from pyspark.sql.types import LongType

    from data_curator_spark.operators.dedup import connected_components

    big = 1 << 40  # beyond int32: a narrowing cast would corrupt it
    verts = spark.createDataFrame([(i,) for i in range(20)] + [(big,)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (10, 12),
         (15, 99), (16, 99), (18, None), (5, big)],
        "id_a long, id_b long",
    )

    def run(cap):
        out = connected_components(verts, pairs, "doc_id", driver_solve_edge_cap=cap)
        assert out.schema["cluster_id"].dataType == LongType()
        return sorted(tuple(r) for r in out.collect())

    fast = run(1_000_000)
    assert fast == run(0)
    assert (big, 5, False) in fast
    stats_fast: dict = {}
    connected_components(verts, pairs, "doc_id", stats=stats_fast).collect()
    assert stats_fast["driver_solve"] is True


def test_minhash_arrow_matches_expression_path(spark):
    """The Arrow signature kernel must be bit-identical to the JVM
    expression reference — same tokenization (trim = 0x20 only, split
    keeps leading/trailing empties), same md5-prefix hashing, same
    affine mins — on adversarial docs and on the sf0.01 corpus."""
    from data_curator_spark.operators.dedup import minhash_signatures
    from tests import kernel_references as ref

    adversarial = [
        (1, "plain three word shingle text here"),
        (2, None),
        (3, ""),
        (4, "   "),
        (5, "one two"),                      # < n words: no row
        (6, "\n\nleading newline then words follow"),
        (7, "tab\tseparated\twords\tfour"),
        (8, "trailing spaces words here   "),
        (9, "multi   space    words   here"),
        (10, "unicode wörds café naïve résumé"),
        (11, "a b c a b c a b c"),           # repeated shingles
        (12, "x " * 500),                    # long repetitive doc
    ]
    df = spark.createDataFrame(adversarial, "doc_id long, text string")

    def rows(fn):
        return sorted(
            tuple(r) for r in fn(df, "doc_id", "text", k=8).collect()
        )

    assert rows(minhash_signatures) == rows(ref.minhash_signatures)

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = sorted(tuple(r) for r in minhash_signatures(docs, "doc_id", "text").collect())
    b = sorted(
        tuple(r)
        for r in ref.minhash_signatures(docs, "doc_id", "text").collect()
    )
    assert a == b


def test_pos_hash_arrow_paths_match_expression(spark):
    """The Arrow (id, pos, hash) producers behind dedup_segments_global
    and exact_substring_dedup must be output-identical to the JVM
    expression references on adversarial docs and the sf0.01 corpus."""
    from data_curator_spark.operators.dedup import (
        _segment_hash_rows,
        _span_hash_rows,
    )
    from tests import kernel_references as ref

    adversarial = [
        (1, "alpha beta gamma alpha beta gamma delta epsilon zeta eta theta"),
        (2, None),
        (3, ""),
        (4, "   "),
        (5, "\nleading newline words " + "tok " * 12),
        (6, "a  b   c a  b   c " * 4),
        (7, "x " * 40),
        (8, "unicode wörds café " + "naïve résumé one two three four " * 2),
        (9, "short doc"),
    ]
    df = spark.createDataFrame(adversarial, "doc_id long, text string")

    def rows(frame, fn, *args):
        return sorted(tuple(r) for r in fn(frame, "doc_id", "text", *args).collect())

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).filter("text IS NOT NULL")
    for frame in (df, docs):
        for min_len in (1, 3):
            assert rows(frame, _segment_hash_rows, " ", min_len) == rows(
                frame, ref.segment_hash_rows, " ", min_len
            )
        assert rows(frame, _span_hash_rows, 8) == rows(
            frame, ref.span_hash_rows, 8
        )


def test_contamination_arrow_matches_expression(spark):
    """contamination_overlap's Arrow shingle-hash producer must match
    the expression reference exactly, adversarial docs and sf0.01
    corpus."""
    from data_curator_spark.operators.dedup import _shingle_hash_rows
    from tests import kernel_references as ref

    adversarial = spark.createDataFrame(
        [
            (1, "plain four word shingle text here"),
            (2, None),
            (3, ""),
            (4, "   "),
            (5, "one two three"),
            (6, "\n\nleading newline then words follow"),
            (7, "tab\tseparated\twords\tfour\tfive"),
            (8, "multi   space    words   here"),
            (9, "unicode wörds café naïve résumé"),
            (10, "a b c d a b c d a b c d"),
        ],
        "doc_id long, text string",
    )
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    def rows(fn, frame):
        return sorted(tuple(r) for r in fn(frame, "doc_id", "text", 4).collect())

    for frame in (adversarial, docs):
        assert rows(_shingle_hash_rows, frame) == rows(
            ref.shingle_hash_rows, frame
        )


def test_strip_hot_segments_arrow_matches_expression(spark):
    """strip_hot_segments' one-pass Arrow DF-count+position path must
    match the two-explode expression reference exactly."""
    from data_curator_spark.operators.dedup import strip_hot_segments
    from tests import kernel_references as ref

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")

    def rows(fn):
        return sorted(
            tuple(r)
            for r in fn(
                docs, "doc_id", "text", min_df=5, delimiter=" "
            ).collect()
        )

    assert rows(strip_hot_segments) == rows(ref.strip_hot_segments)


def test_word_shingle_strings_arrow_matches_expression(spark):
    """The Arrow shingle-string producer must yield the identical
    multiset of per-doc-distinct shingles as explode(word_shingles)."""
    from pyspark.sql import functions as F

    from data_curator_spark.operators.dedup import (
        word_shingle_strings_arrow,
        word_shingles,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = sorted(
        r["ngram"]
        for r in word_shingle_strings_arrow(docs, "text", 3).collect()
    )
    b = sorted(
        r["ngram"]
        for r in docs.select(
            F.explode(word_shingles(F.col("text"), 3)).alias("ngram")
        ).collect()
    )
    assert a == b


def test_lsh_sql_projections_match_column_reference(spark):
    """The SQL-text band and pair projections give the rows and the
    schema of the Column-built reference, on sf0.01 signatures and on a
    hand-built frame with ids above 2^31 and one NULL component (which
    keeps its band key from matching and counts as a mismatch)."""
    from pathlib import Path

    from __spark_entry__ import SF0001
    from data_curator_spark.operators.dedup import (
        lsh_candidate_ids,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from tests import kernel_references as ref

    def same(got, want):
        assert got.schema == want.schema
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    big = 2**31
    hand = spark.createDataFrame(
        [
            (big + 1, 1, 2, 3, 4, 5, 6, 7, 8),
            (big + 5, 1, 2, 3, 4, 9, 9, 9, 9),
            (2**40, 1, 2, None, 4, 5, 6, 7, 8),
            (2**62 + 3, 11, 12, 3, 4, 13, 14, 15, 16),
            (7, 21, 22, 23, 24, 25, 26, 27, 28),
        ],
        "doc_id long, " + ", ".join(f"mh_{i} long" for i in range(8)),
    )
    got = lsh_candidate_pairs(hand, "doc_id", k=8, bands=4)
    same(got, ref.lsh_candidate_pairs(hand, "doc_id", k=8, bands=4))
    est = {(r.id_a, r.id_b): r.est_jaccard for r in got.collect()}
    assert est == {
        (big + 1, big + 5): 0.5,
        (big + 1, 2**40): 7 / 8,
        (big + 5, 2**40): 3 / 8,
        (big + 1, 2**62 + 3): 0.25,
        (big + 5, 2**62 + 3): 0.25,
    }

    docs = spark.read.parquet(str(Path(SF0001).with_name("sf0.01") / "documents.parquet"))
    sigs = minhash_signatures(docs, "doc_id", "text", k=32).cache()
    try:
        same(lsh_candidate_pairs(sigs, "doc_id"), ref.lsh_candidate_pairs(sigs, "doc_id"))
        same(
            lsh_candidate_ids(sigs, "doc_id", k=32, bands=16, max_bucket=3),
            ref.lsh_candidate_ids(sigs, "doc_id", k=32, bands=16, max_bucket=3),
        )
    finally:
        sigs.unpersist()
