"""Physical-plan regression guards: the scale properties we rely on must
be visible in the explain output — pruned scans, pushed filters,
broadcast dims, partial aggregation, single exchange per window chain,
whole-stage codegen. A refactor that silently loses one of these would
pass value checks and still be wrong at 100 TB."""

from __future__ import annotations

import pytest

from data_curator_spark.queries import LEGACY_QUERIES, QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = (QUERIES.get(name) or LEGACY_QUERIES[name])(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_join_query_broadcasts_dims_and_prunes(spark):
    plan = _plan(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    # lineitem scan pruned to exactly the 3 needed columns
    assert "l_orderkey:bigint,l_extendedprice:double,l_discount:double" in plan
    assert "PushedFilters: [IsNotNull(l_orderkey)]" in plan
    # (codegen ids only appear in the post-execution AQE final plan)


def test_aggregation_is_partial_then_final(spark):
    plan = _plan(spark, "pricing_summary")
    # two HashAggregates around one Exchange = map-side combine
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan
    # scan reads only the aggregated columns, no orderkey/partkey/suppkey
    assert "l_partkey" not in plan


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "asof_join")
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,view)" in plan


def test_window_chain_single_exchange_per_key(spark):
    import re

    plan = _plan(spark, "sma_window")
    # one hash partitioning on user_id, no extra shuffles
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Window" in plan


def test_merged_rolling_features_single_exchange(spark):
    """The r6 merged query's whole premise: all five window features
    partition by user_id, so ONE hashpartitioning exchange must serve
    every window (the descending dividend window re-sorts, never
    re-shuffles). Two exchanges would mean the merge made the plan
    WORSE than the component queries."""
    import re

    plan = _plan(spark, "rolling_features")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert plan.count("hashpartitioning(user_id") >= 1


def test_merged_recursions_single_shuffle(spark):
    """EMA12+RSI14 share one repartition+sort → one Arrow pass."""
    import re

    plan = _plan(spark, "recursions")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_antijoin_strategy(spark):
    plan = _plan(spark, "missing_rows_antijoin")
    assert "LeftAnti" in plan


def test_dedup_shuffles_hashes_not_content(spark):
    plan = _plan(spark, "dedup_exact")
    # the aggregate exchange carries the sha, not the text column
    import re

    ex = [l for l in plan.splitlines() if "Exchange" in l or "hashpartitioning" in l]
    assert ex, plan
    assert not re.search(r"hashpartitioning\(text", plan)


def test_interval_join_is_equijoin_not_nested_loop(spark):
    plan = _plan(spark, "interval_join")
    assert "NestedLoop" not in plan
    assert "Join" in plan  # hash/sort-merge equi-join on (key, bin)


def test_hypertable_cascade_reuses_partials(spark):
    """Coarser rollup levels must aggregate CACHED partials, not re-scan
    the raw table per union branch (persist inside hypertable_rollup)."""
    plan = _plan(spark, "hypertable_rollup")
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_blocked_ngram_uses_cached_candidates(spark):
    """The blocked ngram query must show the persisted signature /
    candidate intermediates (the materialized-table analog), not a
    recomputed shingle self-join per consumer."""
    plan = _plan(spark, "ngram_jaccard")
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_lsh_ann_band_join_is_ids_only(spark):
    """Round-2 verdict 'wrong #2': lsh_ann_topk used to carry full
    vectors through the ×n_tables band-exploded self-join. Guard the
    restructure: every plan node that outputs a band `bucket` attribute
    must NOT also output an embedding/vector column — vectors re-attach
    only after pair-dedup."""
    plan = _plan(spark, "ann_lsh")
    bucket_outputs = [
        l for l in plan.splitlines() if "Output" in l and "bucket#" in l
    ]
    assert bucket_outputs, plan  # the banded structure must exist
    for line in bucket_outputs:
        assert "embedding" not in line and "__queryvec" not in line and "__neighborvec" not in line, line


def test_ivf_ann_no_vector_carrying_exchange(spark):
    """Round-3 verdict 'wrong #3': ivf_ann_topk used to dropDuplicates
    AFTER re-attaching both embedding vectors, forcing a full-width
    exchange per candidate pair — and the dedup was provably redundant
    (one cell per corpus row, distinct probe cells per query). Guard the
    fix: no Exchange node's output may carry a vector column; only the
    ids+sim window partitioning may shuffle."""
    plan = _plan(spark, "ann_ivf")
    lines = plan.splitlines()
    # 'Output' detail lines follow their node header; tie each Exchange
    # to its own Output list via the (N) node ids in formatted explain
    import re

    exchange_ids = {m.group(1) for l in lines for m in [re.match(r"\((\d+)\) Exchange", l.strip())] if m}
    assert exchange_ids, plan  # the window shuffle must exist
    current = None
    for l in lines:
        m = re.match(r"\((\d+)\) ", l.strip())
        if m:
            current = m.group(1)
        if current in exchange_ids and "Output" in l:
            assert "embedding" not in l and "__qvec" not in l and "__cvec" not in l, l


def test_sessionize_single_exchange(spark):
    """sessionize: the lag window, the running session counter and the
    session groupBy must all reuse ONE hash partitioning on the session
    key — a second exchange means the window chain broke."""
    import re

    plan = _plan(spark, "sessionize")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_corpus_split_is_pure_projection(spark):
    """Split assignment is a deterministic hash projection — any
    Exchange would mean 10^12 rows shuffle for a column stamp."""
    plan = _plan(spark, "corpus_split")
    assert "Exchange" not in plan


def test_sequence_pack_single_exchange(spark):
    """Packing: the ordering window and the running sum must share ONE
    hash partitioning on the shard key."""
    import re

    plan = _plan(spark, "sequence_pack")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_decontaminate_broadcasts_benchmark_not_corpus(spark):
    """The benchmark shingle-hash set broadcasts; the corpus side must
    stream (a corpus scan inside a BroadcastExchange subtree would OOM
    at 100 TB). The corpus filter must also reach the scan."""
    import re

    plan = _plan(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan
    # the broadcast relation must be the deduped benchmark HASH set:
    # exactly one 8-byte column — never text or the corpus side
    m = re.search(r"\(\d+\) BroadcastExchange\s*\nInput \[(\d+)\]: \[(h#\d+L)\]", plan)
    assert m and m.group(1) == "1", plan
    # both scans read only (doc_id, text) — column pruning reached them
    assert plan.count("ReadSchema: struct<doc_id:bigint,text:string>") == 2


def test_corpus_sample_is_scan_level_filter(spark):
    """Deterministic sampling must push as a scan-level Filter with no
    exchange — sampling 10^12 files cannot afford a shuffle."""
    plan = _plan(spark, "corpus_sample")
    assert "Exchange" not in plan


def test_boilerplate_topk_is_heap_not_global_sort(spark):
    """Top-k n-gram mining must compile to TakeOrderedAndProject
    (per-partition heaps + driver merge of k rows) with map-side partial
    counts — a global Sort before the limit would shuffle the full
    corpus-wide ngram distribution at 100 TB."""
    plan = _plan(spark, "boilerplate_ngrams")
    assert "TakeOrderedAndProject" in plan
    assert "+- Sort " not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final counts


def test_connected_components_never_moves_the_corpus(spark):
    """The cluster-assignment tail must stream the corpus through
    broadcast hash joins against the (tiny) label frames — a
    SortMergeJoin here means the corpus itself shuffles, and a
    broadcast of the parquet side means the corpus rides the driver;
    both are wrong at 100 TB."""
    plan = _plan(spark, "dedup_clusters")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin LeftOuter BuildRight" in plan
    # the broadcast subtrees contain only label-frame scans, never the
    # corpus parquet
    import re

    for sub in re.findall(r"BroadcastExchange.*?(?=\n\(\d+\) [A-Z])", plan, re.S):
        assert "Scan parquet" not in sub


def test_budget_sample_single_exchange(spark):
    """budget_sample: one shuffle on the stratum key serves BOTH the
    ordering window and the running-sum filter."""
    import re

    plan = _plan(spark, "budget_sample")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Window" in plan and "SortMergeJoin" not in plan


def test_boilerplate_strip_text_never_reassembles(spark):
    """strip_hot_segments (Arrow shape): the hot-hash table broadcasts
    (never a sort-merge join against the corpus), the (id, pos, hash)
    rows come from ONE MapInArrow pass, and document text is never
    reassembled through a collect_list of (pos, seg) structs — the only
    doc-keyed ENSURE_REQUIREMENTS exchange carries integer positions.
    A regression that re-joins/reassembles the original text would
    reintroduce the struct collect_list."""
    import re

    plan = _plan(spark, "boilerplate_strip")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "MapInArrow" in plan
    assert "collect_list(struct" not in plan
    # every doc_id hash exchange is either the user repartition (the
    # _spread) or the ints-only hot-position aggregation
    for line in plan.splitlines():
        if re.search(r"hashpartitioning\(doc_id", line):
            assert "REPARTITION" in line or "ENSURE_REQUIREMENTS" in line


def test_lm_surprisal_broadcast_vocab_single_doc_exchange(spark):
    """unigram/bigram surprisal: vocab joins broadcast (never SMJ
    against the token stream), and every per-doc aggregation reuses the
    doc-keyed _spread repartition — no ENSURE_REQUIREMENTS exchange on
    doc_id may appear (one would mean the per-doc sum re-shuffled the
    gram-level rows, the exact regression the hash-spread removed)."""
    import re

    for name in ("unigram_surprisal", "bigram_surprisal"):
        plan = _plan(spark, name)
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        for line in plan.splitlines():
            if re.search(r"hashpartitioning\(doc_id", line):
                assert "REPARTITION" in line, (name, line)


# queries whose joins of unbounded sides carry no hint and no row-count
# probe, among them the four LM queries' vocab joins
UNHINTED_JOIN_QUERIES = (
    "unigram_surprisal", "bigram_surprisal", "heldout_perplexity", "dsir_importance",
    "boilerplate_strip", "line_repetition", "bpe_encode", "centroid_outliers",
    "ann_lsh", "ann_ivf",
)


def test_unhinted_joins_fall_back_to_shuffle_by_bytes(spark):
    """The byte thresholds alone choose these queries' joins. With both
    set to -1 every query plans a sort-merge join and no broadcast hash
    join, and returns the rows it returns under the session's 64 MB
    threshold."""
    want = {
        n: sorted(map(tuple, QUERIES[n](spark, SF).collect())) for n in UNHINTED_JOIN_QUERIES
    }
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    # a persist the first runs made would hand its cached plan, joins
    # chosen under the 64 MB threshold, to the runs below
    spark.catalog.clearCache()
    try:
        for name in UNHINTED_JOIN_QUERIES:
            plan = _plan(spark, name)
            assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan, name
            got = sorted(map(tuple, QUERIES[name](spark, SF).collect()))
            assert got == want[name], name
    finally:
        spark.catalog.clearCache()
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bpe_merge_candidates_heap_topk_over_distinct_words(spark):
    """BPE pair mining: top-k compiles to TakeOrderedAndProject and the
    pair counts aggregate with map-side partials — never a global sort
    of the corpus-wide pair distribution."""
    plan = _plan(spark, "bpe_merge_candidates")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_exact_substring_single_hash_exchange_broadcast_rebuild(spark):
    """exact_substring_dedup: the marking count and the global-first
    row_number share ONE exchange on the window hash (same partition
    key — the kernel's central claim), the per-doc cut/mark arrays join
    back by broadcast (never SMJ against the corpus), and doc text
    appears in NO exchange at all (the rebuild is array work after a
    broadcast join, not a reassembly shuffle)."""
    import re

    from data_curator_spark.operators.dedup import exact_substring_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = exact_substring_dedup(d, "doc_id", "text", span_len=8)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the cached kernel subtree is printed twice by AQE (Final Plan +
    # Initial Plan) — resolve the EXECUTED tree's exchange ids and
    # check their detail arguments: ONE exchange on h serves BOTH
    # window functions
    tree = plan.split("== Initial Plan ==")[0]
    ex_ids = sorted(set(re.findall(r"\bExchange \((\d+)\)", tree)))
    h_exchanges = [
        i
        for i in ex_ids
        if re.search(
            rf"\({i}\) Exchange\nInput[^\n]*\nArguments: hashpartitioning\(h#",
            plan,
        )
    ]
    assert len(h_exchanges) == 1, (ex_ids, h_exchanges)
    # no exchange carries the token arrays / text: every exchange's
    # argument list is free of __ws and text columns
    for m in re.finditer(r"Arguments: hashpartitioning\([^)]*\)", plan):
        assert "__ws" not in m.group(0) and "text" not in m.group(0)


def test_nb_langid_broadcast_model_no_smj(spark):
    """nb_langid: the (n_buckets × classes) model joins the feature
    table by BROADCAST (bounded by construction — no sort-merge join
    anywhere), and raw text enters no exchange (only hashed bucket
    counts shuffle)."""
    import re

    from data_curator_spark.operators.classifier import nb_langid

    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = nb_langid(d, "doc_id", "text", "lang")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    for m in re.finditer(r"Arguments: hashpartitioning\([^)]*\)", plan):
        assert "text" not in m.group(0)
