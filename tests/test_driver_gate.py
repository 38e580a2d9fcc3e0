"""Driver-gate window management and the pinned query registry.

The driver's correctness harness checks only the FIRST 50 entries of
__spark_entry__.queries() (CORRECTNESS_r04/_r05 each hold exactly 50
rows, and the missing rows were precisely registrations 51+).
Registration order is therefore the gate's priority list. These guards
make silent overflow impossible: every gate record of
queries.REGISTRY must fit inside the window and carry an oracle, so
every operator the repo claims gets a hard-gate verdict each round.

The pins below were computed from the registry as it stood before it
became one record tuple: the gate's names in order, the sha256 of every
oracle's SQL text (data-dependent ones trained on sf0.01), and the
legacy queries that were kept. An oracle's text changes only to fix a
proven bug; update its hash in the same change and say why.
"""

import hashlib

DRIVER_GATE_WINDOW = 50
ORACLE_SF = "/root/testdata/sf0.01"

# gate order is the key order
GATE_ORACLE_SHA256 = {
    "pricing_summary": "90324912b4e67be9f572d0b624b11cda656efe656c7729329f25bef0f0f1eaf0",
    "revenue_by_nation": "6d7f64de28fc844bc95c94533ac747725a9af3a3c65b6d86dedee4b67e9602cd",
    "coalescing_merge": "8cd4a3c1db73ce781af5cd1a5730878e121ec37e6133e128fe3b11ae849f7b1f",
    "missing_rows_antijoin": "41f018ee7e888d50ac9177182eaea4b5ba05192e251b18c762b062a85052c2c6",
    "duplicate_pk": "99ef826773c60468358b9c50101f73299a3fcfb84a57590d6e382bd266725c33",
    "asof_join": "fd754e06ca07bfa2f77c1f00e62dc89809fceed4831dd66101be900148a5d7ae",
    "order_masks": "1c9e12ba68a25917fb90f53cb37d9153de4bd42ca70b7fa87eaa67f277580ab0",
    "indexed_rolling": "d161c608318decd134a81f3148e8f2eca9aef33e6bdb154c0dd023423e4eaac9",
    "contract_metrics": "b592b540f9986234891fcd051d41051af3ebfbbf0bc2f086d93bc7f1d6ecb91b",
    "null_semantics": "dc530e8736d7f8078e2fc1ad51b62cd26309e7f136049cf923d7e03fd2b1df36",
    "discrepancy_scan": "6fb685a83a793fe6ff4221a7e240cab9750529b4d1320237f411300756105328",
    "dedup_exact": "5282001f476e2fa1b2d16847c7d5b4a0cc71e86c5fcc3d6463c0430696b4cb60",
    "ngram_jaccard": "1e647b8766e41c4f195f6036514b4f81a6b0ed809ea84f3239ab0a7d3b1c7bc1",
    "minhash_lsh": "68f4f88390162850aa6435b2dbd16e88edebd49581fcb553106591241695d12a",
    "simhash_near": "9af5a4ac00a1bfe09f0ad5496e02db0c461fc2bfbd5f3acd68d0ce98116fe167",
    "ann_cosine_topk": "2aac5b3b031a7976cdb8a3e5610a007641d1d819dd751ef0136a8b0e4a2fcbb6",
    "ann_lsh": "29ff7e4fc7723b8fb3d923997236c35a21d92f2f44fb3d2b53972a1ca80cbad1",
    "embedding_near_dup": "4d64903ac5bd8f8236605f7cde1c4b79cd8ab443ca45964c4d2d7905a8994cd2",
    "multimodal_features": "7f612a8b185ca2b83ef5e267cee860bd82a530e41b3419f40f6b34637c485e95",
    "dedup_clusters": "7738103fb926f4a0a9fb259fb4d1ae96ef8ac22292ef1b4ddbd20b5b69fb2e69",
    "event_expansion": "3687f2721a5bf30f7bdcb32322f4702c29910709def79276e5d6290199a6e1ac",
    "topk_orders": "9192651d84fde0e6fd28e097595c8ff8d385864f4b0b0dd4f88b0bb6964a4676",
    "set_ops": "5c1425eaf9c4950b43730f7a33c9546810add7dc678151a5de5eeee4fff81fb4",
    "scalar_functions": "1257cb9818d373f028970ed254071c8411d51dd6b6ae216e72e1a520f5299b17",
    "recursions": "60a96f59791da874dd552045ac23986fecc04066d38aadeabcaee6a088119e6e",
    "interval_join": "a64542bc02dcec649643fc3fd420523f6ee5ca5881f8cb76d740fd531b8a478f",
    "hypertable_rollup": "c56a0f63e12f9cb29c5d28903dacbd4ac4180da5d504169af33d662cfd7ba1eb",
    "doc_quality_stats": "ce1405b81d43008b88c3b1754044296feaf3e78186a724c55564c603d38e91dc",
    "ann_ivf": "f4a35c78e6cb44b5f9a188e1547ec08397ba70f42ae91929853eb0959b02d9e0",
    "sessionize": "9e4ee91c53a71ab9a4304d2e47ffd8a1de116628f8817a5179a7a213b5f7e1af",
    "corpus_profile": "e8132d6e8b69b33a0c9cfdfbd8dbbd34f3b8b7c2e811a4f9054ccfb4765d2988",
    "boilerplate_ngrams": "6ad2e2ed6cd912b7c43f19280d1792479f4d2cad439e63877f3dbdeec262399d",
    "rolling_features": "f4e827a824106f93f974372744d4cb84f2ad2bbd27da6b49618c4c9cbc8a2f0f",
    "sampling_gates": "1df67e97e461240c3fc8f9e1a99109a594933075a965facbabd51ad0cc528af1",
    "decontaminate": "64e0b47b60e426358c1a28861ac1b912cca3be600dd1df75dc49481d1b1ac86b",
    "sequence_pack": "86465addf9ae27d98af14bcd805de7e07b8fe7bc41266e11702d337cb9c8dd4c",
    "macd_signal": "d773bc1efe3d4fe7b0475f266200c61b297f4f0d29d4f8110fb7de7788db8137",
    "vocab_stats": "b61e78499c77e5b8cbb18800ef632f856bb1efdfe60a5a90a09cdb7fdb2fedeb",
    "distinct_sketch": "dc346de3dc3e2ab0ad230260c42834490c9687f14a64d295b1fcdca940210dd2",
    "line_repetition": "bf6c7fbd0d64473ef920284cd65ffe7f312e4e47f524e6fc69e737bf2b280415",
    "boilerplate_strip": "82bc70feb716ab8ac8081de27680b1e58a8398f6b745ceae2d3e5e152e17f0c7",
    "budget_sample": "a07f822ae39716c4714bb1a1b7ef66174276e54c6ede63b15e67cb81bfa1d8cd",
    "centroid_outliers": "91ce3cbe8b5c730adfa9e7226cfef9a6849a87bdff181055c16083ea0b843b7d",
    "unigram_surprisal": "fe58c381b39f6fb457988afd6eaf787dd0b55c1c86b02101b8b459ea0e361aa4",
    "bigram_surprisal": "24120fd0399f21b1d27c3b7c34c5446d0fa28aa12a5bb4d9828e84d732827b56",
    "bpe_merge_candidates": "a3b8c8b982b69c9cd877887c76e6adee0f47cf4c41995a83d05e40f44ae9eeb3",
    "heldout_perplexity": "fdb4033f6175e29f7bbf0c6c6c67ae0747316d19da3229d40fdc4dc531aa7fd3",
    "pii_scrub": "9ae7c47e8318fbe95af862fea4e898785926a075d990c3acc7d751345fb37071",
    "dsir_importance": "465fdb0528908144f27be8aa6a3b69f4624016e72f2c43c815f46f6e4c0c42f3",
    "bpe_encode": "7b803cae9ef1dcfd54304d5fbdbc0dae5736e6778470acdafe7933c51eff88e8",
}

LEGACY_ORACLE_SHA256 = {
    "sma_window": "5ed061d27f0bef72004d81ac59b002e106088d133b35ef5250746a9612d579bb",
    "volatility_window": "c05c4147fff5e39419a22b15e51b6921fd2150440b5d13ae659b07851548ffbe",
    "embedding_norms": "cd9104763e527df28f89c1981280ce8d7d35fa0e9ecd3e8e3d0d49ce6d39d9a6",
    "doc_fingerprint": "103949146938b5610b138e5610d6f6869b6659a43afc59f21f56cc691103d883",
    "corpus_sample": "50a3cf7a6523c06e229268d68620a4e36a1d4b8eba5201dd54a406229fa7e4c2",
    "corpus_split": "abd18ff881350234f8c8f4f5d82777b3197dc0f671ed912acfc49b9b5694e969",
    "dedup_lines": "e35981d7539a5d1030347625dd389efda22f23c42eefb8124c29b6b974f7055b",
    "repetition_profile": "9b97a7088d7464fe5ee0f2c428e53aa242c5e05f06c10fa00db842c1247b62cb",
    "shuffle_shards": "2dbd30c6ed7df4c92efb244b6ab80f406ca99e4570420468e44b8241cfbdb41e",
    "chunk_documents": "6aa1e443199e37517b49ee6173770952e8082bbee73a6a8d8bc31fcc8b45b6ce",
    "rule_ablation": "c5265538e920fb61521a56f3b51efc264c1409fc25cd8685b204f35398aa0dd7",
    "fim_transform": "cd910df4bd05055abb3e203bc408870b6dffb65d8807ca509f4bee3aed401092",
    "pq_ann": "e4d44ee7d79c02860453a47fc83577055793d23b8ac6afb1d4257e0bcd5e8104",
    "source_rollup": "0bf8ae8afe7ad8986287aee3a4563560502b2d1e9d91c7106b697027689c8305",
    "temperature_sample": "505a1bf866c177807af96c7ebe6a026d1dfa186c0669af1e0a52e800bcbee115",
}


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_registry_fits_driver_gate_window():
    import __spark_entry__ as entry
    from data_curator_spark.queries import REGISTRY

    gate = [q.name for q in REGISTRY if q.gate]
    assert len(gate) <= DRIVER_GATE_WINDOW, (
        f"{len(gate)} gate records but the driver checks only the "
        f"first {DRIVER_GATE_WINDOW}; merge variants or declare them "
        f"gate=False — overflow: {gate[DRIVER_GATE_WINDOW:]}"
    )
    assert list(entry.queries()) == gate


def test_every_registered_query_is_oracled():
    import __spark_entry__ as entry
    from data_curator_spark.queries import REGISTRY

    qs = [q.name for q in REGISTRY if q.gate]
    oracled = set(entry.oracle_sql())
    assert oracled <= set(qs), f"orphan oracles: {sorted(oracled - set(qs))}"
    # rows-only (non-SQL-expressible) queries are allowed but must be a
    # conscious decision — list them here when one is introduced
    rows_only_allowed: set[str] = set()
    missing = set(qs) - oracled - rows_only_allowed
    assert not missing, f"queries with no oracle: {sorted(missing)}"


def test_legacy_queries_do_not_overlap_registry():
    from data_curator_spark.queries import (
        LEGACY_QUERIES,
        QUERIES,
        REGISTRY,
        get_legacy_oracles,
    )

    names = [q.name for q in REGISTRY]
    assert len(names) == len(set(names)), "a name is declared twice"
    assert not set(QUERIES) & set(LEGACY_QUERIES)
    assert set(LEGACY_QUERIES) == set(get_legacy_oracles())


def test_gate_names_and_order_pinned():
    from data_curator_spark.queries import QUERIES

    assert list(QUERIES) == list(GATE_ORACLE_SHA256)
    assert len(QUERIES) == DRIVER_GATE_WINDOW


def test_gate_oracle_text_pinned(monkeypatch):
    from data_curator_spark.queries import get_oracles

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", ORACLE_SF)
    got = {name: _sha(sql) for name, sql in get_oracles().items()}
    assert got == GATE_ORACLE_SHA256


def test_legacy_oracle_text_pinned(monkeypatch):
    from data_curator_spark.queries import LEGACY_QUERIES, get_legacy_oracles

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", ORACLE_SF)
    got = {name: _sha(sql) for name, sql in get_legacy_oracles().items()}
    assert got == LEGACY_ORACLE_SHA256
    assert list(LEGACY_QUERIES) == list(LEGACY_ORACLE_SHA256)


def test_get_oracles_trains_only_the_gate_oracles(monkeypatch, tmp_path, capsys):
    """perfbench's `operators` set-up calls get_oracles(): it trains
    only the gate's two data-dependent oracles, and an unreadable sf dir
    drops just those two entries (the driver then checks rows only)."""
    from data_curator_spark.queries import get_oracles

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", str(tmp_path))
    got = get_oracles()
    err = capsys.readouterr().err.splitlines()
    skipped = [line.split()[0] for line in err if "oracle skipped" in line]
    assert skipped == ["ann_ivf", "bpe_encode"]
    assert set(GATE_ORACLE_SHA256) - set(got) == {"ann_ivf", "bpe_encode"}


def test_bench_anchors_resolve():
    """bench.py times each HEADLINE/CORE13 name through
    `QUERIES.get(n) or LEGACY_QUERIES[n]`; quality_filter_pipeline is
    the pipeline run, not a query."""
    import bench
    from data_curator_spark.queries import LEGACY_QUERIES, QUERIES

    names = (set(bench.HEADLINE) | set(bench.CORE13)) - {"quality_filter_pipeline"}
    assert {"sma_window", "volatility_window", "dedup_lines", "repetition_profile"} <= names
    for n in sorted(names):
        assert callable(QUERIES.get(n) or LEGACY_QUERIES[n]), n
