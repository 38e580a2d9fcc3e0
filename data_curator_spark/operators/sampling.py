"""Deterministic corpus sampling for training-data curation.

Sampling at 10^12 files must be (a) reproducible across reruns and
engines — a resumed job must pick the SAME sample, and an auditor must
be able to re-derive it from the ids alone — and (b) stratifiable, so
over-represented sources are downsampled without a shuffle. Both rule
out ``df.sample`` (seeded per-partition RNG: the sample changes with
partitioning) in favor of content-addressed hash gates, the same
md5-prefix scheme the dedup operators use (engine-portable, so the
DuckDB oracle reproduces the sample row-for-row).

Reference analog: the reference has no sampling (it processes every
configured identifier); this is engine-added for corpus curation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_curator_spark.operators.dedup import hex_prefix_long


def sample_gate(id_col: Column, salt: str) -> Column:
    """Uniform [0, 1000) hash gate on a row id: portable (md5-prefix),
    independent of partitioning, and independent across salts — two
    different salts give two independent samples."""
    return (
        hex_prefix_long(F.concat(F.lit(salt), F.lit(":"), id_col.cast("string")), 8)
        % 1000
    )


def _strata_case(strata_col: str, mapping: dict[str, int], default: int) -> Column:
    """``mapping`` as a chained CASE on the stratum column (sorted for a
    deterministic expression), out-of-dict strata → ``default``. Shared
    by stratified_sample (keep-rates) and budget_sample (size budgets)
    so per-stratum lookup semantics cannot drift between them."""
    out: Column = F.lit(default)
    for value, n in sorted(mapping.items()):
        out = F.when(F.col(strata_col) == value, F.lit(n)).otherwise(out)
    return out


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates_permille: dict[str, int],
    default_permille: int,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum value gets its
    own keep-rate (out-of-dict strata use ``default_permille``). The
    rate map becomes a CASE expression — still a scan-level filter, so
    downsampling a dominant source costs zero shuffle. An empty rate
    map is a uniform sample at ``default_permille``."""
    gate = sample_gate(F.col(id_col), salt)
    return df.filter(gate < _strata_case(strata_col, rates_permille, default_permille))


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: dict[str, int],
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic disjoint train/val/test-style assignment: each row
    lands in exactly one named split by its id hash. ``splits`` maps
    name -> permille and must sum to 1000 (total partition — every row
    is assigned; use ``stratified_sample`` first to subsample).

    Assignment is insertion-order cumulative: {"train": 900, "val": 50,
    "test": 50} puts gate<900 in train, 900-949 in val, 950-999 in
    test. Reproducible across reruns, engines and partitionings (same
    md5 gate as the samplers), and independent of any other salt's
    sample/split. Pure projection: zero shuffle at any scale."""
    if not splits:
        raise ValueError("splits must be non-empty")
    bad = {k: v for k, v in splits.items() if v < 0}
    if bad:
        # negative permilles can still sum to 1000 while inverting the
        # cumulative thresholds — splits would silently overlap
        raise ValueError(f"split permilles must be >= 0, got {bad}")
    total = sum(splits.values())
    if total != 1000:
        raise ValueError(f"split permilles must sum to 1000, got {total}")
    gate = sample_gate(F.col(id_col), salt)
    expr = None
    cum = 0
    last = list(splits)[-1]
    for name, permille in splits.items():
        cum += permille
        if name == last:
            expr = expr.otherwise(F.lit(name)) if expr is not None else F.lit(name)
        else:
            cond = gate < cum
            expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(out_col, expr)


def temperature_rates_permille(
    counts: dict[str, int], alpha: float, target_total: int
) -> dict[str, int]:
    """Temperature-sampling rates (mT5/XLM-R-style multilingual
    rebalancing): sample stratum s with probability ∝ p_s^alpha
    (p_s = n_s / N), so alpha=1 keeps the natural distribution and
    alpha→0 approaches uniform — boosting low-resource strata without
    epoch-starving the head.

    Returns integer PERMILLE keep-rates: expected kept per stratum is
    q_s·target_total, rate_s = min(1000, round(1000·q_s·target/n_s)).
    Computed DRIVER-side in one place so the Spark gate and any oracle
    share the exact same integer literals — no cross-engine pow()
    boundary risk ever reaches the data plane."""
    if not counts or target_total <= 0:
        return {k: 0 for k in counts}
    total = sum(counts.values())
    weights = {s: (n / total) ** alpha for s, n in counts.items() if n > 0}
    z = sum(weights.values())
    out = {}
    for s, n in counts.items():
        if n <= 0:
            out[s] = 0
            continue
        q = weights[s] / z
        out[s] = min(1000, int(round(1000.0 * q * target_total / n)))
    return out


def temperature_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    alpha: float = 0.7,
    target_total: int = 100,
    salt: str = "temp",
) -> DataFrame:
    """Deterministic temperature sampling: compute per-stratum counts
    (one tiny groupBy), derive p^alpha-proportional integer keep-rates
    driver-side (temperature_rates_permille), and keep rows through the
    usual md5 permille gate. Scale shape: one narrow count aggregation
    + a scan-level CASE filter — the corpus streams once and the
    filter pushes to the source like every sampler here."""
    counts = {
        r[strata_col]: r["n"]
        for r in df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n")).collect()
        if r[strata_col] is not None
    }
    rates = temperature_rates_permille(counts, alpha, target_total)
    gate = sample_gate(F.col(id_col), salt)
    return df.filter(gate < _strata_case(strata_col, rates, 0))


def shuffle_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global training-order shuffle + shard assignment —
    the write-side of a training-data pipeline: rows land in
    ``n_shards`` files in an order that is pseudorandom w.r.t. the
    input order yet fully reproducible.

    Adds ``shuffle_key`` (portable 60-bit md5 over salt+id),
    ``shard`` (key mod n_shards) and ``shard_pos`` (0-based rank within
    the shard by (key, id) — the id tiebreak makes the order TOTAL even
    under hash collisions). The triple is a pure function of (id, salt,
    n_shards): independent of input partitioning, parallelism and
    cluster size, so a re-run — or the same job at N vs 4N executors —
    writes byte-identical shards. Different salts give independent
    permutations (epoch reshuffles without rewriting upstream data).

    100-TB shape: exactly ONE shuffle (the rank window's
    partitionBy(shard)); md5 spreads rows uniformly so shards are
    balanced by construction — pick n_shards >= cluster cores so the
    per-shard sort parallelizes. The alternative (global orderBy =
    range-exchange + total sort) costs a sampling pass plus a second
    exchange; partitioning BY the output unit is cheaper and writes
    directly as partitioned files."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    key = hex_prefix_long(
        F.concat(F.lit(salt), F.lit("\x1f"), F.col(id_col).cast("string")),
        15,
    )
    out = df.withColumn("shuffle_key", key).withColumn(
        "shard", (F.col("shuffle_key") % n_shards).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return out.withColumn(
        "shard_pos", (F.row_number().over(w) - 1).cast("long")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_chars: int,
    overlap_chars: int = 0,
) -> DataFrame:
    """Split long documents into fixed-size context-window chunks with
    optional overlap — the standard pretraining prep for docs longer
    than the model context. Emits (id, chunk_idx, chunk_start,
    chunk_text): chunk i covers [i*stride, i*stride + chunk_chars)
    where stride = chunk_chars - overlap_chars; the chunk count is
    max(1, ceil((len - overlap) / stride)) computed in INTEGER
    arithmetic so every engine agrees exactly (empty text → one empty
    chunk; null text → no rows, like every explode).

    100-TB shape: pure projection + explode — ZERO shuffle at any
    scale; each task chunks its own rows and the output partitioning
    inherits the input's. Pair with shuffle_shards on (id, chunk_idx)
    downstream to randomize training order."""
    if chunk_chars <= 0:
        raise ValueError(f"chunk_chars must be positive, got {chunk_chars}")
    if not 0 <= overlap_chars < chunk_chars:
        raise ValueError(
            f"overlap_chars must be in [0, chunk_chars), got {overlap_chars}"
        )
    stride = chunk_chars - overlap_chars
    n_len = F.length(F.col(text_col))
    # integer ceil-div, clamped: the clamp hides the engines' divergent
    # negative-division conventions (len < overlap → both clamp to 1).
    # NOT F.greatest(1, raw): greatest SKIPS nulls, which would turn
    # null text into one null chunk instead of zero rows — when/otherwise
    # propagates the null so explode drops the row.
    raw = F.floor((n_len - overlap_chars + stride - 1) / stride).cast("int")
    n_chunks = F.when(raw < 1, F.lit(1)).otherwise(raw)
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    out = df.select(F.col(id_col), F.col(text_col), idx)
    start = F.col("chunk_idx").cast("long") * stride
    return out.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        start.alias("chunk_start"),
        F.substring(
            F.col(text_col), (start + 1).cast("int"), chunk_chars
        ).alias("chunk_text"),
    )


def fim_transform(
    df: DataFrame,
    id_col: str,
    text_col: str,
    salt: str = "fim",
) -> DataFrame:
    """Fill-in-the-middle transform for code pretraining: split each
    document at two deterministic cut points into (prefix, middle,
    suffix) plus a psm/spm mode flag — the standard FIM augmentation,
    reproducible across reruns and engines because the cuts derive from
    the portable 60-bit md5 of (salt, id), not an RNG. Different salts
    give independent splits (fresh augmentation per epoch without
    storing state).

    Cut points are uniform over [0, len] (two keys, ordered), so
    degenerate splits (empty prefix/middle/suffix) occur at the natural
    boundary rates — downstream filters can drop them by length.
    prefix || middle || suffix == text always (property-tested).

    100-TB shape: pure projection — zero shuffle, no RNG state, output
    partitioning inherits the input's."""
    n_len = F.length(F.col(text_col))

    def key(tag: str) -> Column:
        return hex_prefix_long(
            F.concat(
                F.lit(salt),
                F.lit("\x1f"),
                F.col(id_col).cast("string"),
                F.lit("\x1f"),
                F.lit(tag),
            ),
            15,
        )

    c1 = (key("a") % (n_len + 1)).cast("int")
    c2 = (key("b") % (n_len + 1)).cast("int")
    lo, hi = F.least(c1, c2), F.greatest(c1, c2)
    return df.select(
        id_col,
        F.substring(F.col(text_col), 1, lo).alias("fim_prefix"),
        F.substring(F.col(text_col), lo + 1, hi - lo).alias("fim_middle"),
        F.substring(F.col(text_col), hi + 1, n_len - hi).alias("fim_suffix"),
        F.when(key("m") % 2 == 0, F.lit("psm"))
        .otherwise(F.lit("spm"))
        .alias("fim_mode"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    size_col: str,
    context_len: int,
    partition_col: str,
    salt: str = "pack",
) -> DataFrame:
    """Deterministic contiguous sequence packing for LLM pre-training:
    within each ``partition_col`` shard, order documents by a portable
    id-hash (reproducible shuffle order) and cut the concatenated
    stream into ``context_len``-sized bins:

        pack_bin    = floor(running_size_before_this_doc / context_len)
        pack_offset = running_size_before_this_doc % context_len

    A doc straddling a boundary starts in its bin at pack_offset and
    spills into the next — exactly the standard packed-dataset layout
    (attention masks handle the seam downstream).

    Scale shape: ONE shuffle on ``partition_col`` serves the ordering
    window and the running sum; shards pack independently, so
    parallelism = number of shards (pass a salted shard key, e.g.
    ``with_bucket``, when a natural shard would skew). All-integer
    arithmetic (LONG running sum, integer DIV — never a double
    division, whose 2^53 mantissa would tear bins once a shard's
    cumulative size passes ~9e15) — bit-exact on any engine."""
    if context_len < 1:
        # would otherwise surface as an opaque ANSI divide/modulo-by-
        # zero (or nonsense negative bins) at execution time
        raise ValueError(f"context_len must be >= 1, got {context_len}")
    from pyspark.sql import Window

    order = sample_gate(F.col(id_col), salt)
    w = (
        Window.partitionBy(partition_col)
        .orderBy(order, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # clamp null/negative sizes to 0 (zero-width docs): a negative size
    # would shrink the running offset and tear bin assignment
    clamped = F.greatest(F.coalesce(F.col(size_col), F.lit(0)), F.lit(0))
    cum_prev = F.coalesce(F.sum(clamped).over(w), F.lit(0)).cast("long")
    return (
        df.select("*", cum_prev.alias("__cum"))
        .select(
            "*",
            F.expr(f"__cum DIV {int(context_len)}").alias("pack_bin"),
            (F.col("__cum") % context_len).cast("long").alias("pack_offset"),
        )
        .drop("__cum")
    )


def theta_distinct_estimate(
    df: DataFrame,
    group_col: str,
    value_col: str,
    log2_ratio: int = 6,
) -> DataFrame:
    """Fixed-threshold theta-sketch distinct estimator: hash every value
    with the portable md5-prefix, keep only hashes below M/2^log2_ratio,
    estimate distinct = (distinct sampled hashes) × 2^log2_ratio.

    Why this shape at 100 TB: an EXACT distinct shuffles every distinct
    value; this shuffles 1/2^log2_ratio of them (scan-level filter on
    the hash), the per-group state is the sampled hash set, and two
    sketches merge by union — the standard mergeable-sketch contract.
    Unlike HLL (approx_count_distinct), the estimate is a DETERMINISTIC
    integer function of the data — reproducible across engines, so the
    correctness oracle is exact, and relative error ~ 1/sqrt(n_sampled).

    EVERY input group appears in the output — a group whose values all
    hash above the threshold (likely when its cardinality is near or
    below 2^log2_ratio) comes back with n_sampled = est_distinct = 0
    rather than silently vanishing; read n_sampled as the confidence
    signal and drop log2_ratio for small-group workloads.
    """
    m_bits = 60  # hex_prefix_long(·, 15) is uniform in [0, 2^60)
    threshold = 1 << (m_bits - log2_ratio)
    h = hex_prefix_long(F.col(value_col).cast("string"), 15)
    sampled = (
        df.select(F.col(group_col), h.alias("__h"))
        .filter(F.col("__h") < threshold)
        .groupBy(group_col)
        .agg(F.count_distinct("__h").alias("n_sampled"))
    )
    groups = df.select(group_col).distinct()
    # null-SAFE join: a NULL group key is a real group (groupBy keeps
    # it) — a plain equi-join would never match it against its own
    # sampled row and silently report n_sampled = 0
    s = sampled.withColumnRenamed(group_col, "__g")
    return (
        groups.join(s, on=F.col(group_col).eqNullSafe(F.col("__g")), how="left")
        .select(
            group_col,
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            (F.coalesce("n_sampled", F.lit(0)) * (1 << log2_ratio)).alias(
                "est_distinct"
            ),
        )
    )


def budget_sample(
    df: DataFrame,
    id_col: str,
    size_col: str,
    strata_col: str,
    budgets: dict[str, int],
    default_budget: int = 0,
    salt: str = "budget",
) -> DataFrame:
    """Data-mixing to a per-stratum SIZE BUDGET (tokens/chars/bytes):
    within each stratum, order documents by the portable id-hash
    (reproducible shuffle order — same gate family as the samplers
    above) and keep documents while the cumulative size BEFORE each one
    is under the stratum's budget. The last kept doc may overshoot by
    at most its own size — the standard quota-fill convention, which
    guarantees every non-empty stratum with a positive budget
    contributes at least one doc.

    This is the "mix 30B code tokens with 10B wiki tokens" step of
    assembling a training set: deterministic across reruns, engines and
    partitionings, and auditable from ids alone. Strata missing from
    ``budgets`` get ``default_budget`` (0 ⇒ dropped entirely).

    Scale shape: ONE shuffle on the stratum key serves both the
    ordering window and the running sum; the filter then prunes
    map-side. All-integer running sums (LONG) — no doubles anywhere,
    so the DuckDB oracle matches bit-for-bit. Like pack_sequences, a
    stratum is one sort task: salt the stratum key (compose with a
    hash bucket) if a single stratum's SURVIVING budget-window is too
    big to sort in one task — the budget cap itself bounds the kept
    prefix, so this matters only for extreme budgets.
    """
    for k, v in budgets.items():
        if v < 0:
            raise ValueError(f"budget for {k!r} must be >= 0, got {v}")
    if default_budget < 0:
        raise ValueError(f"default_budget must be >= 0, got {default_budget}")
    from pyspark.sql import Window

    order = sample_gate(F.col(id_col), salt)
    w = (
        Window.partitionBy(strata_col)
        .orderBy(order, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # clamp null/negative sizes to 0: a negative size must never REFUND
    # budget
    clamped = F.greatest(F.coalesce(F.col(size_col), F.lit(0)), F.lit(0))
    cum_prev = F.coalesce(F.sum(clamped).over(w), F.lit(0)).cast("long")
    budget = _strata_case(strata_col, budgets, default_budget)
    return (
        df.select("*", cum_prev.alias("__cum_prev"))
        .filter(F.col("__cum_prev") < budget)
        .drop("__cum_prev")
    )
