"""Spark-expression references for the Arrow text kernels and the
SQL-text LSH projections.

Each text function is the JVM expression path (split/trim, explode, md5,
groupBy) of one producer built on ``operators/kernels.py``, written
with Spark built-ins only. The two LSH functions are the Column-built
form of ``dedup.lsh_candidate_ids``/``lsh_candidate_pairs``, and
``hyperplane_signature`` that of ``similarity.hyperplane_signature``;
the library builds all three from SQL text. The quality-filter stage
functions at the end are the Column-built form of
``pipeline/stages.py``, which builds each stage as one ``selectExpr``. The differential tests
compare every library function with its reference on adversarial
inputs and sf0.01 data; the library itself runs only the Arrow kernels
and the SQL text.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_curator_spark.operators.classifier import NB_DEFAULT_BUCKETS, NB_DEFAULT_GRAM
from data_curator_spark.operators.dedup import (
    P31,
    hex_prefix_long,
    minhash_params,
    span_window_grams,
    word_shingles,
)
# the tokenizer is written out again below, not called through
# kernels.ws_tokens: a reference must not share the code it checks
from data_curator_spark.operators.kernels import WS_RE
from data_curator_spark.operators.similarity import dot
from data_curator_spark.pipeline import spec


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    content_col: str,
    k: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """``dedup.minhash_signatures``: explode distinct shingles, ONE md5
    base hash per shingle, k affine permutations, one groupBy computing
    the k mins."""
    params = minhash_params(k, seed)
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(content_col), shingle_n)).alias("s")
    )
    x = (hex_prefix_long(F.col("s"), 8) % F.lit(P31)).alias("x")
    hx = sh.select(F.col(id_col), x)
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(P31)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(params)
    ]
    return hx.groupBy(id_col).agg(*aggs)


def shingle_hash_rows(
    df: DataFrame, id_col: str, content_col: str, shingle_n: int
) -> DataFrame:
    """``dedup._shingle_hash_rows`` (contamination_overlap's producer)."""
    return df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(content_col), shingle_n)).alias("s"),
    ).select(id_col, hex_prefix_long(F.col("s"), 15).alias("h"))


def segment_hash_rows(
    df: DataFrame, id_col: str, text_col: str, delimiter: str, min_len: int
) -> DataFrame:
    """``dedup._segment_hash_rows`` (dedup_segments_global's producer)."""
    segs = F.split(F.col(text_col), _re.escape(delimiter))
    arr = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), segs.alias("__segs")
    )
    return arr.select(
        F.col(id_col), F.posexplode("__segs").alias("pos", "seg")
    ).filter(F.length("seg") >= min_len).select(
        F.col(id_col), "pos", hex_prefix_long(F.col("seg"), 15).alias("h")
    )


def span_hash_rows(
    df: DataFrame, id_col: str, text_col: str, span_len: int
) -> DataFrame:
    """``dedup._span_hash_rows`` (exact_substring_dedup's producer)."""
    words = F.split(F.trim(F.col(text_col)), WS_RE)
    base = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col), words.alias("__ws"))
    return base.filter(F.size("__ws") >= span_len).select(
        F.col(id_col),
        F.explode(span_window_grams(F.col("__ws"), span_len)).alias("pg"),
    ).select(
        id_col,
        F.col("pg.pos").alias("pos"),
        hex_prefix_long(F.col("pg.g"), 15).alias("h"),
    )


def strip_hot_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int,
    delimiter: str = "\n",
    out_col: str = "text_stripped",
) -> DataFrame:
    """``dedup.strip_hot_segments`` with two explodes: document
    frequency per-doc-distinct by segment STRING, hot positions by a
    posexplode joined against the hot hashes."""
    segs = F.split(F.col(text_col), _re.escape(delimiter))
    base = df.select(F.col(id_col), F.col(text_col))
    # per-doc-distinct BEFORE the shuffle: a segment repeated 10^4
    # times inside one doc is one (hash) row, and DF semantics want
    # distinct docs anyway
    doc_hashes = base.filter(F.col(text_col).isNotNull()).select(
        F.explode(F.array_distinct(segs)).alias("seg")
    ).select(hex_prefix_long(F.col("seg"), 15).alias("h"))
    hot = doc_hashes.groupBy("h").count().filter(F.col("count") >= min_df).select("h")
    arr = base.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), segs.alias("__segs")
    )
    hot_pos = arr.select(
        F.col(id_col), F.posexplode("__segs").alias("pos", "seg")
    ).join(
        hot,
        on=hex_prefix_long(F.col("seg"), 15) == F.col("h"),
        how="inner",
    ).groupBy(id_col).agg(F.collect_list("pos").alias("__hpos"))
    kept = F.when(
        F.col("__hpos").isNull(), F.col("__segs")
    ).otherwise(
        F.filter(
            "__segs", lambda x, i: ~F.array_contains(F.col("__hpos"), i)
        )
    )
    rebuilt = arr.join(hot_pos, on=id_col, how="left").select(
        F.col(id_col), F.array_join(kept, delimiter).alias(out_col)
    )
    null_rows = base.filter(F.col(text_col).isNull()).select(
        F.col(id_col), F.lit(None).cast("string").alias(out_col)
    )
    return rebuilt.unionByName(null_rows)


def bigram_repetition_stats(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """``lm.bigram_repetition_stats``: explode bigrams →
    groupBy(id, gram) → groupBy(id)."""
    words = F.split(F.trim(F.col(text_col)), WS_RE)
    idx = F.sequence(F.lit(1), F.size(words) - 1)
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(words) >= 2,
                F.transform(
                    idx, lambda i: F.array_join(F.slice(words, i, 2), " ")
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    counts = grams.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy(id_col).agg(
        F.sum("n").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_unique_bigrams"),
        F.max("n").alias("top_count"),
    )


def char_gram_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = NB_DEFAULT_GRAM,
    n_buckets: int = NB_DEFAULT_BUCKETS,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode documents into hashed character ``gram_len``-gram
    feature rows: (id, [extra_cols...,] bucket) — one row per gram
    occurrence. Docs shorter than ``gram_len`` chars emit nothing.
    Bucket = 60-bit md5 prefix of the gram, mod ``n_buckets``."""
    if gram_len < 1:
        raise ValueError(f"gram_len must be >= 1, got {gram_len}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    g = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length(text_col) - gram_len + 1),
            lambda i: F.substring(F.col(text_col), i, F.lit(gram_len)),
        )
    )
    return (
        df.filter(
            F.col(text_col).isNotNull()
            & (F.length(text_col) >= gram_len)
        )
        .select(F.col(id_col), *[F.col(c) for c in extra_cols], g.alias("g"))
        .select(
            id_col,
            *extra_cols,
            F.pmod(hex_prefix_long(F.col("g"), 15), F.lit(n_buckets)).alias(
                "bucket"
            ),
        )
    )


def doc_feats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_cols: tuple[str, ...],
    gram_len: int,
    n_buckets: int,
) -> DataFrame:
    """``classifier._doc_feats``: explode char grams, groupBy counts."""
    return (
        char_gram_buckets(
            df,
            id_col,
            text_col,
            gram_len=gram_len,
            n_buckets=n_buckets,
            extra_cols=label_cols,
        )
        .groupBy(id_col, *label_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lsh_candidate_ids(
    signatures: DataFrame,
    id_col: str,
    k: int = 32,
    bands: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """``dedup.lsh_candidate_ids``: the band structs built as Columns,
    exploded, then the (band, key) self-join."""
    r = k // bands
    banded = signatures.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array(*[F.col(f"mh_{b * r + j}") for j in range(r)]).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.key")

    if max_bucket is not None:
        sizes = banded.groupBy("band", "key").agg(F.count(F.lit(1)).alias("__n"))
        banded = (
            banded.join(
                F.broadcast(sizes.filter(F.col("__n") > max_bucket)),
                on=["band", "key"],
                how="left_anti",
            )
        )

    a = banded.select(F.col(id_col).alias("id_a"), "band", "key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "key")
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, k: int = 32, bands: int = 8
) -> DataFrame:
    """``dedup.lsh_candidate_pairs``: 2×k aliased Columns per side and a
    k-term ``F.when`` sum for the equal-component count."""
    mh_cols = [f"mh_{i}" for i in range(k)]
    pairs = lsh_candidate_ids(signatures, id_col, k, bands)
    sig_a = signatures.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(f"a_{c}") for c in mh_cols]
    )
    sig_b = signatures.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"b_{c}") for c in mh_cols]
    )
    matches = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0) for c in mh_cols
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a", "id_b", (matches.cast("double") / F.lit(float(k))).alias("est_jaccard")
        )
    )


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: sign pattern of dot products with fixed random
    hyperplanes, packed into a long (pure column expression)."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(float(x)) for x in p])) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


# ---------------------------------------------------------------------------
# quality-filter stages: the Column-built form of pipeline/stages.py
# ---------------------------------------------------------------------------


_ALNUM_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
)
_DIGIT_CHARS = "0123456789"


def with_heuristics(df: DataFrame, content: str = "content") -> DataFrame:
    c = F.col(content)
    lines = F.split(c, "\n")
    n_chars = F.length(c)
    n_lines = F.size(lines)
    # sum of line lengths = n_chars − (n_lines − 1) separators
    avg_line = (n_chars - n_lines + 1).cast("double") / n_lines
    return df.select(
        "*",
        n_chars.alias("n_chars"),
        n_lines.alias("n_lines"),
        F.array_max(F.transform(lines, lambda x: F.length(x))).alias("max_line_len"),
        avg_line.alias("avg_line_len"),
        # translate()-delete, NOT regexp_count: Spark 4 lowers
        # regexp_count to size(regexp_extract_all(...)), materializing
        # one array element PER MATCHED CHARACTER — measured 1.9× slower
        # than the branch-free translate scan. Exact for these literal
        # ASCII classes (and the DuckDB oracle / pandas labeler count the
        # same chars by their own methods, so parity is on values).
        (
            (n_chars - F.length(F.translate(c, _ALNUM_CHARS, ""))).cast(
                "double"
            )
            / F.greatest(n_chars, F.lit(1))
        ).alias("alnum_ratio"),
        (
            (n_chars - F.length(F.translate(c, _DIGIT_CHARS, ""))).cast(
                "double"
            )
            / F.greatest(n_chars, F.lit(1))
        ).alias("digit_ratio"),
        (
            F.size(F.array_distinct(lines)).cast("double") / n_lines
        ).alias("distinct_line_ratio"),
        # blob chars via ONE fused regexp_extract_all + aggregates, NOT
        # length(regexp_replace(...)): extract_all materializes only the
        # matched runs (empty array for the typical blob-free file),
        # while replace would copy the whole document per pattern — and
        # the fusion halves the full-document regex scans (the b64 and
        # hex alphabets share a superset run extraction; spec.py has the
        # soundness argument). Catalyst subexpression elimination shares
        # the extraction between the two output columns.
        _b64_chars_fused(c).alias("b64_blob_chars"),
        _hex_chars_fused(c).alias("hex_blob_chars"),
        F.substring(c, 1, spec.AUTOGEN_HEAD_CHARS)
        .rlike(spec.AUTOGEN_PATTERN)
        .alias("autogen_head"),
        # encoding damage via the same translate()-delete trick as the
        # ratio counts — branch-free, no regex, exact for the literal
        # char set (U+FFFD + C0 controls minus whitespace)
        (n_chars - F.length(F.translate(c, spec.MOJIBAKE_CHARS, "")))
        .cast("long")
        .alias("mojibake_chars"),
        # chars covered by full-line / block comments, ONE fused
        # alternation scan (spec.COMMENT_PATTERN has the portability
        # argument); extract_all materializes one element per comment,
        # not per char, so the array stays small on normal code
        _len_sum(F.regexp_extract_all(c, F.lit(spec.COMMENT_PATTERN), 0))
        .alias("comment_chars"),
    )


def _superset_runs(c: Column) -> Column:
    return F.regexp_extract_all(c, F.lit(spec.BLOB_SUPERSET_PATTERN), 0)


def _len_sum(arr: Column) -> Column:
    return F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )


def _b64_chars_fused(c: Column) -> Column:
    """Chars covered by B64_BLOB_PATTERN matches == superset runs of
    length >= B64_BLOB_RUN (same alphabet, both maximal); null → null."""
    return _len_sum(
        F.filter(
            _superset_runs(c), lambda r: F.length(r) >= spec.B64_BLOB_RUN
        )
    )


def _hex_chars_fused(c: Column) -> Column:
    """Chars covered by HEX_BLOB_PATTERN matches: the inner extraction
    re-scans only the (rare) superset runs, never the document."""
    return F.aggregate(
        _superset_runs(c),
        F.lit(0).cast("long"),
        lambda acc, r: acc
        + _len_sum(F.regexp_extract_all(r, F.lit(spec.HEX_BLOB_PATTERN), 0)),
    )


def heuristics_pass_expr() -> Column:
    """True where none of the stage-1 heuristic rules fires (columns from
    with_heuristics). Rows failing a heuristic already have their
    drop_reason decided, so model scoring is skipped for them — they
    carry null model columns. On this corpus that's ~55% of character
    volume never shipped to Python."""
    # derived from the SAME condition list with_decision consumes
    # (content_rule_checks) — NOT-OR equals the old AND-of-complements
    # exactly, nulls included (De Morgan holds in Kleene logic), and a
    # wave-N rule added to the list reaches the gate automatically
    fired = None
    for _, cond in content_rule_checks():
        fired = cond if fired is None else (fired | cond)
    return ~fired


def vendored_path_expr(path: str = "path") -> Column:
    """True for vendored dependency trees / minified bundles by path
    (spec.VENDORED_PATH_PATTERN); null paths are not vendored."""
    return F.coalesce(
        F.col(path).rlike(spec.VENDORED_PATH_PATTERN), F.lit(False)
    )


def content_rule_checks() -> list[tuple[str, Column]]:
    """The CONTENT heuristic rules as (name, fire-condition) pairs over
    with_heuristics columns, in RULE_NAMES order — the single source
    shared by with_decision and the rule-ablation analytics query
    (queries.py:q_rule_ablation), so a threshold or a new rule can never
    reach one consumer and miss the other. vendored_path (needs a path
    column) and the model rules (need stage-2 scores) are composed
    separately by with_decision."""
    return [
        ("too_short", F.col("n_chars") < spec.MIN_CHARS),
        ("long_line", F.col("max_line_len") > spec.MAX_LINE_LENGTH),
        ("long_avg_line", F.col("avg_line_len") > spec.MAX_AVG_LINE_LENGTH),
        ("low_alnum", F.col("alnum_ratio") < spec.MIN_ALNUM_RATIO),
        ("high_digit", F.col("digit_ratio") > spec.MAX_DIGIT_RATIO),
        (
            "repetitive",
            (F.col("n_lines") >= spec.DISTINCT_LINE_MIN_LINES)
            & (F.col("distinct_line_ratio") < spec.MIN_DISTINCT_LINE_RATIO),
        ),
        (
            "b64_blob",
            F.col("b64_blob_chars") > spec.MAX_B64_BLOB_RATIO * F.col("n_chars"),
        ),
        (
            "hex_blob",
            F.col("hex_blob_chars") > spec.MAX_HEX_BLOB_RATIO * F.col("n_chars"),
        ),
        ("autogenerated", F.col("autogen_head")),
        (
            "comment_heavy",
            F.col("comment_chars") > spec.MAX_COMMENT_RATIO * F.col("n_chars"),
        ),
        (
            "mojibake",
            F.col("mojibake_chars")
            > spec.MAX_MOJIBAKE_RATIO * F.col("n_chars"),
        ),
    ]


def with_decision(df: DataFrame, claimed_lang: str = "lang") -> DataFrame:
    checks: list[tuple[str, Column]] = [
        ("vendored_path", vendored_path_expr()),
        *content_rule_checks(),
        (
            "compressible",
            F.col("compress_ratio") < spec.MIN_COMPRESS_RATIO,
        ),
        (
            "secret_entropy",
            F.col("secret_entropy") > spec.MAX_SECRET_ENTROPY,
        ),
        ("high_perplexity", F.col("log_ppl") > spec.MAX_LOG_PERPLEXITY),
        ("langid_low_margin", F.col("langid_margin") < spec.MIN_LANGID_MARGIN),
        ("langid_mismatch", F.col("lang_pred") != F.col(claimed_lang)),
    ]
    # the decision order IS the drop_reason priority contract shared
    # with the labeler — a rule added to one list but not the other
    # would silently mis-prioritize
    assert [n for n, _ in checks] == spec.RULE_NAMES
    reason = F.lit(None).cast("string")
    for name, cond in reversed(checks):
        reason = F.when(cond, F.lit(name)).otherwise(reason)
    return df.select("*", reason.alias("drop_reason")).withColumn(
        "keep", F.col("drop_reason").isNull()
    )


def with_scrub(
    df: DataFrame,
    content: str = "content",
    pre_redacted: str | None = None,
) -> DataFrame:
    # fire flag = CHANGE DETECTION on the progressively-scrubbed chain
    # (rule fired ⟺ its replacement modified the text), the same
    # intermediate the labeler tests (ADVICE r1). This both removes the
    # earlier original-vs-progressive divergence when rules interact AND
    # drops every per-rule rlike scan — the string inequality reuses the
    # replace outputs the chain computes anyway. It also makes
    # "scrub_rules_fired is empty ⟺ sha256 unchanged" exact by
    # construction.
    #
    # STRUCTURE MATTERS: each chain step is materialized as its own
    # withColumn and downstream expressions reference the COLUMN, never
    # the expression tree. Building the chain as one nested expression
    # inlined every prior replace into every fired flag and sha — the
    # executed plan carried 60 regexp_replace instances instead of 5
    # (measured 4.6× slower on the bench corpus). CollapseProject keeps
    # these projections separate because regexp_replace is non-cheap and
    # each intermediate is referenced more than once.
    #
    # ``pre_redacted`` (a nullable column of UDF-redacted text, e.g. the
    # secret-entropy redaction) becomes the chain's BASE when present;
    # it registers in scrub_rules_fired as 'secret_literal' so the
    # "fired empty ⟺ sha unchanged" contract covers it.
    out = df
    if pre_redacted is not None:
        out = out.withColumn(
            "__scrub_base", F.coalesce(F.col(pre_redacted), F.col(content))
        )
        prev = "__scrub_base"
    else:
        prev = content
    steps: list[tuple[str, str, str]] = []  # (rule, prev_col, this_col)
    for i, (name, pattern, repl) in enumerate(spec.SCRUB_RULES):
        col = f"__scrub{i}"
        out = out.withColumn(col, F.regexp_replace(F.col(prev), pattern, repl))
        steps.append((name, prev, col))
        prev = col
    fired = [F.when(F.col(c) != F.col(p), F.lit(n)) for n, p, c in steps]
    if pre_redacted is not None:
        fired.insert(
            0,
            F.when(
                F.col(pre_redacted).isNotNull(), F.lit("secret_literal")
            ),
        )
    fired_arr = F.array_compact(F.array(*fired))
    out = out.withColumn("__fired", fired_arr)
    # no rule fired ⟹ scrubbed IS the original text: reuse its sha
    # instead of hashing the full content a second time (most docs are
    # untouched, and sha256 over content is one of the pass's largest
    # per-row costs; the value is identical by the fired ⟺ changed
    # contract above, so this is pure savings).
    out = out.withColumn("__sha_orig", F.sha2(F.col(content), 256))
    return out.select(
        *df.columns,
        F.col(prev).alias("content_scrubbed"),
        F.col("__fired").alias("scrub_rules_fired"),
        F.col("__sha_orig").alias("sha256_original"),
        F.when(F.size(F.col("__fired")) == 0, F.col("__sha_orig"))
        .otherwise(F.sha2(F.col(prev), 256))
        .alias("sha256_scrubbed"),
    )


def run_stages(df: DataFrame, spark) -> DataFrame:
    """``stages.run_stages`` without the optional corpus-level stages,
    built from the Column forms above and the library's model-score
    stage."""
    from data_curator_spark.pipeline.stages import with_model_scores

    out = with_heuristics(df)
    # materialize the gate as a COLUMN: passing the expression tree
    # inlined the blob-counter extractions a second time into the
    # UDF-stage projection (same CollapseProject trap the scrub chain
    # documents) — an attribute reference cannot be re-inlined
    out = out.withColumn(
        "__gate", heuristics_pass_expr() & ~vendored_path_expr()
    )
    out = with_model_scores(out, spark, gate=F.col("__gate"))
    out = out.drop("__gate")
    out = with_scrub(out, pre_redacted="secret_redacted").drop(
        "secret_redacted"
    )
    out = with_decision(out)
    return out
