"""Spark stages of the quality-filter pipeline (north_rule).

Stage layout over the input table ``(repo, path, commit, lang, content)``:

1. ``with_heuristics``   — line/char statistics as pure built-in SQL
                           expressions (whole-stage codegen, no Python).
2. ``with_model_scores`` — fastText-style langid + bigram log-perplexity
                           in ONE Arrow-batched pandas UDF with broadcast
                           model weights (the only Python exchange).
3. ``with_scrub``        — regex PII/toxicity scrub as a chained
                           ``regexp_replace`` (JVM); per-rule fire flags
                           by change detection; sha256 preserved for
                           untouched rows by construction.
4. ``with_decision``     — keep/drop + first-failing drop_reason.

Stages 1, 3 and 4 and the model gate are SQL text, one projection each
(a ``selectExpr``, or a ``withColumn`` of one ``F.expr``). Each PySpark
``Column``/``DataFrame`` call makes one or more py4j round trips to the
driver JVM, so the chain built from Column calls (kept as the
differential reference in ``tests/kernel_references.py``) makes about
1,000 per build, while a ``selectExpr`` makes one per expression string
plus five. The model-score UDF and its weight broadcasts are built once
per SparkContext.

The reference analog: validate (entity contracts → mask columns),
homogenize (provider lang tag vs computed langid = the cross-endpoint
discrepancy check, data_provider_toolkit.py:365-476), combine (scrubbed
output + metrics) — re-targeted from market data onto code corpora.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_curator_spark.pipeline import spec
from data_curator_spark.pipeline.model import BigramLM, LangIdModel, build_bigram_lm, build_langid_model

# ---------------------------------------------------------------------------
# SQL text
# ---------------------------------------------------------------------------

_ESCAPED_LITERALS = "spark.sql.parser.escapedStringLiterals"


def _q(name: str) -> str:
    """A column name as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _lit(s: str) -> str:
    """``s`` as a SQL string literal — the one writer of the literals
    below (regexes, translate sets, replacements, rule names). Backslash
    and quote are escaped, and the control chars of the mojibake set are
    ``\\uXXXX`` escapes. Spark reads the text back to ``s`` only while
    spark.sql.parser.escapedStringLiterals is off; the SQL text carries
    no session, so ``_check_parser`` verifies that setting where the
    text meets one."""
    out = []
    for ch in s:
        if ch in "\\'":
            out.append("\\" + ch)
        elif ch < " " or ch == "\x7f":
            out.append(f"\\u{ord(ch):04X}")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def _check_parser(spark: SparkSession) -> None:
    """Refuse a session that parses string literals verbatim: there the
    backslash escapes ``_lit`` writes would reach the regexes and
    translate sets as literal backslashes."""
    if spark.conf.get(_ESCAPED_LITERALS, "false").strip().lower() == "true":
        raise ValueError(
            f"the pipeline stages are SQL text written for {_ESCAPED_LITERALS}=false"
        )


def _num(x: float) -> str:
    """A spec threshold as the SQL literal of the type ``F.lit`` gives it:
    INT for an int, DOUBLE (``D`` suffix, not DECIMAL) for a float."""
    return f"{x!r}D" if isinstance(x, float) else str(x)


# ---------------------------------------------------------------------------
# stage 1: heuristic statistics (pure SQL expressions)
# ---------------------------------------------------------------------------


_ALNUM_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
)
_DIGIT_CHARS = "0123456789"


def _len_sum_sql(arr: str, acc: str = "acc", x: str = "x") -> str:
    """Total length of the strings in array ``arr``; null → null."""
    return f"aggregate({arr}, CAST(0 AS BIGINT), ({acc}, {x}) -> {acc} + length({x}))"


def _superset_runs_sql(c: str) -> str:
    return f"regexp_extract_all({c}, {_lit(spec.BLOB_SUPERSET_PATTERN)}, 0)"


def _b64_chars_sql(c: str) -> str:
    """Chars covered by B64_BLOB_PATTERN matches == superset runs of
    length >= B64_BLOB_RUN (same alphabet, both maximal); null → null."""
    runs = f"filter({_superset_runs_sql(c)}, r -> length(r) >= {spec.B64_BLOB_RUN})"
    return _len_sum_sql(runs)


def _hex_chars_sql(c: str) -> str:
    """Chars covered by HEX_BLOB_PATTERN matches: the inner extraction
    re-scans only the (rare) superset runs, never the document."""
    inner = _len_sum_sql(f"regexp_extract_all(r, {_lit(spec.HEX_BLOB_PATTERN)}, 0)", "n", "y")
    return f"aggregate({_superset_runs_sql(c)}, CAST(0 AS BIGINT), (acc, r) -> acc + {inner})"


def _b64_chars_fused(c: Column) -> Column:
    """``b64_blob_chars`` of with_heuristics over the column reference ``c``."""
    return F.expr(_b64_chars_sql(_q(c._jc.toString())))


def _hex_chars_fused(c: Column) -> Column:
    """``hex_blob_chars`` of with_heuristics over the column reference ``c``."""
    return F.expr(_hex_chars_sql(_q(c._jc.toString())))


def _heuristics_sql(content: str) -> list[str]:
    c = _q(content)
    lines = f"split({c}, {_lit(chr(10))})"
    n_chars = f"length({c})"
    n_lines = f"size({lines})"

    def ratio(chars: str) -> str:
        # translate()-delete, NOT regexp_count: Spark 4 lowers
        # regexp_count to size(regexp_extract_all(...)), materializing
        # one array element PER MATCHED CHARACTER — measured 1.9× slower
        # than the branch-free translate scan. Exact for these literal
        # ASCII classes (and the DuckDB oracle / pandas labeler count the
        # same chars by their own methods, so parity is on values).
        return (
            f"CAST({n_chars} - length(translate({c}, {_lit(chars)}, {_lit('')})) AS DOUBLE)"
            f" / greatest({n_chars}, 1)"
        )

    return [
        f"{n_chars} AS `n_chars`",
        f"{n_lines} AS `n_lines`",
        f"array_max(transform({lines}, x -> length(x))) AS `max_line_len`",
        # sum of line lengths = n_chars − (n_lines − 1) separators
        f"CAST({n_chars} - {n_lines} + 1 AS DOUBLE) / {n_lines} AS `avg_line_len`",
        f"{ratio(_ALNUM_CHARS)} AS `alnum_ratio`",
        f"{ratio(_DIGIT_CHARS)} AS `digit_ratio`",
        f"CAST(size(array_distinct({lines})) AS DOUBLE) / {n_lines} AS `distinct_line_ratio`",
        # blob chars via ONE fused regexp_extract_all + aggregates, NOT
        # length(regexp_replace(...)): extract_all materializes only the
        # matched runs (empty array for the typical blob-free file),
        # while replace would copy the whole document per pattern — and
        # the fusion halves the full-document regex scans (the b64 and
        # hex alphabets share a superset run extraction; spec.py has the
        # soundness argument). Catalyst subexpression elimination shares
        # the extraction between the two output columns.
        f"{_b64_chars_sql(c)} AS `b64_blob_chars`",
        f"{_hex_chars_sql(c)} AS `hex_blob_chars`",
        f"substring({c}, 1, {spec.AUTOGEN_HEAD_CHARS}) RLIKE {_lit(spec.AUTOGEN_PATTERN)}"
        " AS `autogen_head`",
        # encoding damage via the same translate()-delete trick as the
        # ratio counts — branch-free, no regex, exact for the literal
        # char set (U+FFFD + C0 controls minus whitespace)
        f"CAST({n_chars} - length(translate({c}, {_lit(spec.MOJIBAKE_CHARS)}, {_lit('')}))"
        " AS BIGINT) AS `mojibake_chars`",
        # chars covered by full-line / block comments, ONE fused
        # alternation scan (spec.COMMENT_PATTERN has the portability
        # argument); extract_all materializes one element per comment,
        # not per char, so the array stays small on normal code
        _len_sum_sql(f"regexp_extract_all({c}, {_lit(spec.COMMENT_PATTERN)}, 0)")
        + " AS `comment_chars`",
    ]


def with_heuristics(df: DataFrame, content: str = "content") -> DataFrame:
    _check_parser(df.sparkSession)
    return df.selectExpr("*", *_heuristics_sql(content))


# ---------------------------------------------------------------------------
# rule conditions (SQL text over with_heuristics / model columns)
# ---------------------------------------------------------------------------

# The CONTENT heuristic rules as (name, fire condition) over
# with_heuristics columns, in RULE_NAMES order — the single source shared
# by the model gate, with_decision and the rule-ablation analytics query
# (queries.py:q_rule_ablation, through content_rule_checks), so a
# threshold or a new rule can never reach one consumer and miss the
# other. vendored_path (needs a path column) and the model rules (need
# stage-2 scores) are composed separately by with_decision.
CONTENT_RULES: list[tuple[str, str]] = [
    ("too_short", f"`n_chars` < {_num(spec.MIN_CHARS)}"),
    ("long_line", f"`max_line_len` > {_num(spec.MAX_LINE_LENGTH)}"),
    ("long_avg_line", f"`avg_line_len` > {_num(spec.MAX_AVG_LINE_LENGTH)}"),
    ("low_alnum", f"`alnum_ratio` < {_num(spec.MIN_ALNUM_RATIO)}"),
    ("high_digit", f"`digit_ratio` > {_num(spec.MAX_DIGIT_RATIO)}"),
    (
        "repetitive",
        f"(`n_lines` >= {_num(spec.DISTINCT_LINE_MIN_LINES)})"
        f" AND (`distinct_line_ratio` < {_num(spec.MIN_DISTINCT_LINE_RATIO)})",
    ),
    ("b64_blob", f"`b64_blob_chars` > `n_chars` * {_num(spec.MAX_B64_BLOB_RATIO)}"),
    ("hex_blob", f"`hex_blob_chars` > `n_chars` * {_num(spec.MAX_HEX_BLOB_RATIO)}"),
    ("autogenerated", "`autogen_head`"),
    ("comment_heavy", f"`comment_chars` > `n_chars` * {_num(spec.MAX_COMMENT_RATIO)}"),
    ("mojibake", f"`mojibake_chars` > `n_chars` * {_num(spec.MAX_MOJIBAKE_RATIO)}"),
]


def _any_sql(conds: list[str]) -> str:
    """``c1 OR c2 OR …`` folded to the left: the parser would balance an
    unparenthesized chain into a different (equal-valued) tree."""
    out = f"({conds[0]})"
    for cond in conds[1:]:
        out = f"({out} OR ({cond}))"
    return out


# True where none of the content rules fires. NOT-OR equals the
# AND-of-complements exactly, nulls included (De Morgan holds in Kleene
# logic), and a rule added to CONTENT_RULES reaches the gate automatically.
_HEURISTICS_PASS_SQL = f"NOT {_any_sql([cond for _, cond in CONTENT_RULES])}"


def _vendored_path_sql(path: str) -> str:
    return f"coalesce({_q(path)} RLIKE {_lit(spec.VENDORED_PATH_PATTERN)}, false)"


def content_rule_checks() -> list[tuple[str, Column]]:
    """CONTENT_RULES as (name, fire-condition Column) pairs."""
    return [(name, F.expr(cond)) for name, cond in CONTENT_RULES]


def heuristics_pass_expr() -> Column:
    """True where none of the stage-1 heuristic rules fires (columns from
    with_heuristics). Rows failing a heuristic already have their
    drop_reason decided, so model scoring is skipped for them — they
    carry null model columns. On this corpus that's ~55% of character
    volume never shipped to Python."""
    return F.expr(_HEURISTICS_PASS_SQL)


def vendored_path_expr(path: str = "path") -> Column:
    """True for vendored dependency trees / minified bundles by path
    (spec.VENDORED_PATH_PATTERN); null paths are not vendored."""
    _check_parser(SparkSession.active())
    return F.expr(_vendored_path_sql(path))


# ---------------------------------------------------------------------------
# stage 2: model scores (one Arrow-batched pandas UDF, broadcast weights)
# ---------------------------------------------------------------------------

# (SparkContext, langid, lm, udf) of the last score UDF built
_scorer: tuple | None = None


def _score_udf(sc, langid: LangIdModel, lm: BigramLM):
    """The model-score pandas UDF and its four weight broadcasts, built
    once per live SparkContext and model pair: a build per call would
    pickle and broadcast the same frozen arrays again and leave four
    more broadcast files under ``sc._temp_dir`` each time. A new
    context (the memo holds the old one, so it cannot be mistaken for
    it) broadcasts again."""
    global _scorer
    if _scorer is not None and _scorer[0] is sc and _scorer[1] is langid and _scorer[2] is lm:
        return _scorer[3]
    b_weights = sc.broadcast(langid.weights)
    b_priors = sc.broadcast(langid.priors)
    b_langs = sc.broadcast(list(langid.langs))
    b_logp = sc.broadcast(lm.logp)

    @F.pandas_udf(
        "struct<lang_pred:string, langid_margin:double, log_ppl:double,"
        " compress_ratio:double, secret_entropy:double,"
        " secret_redacted:string>"
    )
    def score(texts: pd.Series, gate_mask: pd.Series) -> pd.DataFrame:
        import math
        import re
        import zlib

        secret_rx = re.compile(spec.SECRET_LITERAL_PATTERN)

        def literal_entropy(lit: str) -> float:
            # Shannon bits/char; deterministic summation (sorted
            # counts) so the pandas labeler's independent
            # implementation is bit-identical.
            n = len(lit)
            counts = sorted(lit.count(ch) for ch in sorted(set(lit)))
            return math.log2(n) - sum(
                c * math.log2(c) for c in counts
            ) / n

        def scan_secrets(doc: str) -> tuple[float, str | None]:
            # (max literal entropy, redacted text or None if untouched):
            # every over-threshold literal is replaced, keeping quotes
            best = 0.0

            def sub(m):
                nonlocal best
                h = literal_entropy(m.group(1))
                if h > best:
                    best = h
                if h > spec.MAX_SECRET_ENTROPY:
                    whole = m.group(0)
                    return whole[0] + spec.SECRET_REPLACEMENT + whole[-1]
                return m.group(0)

            out = secret_rx.sub(sub, doc)
            return best, (out if out != doc else None)

        model = LangIdModel(
            langs=tuple(b_langs.value), weights=b_weights.value, priors=b_priors.value
        )
        lmod = BigramLM(logp=b_logp.value)
        n = len(texts)
        keep = gate_mask.fillna(False).to_numpy(dtype=bool)
        lang_pred = np.full(n, None, dtype=object)
        margin = np.full(n, np.nan)
        ppl = np.full(n, np.nan)
        comp = np.full(n, np.nan)
        idx = np.where(keep)[0]
        if len(idx):
            docs = texts.iloc[idx].fillna("").tolist()
            best, m = model.predict(docs)
            p = lmod.log_perplexity(docs)
            lang_pred[idx] = np.array(b_langs.value, dtype=object)[best]
            margin[idx] = m
            ppl[idx] = p
            comp[idx] = [
                len(zlib.compress(b, spec.ZLIB_LEVEL)) / max(len(b), 1)
                for b in (d.encode("utf-8") for d in docs)
            ]
        # the secret scan runs UNGATED — privacy holds for every row
        # the output persists, including heuristic-dropped ones (the
        # named scrub regexes are likewise ungated). Cheap relative to
        # the gated NB/LM scoring: one findall + entropy per doc.
        scanned = [scan_secrets(d) for d in texts.fillna("").tolist()]
        sent = np.array([s[0] for s in scanned])
        redacted = np.array([s[1] for s in scanned], dtype=object)
        return pd.DataFrame(
            {
                "lang_pred": lang_pred,
                "langid_margin": margin,
                "log_ppl": ppl,
                "compress_ratio": comp,
                "secret_entropy": sent,
                "secret_redacted": redacted,
            }
        )

    _scorer = (sc, langid, lm, score)
    return score


def with_model_scores(
    df: DataFrame,
    spark: SparkSession,
    content: str = "content",
    langid: LangIdModel | None = None,
    lm: BigramLM | None = None,
    gate: Column | None = None,
) -> DataFrame:
    return _with_scores(df, spark, content, langid, lm, gate).drop("__scores")


def _with_scores(
    df: DataFrame,
    spark: SparkSession,
    content: str,
    langid: LangIdModel | None,
    lm: BigramLM | None,
    gate: Column | None,
) -> DataFrame:
    """with_model_scores with the UDF's struct column ``__scores`` kept."""
    score = _score_udf(
        spark.sparkContext, langid or build_langid_model(), lm or build_bigram_lm()
    )
    # gating happens INSIDE the one-pass UDF: splitting the frame and
    # re-unioning would recompute the scan+heuristics per branch, which
    # costs more than shipping the gated rows' bytes to Arrow
    gate_col = F.lit(True) if gate is None else gate
    scored = df.withColumn("__scores", score(df[content], gate_col))
    return scored.selectExpr("*", "`__scores`.*")


# ---------------------------------------------------------------------------
# stage 3: PII/toxicity scrub (chained regexp_replace, JVM-side)
# ---------------------------------------------------------------------------


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
    # projection and downstream expressions reference the COLUMN, never
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
    _check_parser(df.sparkSession)
    out, outputs, internal = _scrub_chain(df, content, pre_redacted)
    return out.selectExpr("*", *outputs).drop(*internal)


def _scrub_chain(
    df: DataFrame, content: str, pre_redacted: str | None
) -> tuple[DataFrame, list[str], list[str]]:
    """The scrub chain's projections over ``df``; returns the frame, the
    SQL of the four output columns over it, and its internal columns."""
    out, prev, fired, internal = df, content, [], ["__fired", "__sha_orig"]
    if pre_redacted is not None:
        prev = "__scrub_base"
        out = out.withColumn(prev, F.expr(f"coalesce({_q(pre_redacted)}, {_q(content)})"))
        fired.append(f"CASE WHEN {_q(pre_redacted)} IS NOT NULL THEN {_lit('secret_literal')} END")
        internal.append(prev)
    for i, (name, pattern, repl) in enumerate(spec.SCRUB_RULES):
        col = f"__scrub{i}"
        out = out.withColumn(
            col, F.expr(f"regexp_replace({_q(prev)}, {_lit(pattern)}, {_lit(repl)})")
        )
        fired.append(f"CASE WHEN {_q(col)} != {_q(prev)} THEN {_lit(name)} END")
        internal.append(col)
        prev = col
    # no rule fired ⟹ scrubbed IS the original text: reuse its sha
    # instead of hashing the full content a second time (most docs are
    # untouched, and sha256 over content is one of the pass's largest
    # per-row costs; the value is identical by the fired ⟺ changed
    # contract above, so this is pure savings).
    out = out.selectExpr(
        "*",
        f"array_compact(array({', '.join(fired)})) AS `__fired`",
        f"sha2({_q(content)}, 256) AS `__sha_orig`",
    )
    outputs = [
        f"{_q(prev)} AS `content_scrubbed`",
        "`__fired` AS `scrub_rules_fired`",
        "`__sha_orig` AS `sha256_original`",
        f"CASE WHEN size(`__fired`) = 0 THEN `__sha_orig` ELSE sha2({_q(prev)}, 256) END"
        " AS `sha256_scrubbed`",
    ]
    return out, outputs, internal


# ---------------------------------------------------------------------------
# stage 4: keep/drop decision
# ---------------------------------------------------------------------------


def with_decision(df: DataFrame, claimed_lang: str = "lang") -> DataFrame:
    _check_parser(df.sparkSession)
    return df.selectExpr("*", *_decision_sql(claimed_lang))


def _decision_sql(claimed_lang: str) -> list[str]:
    checks = [
        ("vendored_path", _vendored_path_sql("path")),
        *CONTENT_RULES,
        ("compressible", f"`compress_ratio` < {_num(spec.MIN_COMPRESS_RATIO)}"),
        ("secret_entropy", f"`secret_entropy` > {_num(spec.MAX_SECRET_ENTROPY)}"),
        ("high_perplexity", f"`log_ppl` > {_num(spec.MAX_LOG_PERPLEXITY)}"),
        ("langid_low_margin", f"`langid_margin` < {_num(spec.MIN_LANGID_MARGIN)}"),
        ("langid_mismatch", f"`lang_pred` != {_q(claimed_lang)}"),
    ]
    # the decision order IS the drop_reason priority contract shared
    # with the labeler — a rule added to one list but not the other
    # would silently mis-prioritize
    assert [n for n, _ in checks] == spec.RULE_NAMES
    reason = "CAST(NULL AS STRING)"
    for name, cond in reversed(checks):
        reason = f"CASE WHEN {cond} THEN {_lit(name)} ELSE {reason} END"
    # ``keep`` refers to drop_reason by its alias (a lateral column
    # alias): the analyzer puts it in a projection of its own above the
    # CASE chain, which is evaluated once
    return [f"{reason} AS `drop_reason`", "`drop_reason` IS NULL AS `keep`"]



# default boilerplate-bucket cap for the PIPELINE near-dup stage (r3
# verdict item 9): ~10x the largest plausible legitimate near-dup
# cluster (vendored libs, license headers land around 10-20 members);
# a (band,key) bucket above this is template boilerplate whose m²
# pair explosion AQE cannot shrink — those buckets are dropped before
# the self-join (exact clones remain exact-hash dedup's job, and a
# real >cap clique still surfaces through its other, unskewed bands)
DEFAULT_MAX_BUCKET = 200


# one document of the corpus: two commits of one file are judged apart
# by every corpus-global stage (with_decontamination, with_near_dup,
# with_span_dedup, with_cdc_dedup)
DOC_ID_COLS = ("repo", "path", "commit")


def _doc_identity() -> "F.Column":
    """Composite doc identity over DOC_ID_COLS with explicit null
    sentinels — concat_ws silently SKIPS nulls, so (repo='a', path=NULL)
    and (repo=NULL, path='a') would otherwise fuse into one identity and
    share a cluster/demotion fate. The \\x1f separator + \\x00 null
    marker is correctness-bearing and shared by every corpus-global
    stage — change it HERE only."""
    return F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in DOC_ID_COLS],
    )


def with_near_dup(
    df: DataFrame,
    content: str = "content_scrubbed",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    max_iter: int = 25,
) -> DataFrame:
    """Optional corpus-level near-duplicate stage: MinHash over word
    shingles → banded LSH candidates (boilerplate-bucket guard ON by
    default — see DEFAULT_MAX_BUCKET) → connected components → keep ONE
    member per cluster. Adds ``near_dup_cluster`` and
    ``near_dup_canonical``; a kept row that is a non-canonical cluster
    member flips to keep=false with drop_reason='near_dup'.

    Canonical selection PREFERS kept members: the minimum-id member
    that passed quality, falling back to the minimum id when the whole
    cluster failed — otherwise a cluster whose min-id member was
    quality-dropped would lose every copy of its content.

    Per-run caveat, shared by every corpus-global stage: the stage sees
    only the rows it is given. Under the bucketed writers
    (runner.run_buckets) those are this run's buckets, so near-dups that
    span a resume or backfill boundary are not linked; run it on a full
    (non-resume) pass for global dedup.

    Scale shape: signatures shuffle k×8B per doc; the band self-join
    carries ids only; the CC loop and the canonical groupBy are
    pair-graph sized (singletons never enter them). The corpus streams
    once through the final left join against the cluster table, which
    the session's byte threshold broadcasts while it is small."""
    from data_curator_spark.engine.cache import persist_tracked
    from data_curator_spark.operators.dedup import (
        connected_components,
        lsh_candidate_ids,
        minhash_signatures,
    )

    keyed = df.withColumn("__doc_id", _doc_identity())
    sigs = minhash_signatures(keyed, "__doc_id", content)
    # persist: `pairs` feeds four plan branches below (touched ×2, the
    # CC edge union ×2) — unpersisted, the signature+band-join chain
    # would re-run per branch
    pairs = persist_tracked(lsh_candidate_ids(sigs, "__doc_id", max_bucket=max_bucket))
    touched = (
        pairs.select(F.col("id_a").alias("__doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("__doc_id")))
        .distinct()
    )
    cc = connected_components(
        keyed.select("__doc_id"), pairs, "__doc_id", max_iter=max_iter,
        assume_unique_pairs=True,  # lsh_candidate_ids ends in dropDuplicates
    ).select("__doc_id", "cluster_id")
    # non-singleton clusters only (= pair-touched ids): everything from
    # here to the final corpus join is pair-graph sized. No hint: a
    # heavily duplicated crawl can make the touched set itself huge, so
    # the byte threshold picks broadcast or shuffle per join
    cc_t = cc.join(touched, on="__doc_id")
    keep_flags = keyed.select("__doc_id", "keep").join(cc_t, on="__doc_id")
    canon = keep_flags.groupBy("cluster_id").agg(
        F.coalesce(
            F.min(F.when(F.col("keep"), F.col("__doc_id"))),
            F.min("__doc_id"),
        ).alias("__canon")
    )
    info = cc_t.join(canon, on="cluster_id").select(
        "__doc_id",
        F.col("cluster_id").alias("near_dup_cluster"),
        (F.col("__doc_id") == F.col("__canon")).alias("near_dup_canonical"),
    )
    out = keyed.join(info, on="__doc_id", how="left")
    out = out.withColumn(
        "near_dup_cluster", F.coalesce("near_dup_cluster", "__doc_id")
    ).withColumn(
        "near_dup_canonical", F.coalesce("near_dup_canonical", F.lit(True))
    ).drop("__doc_id")
    demoted = F.col("keep") & ~F.col("near_dup_canonical")
    return out.withColumn(
        "drop_reason",
        F.when(demoted, F.lit("near_dup")).otherwise(F.col("drop_reason")),
    ).withColumn("keep", F.col("keep") & ~demoted)


def with_decontamination(df: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Eval-benchmark decontamination stage: demote keep=true rows whose
    ``content_scrubbed`` shares at least one distinct word 5-gram with
    any ``content`` of ``benchmark``; they flip to keep=false /
    drop_reason='contaminated'. The check is the gate query's operator,
    ``dedup.contamination_overlap``, so the pipeline and the
    ``decontaminate`` oracle share one tokenize→gram→hash contract.

    Keyed per document (DOC_ID_COLS). NULL content and documents shorter
    than 5 words have no grams, so they are never flagged.

    Scale shape: the benchmark's distinct gram hashes broadcast; the
    corpus side emits (id, hash) rows in one Arrow pass and only
    contaminated ids join back."""
    from data_curator_spark.operators.dedup import contamination_overlap

    bench = benchmark.select(
        F.lit("").alias("__doc_id"), F.col("content").alias("content_scrubbed")
    )
    return _demote_over_threshold(
        df,
        lambda keyed: contamination_overlap(
            keyed, bench, "__doc_id", "content_scrubbed", shingle_n=5
        ),
        stat_col="n_overlap_grams",
        reason="contaminated",
        max_bp=1,
    )


def with_span_dedup(
    df: DataFrame,
    content: str = "content_scrubbed",
    span_len: int = 8,
    max_bp: int = 5000,
) -> DataFrame:
    """Optional corpus-level ExactSubstr marking stage (Lee et al.
    2021): demote keep=true rows whose duplicated-span coverage —
    fraction of whitespace tokens covered by ``span_len``-token windows
    that occur verbatim anywhere else in the corpus — reaches
    ``max_bp`` basis points (default 5000 = half the doc duplicated
    elsewhere). Demoted rows flip to keep=false /
    drop_reason='dup_spans'. Content is NOT rewritten: whitespace is
    semantic in code, and the sha256-equality contract holds for every
    row; text corpora wanting the cut-and-rebuild behavior use
    operators.dedup.exact_substring_dedup directly.

    Corpus-global stage — same per-run caveat as ``with_near_dup``.

    Scale shape: the marking kernel shuffles (id, pos, 8-byte hash)
    only; the demotion table is filtered to OVER-threshold docs before
    the left join back, so the corpus streams once."""
    from data_curator_spark.operators.dedup import exact_substring_dedup

    return _demote_over_threshold(
        df,
        lambda keyed: exact_substring_dedup(
            keyed, "__doc_id", content, span_len=span_len, removal=False
        ),
        stat_col="dup_span_bp",
        reason="dup_spans",
        max_bp=max_bp,
    )


def _demote_over_threshold(
    df: DataFrame,
    stats_fn,
    stat_col: str,
    reason: str,
    max_bp: int,
) -> DataFrame:
    """Shared demote-by-threshold skeleton of the corpus-global marking
    stages (decontamination, span-dedup, CDC-dedup): key with
    _doc_identity, compute per-doc stats via ``stats_fn(keyed)``, filter to
    over-threshold docs, left-join them back (the session's byte
    threshold picks broadcast or shuffle), and flip keep/drop_reason for
    previously-KEPT rows only. One definition so demotion semantics
    (null-keep handling) cannot drift between stages."""
    keyed = df.withColumn("__doc_id", _doc_identity())
    flagged = (
        stats_fn(keyed)
        .filter(F.col(stat_col) >= max_bp)
        .select("__doc_id", stat_col)
    )
    out = keyed.join(flagged, on="__doc_id", how="left")
    demoted = F.col("keep") & F.col(stat_col).isNotNull()
    return (
        out.withColumn(
            "drop_reason",
            F.when(demoted, F.lit(reason)).otherwise(F.col("drop_reason")),
        )
        .withColumn("keep", F.col("keep") & ~demoted)
        .drop("__doc_id", stat_col)
    )


def with_cdc_dedup(
    df: DataFrame,
    content: str = "content_scrubbed",
    max_bp: int = 5000,
    min_len: int = 16,
    avg_len: int = 64,
    max_len: int = 512,
) -> DataFrame:
    """Optional corpus-level SHIFT-ROBUST duplication marking stage:
    demote keep=true rows whose content-defined-chunk duplication
    (operators/cdc.py:cdc_dup_stats — bytes in Gear/FastCDC chunks whose
    hash occurs more than once corpus-wide) reaches ``max_bp`` basis
    points. Demoted rows flip to keep=false / drop_reason='dup_chunks'.
    Complements with_span_dedup: token windows need tokenizable text,
    CDC chunk identity survives arbitrary byte insertions — the
    granularity for minified/binary-ish content. Content is NOT
    rewritten (sha256 contract holds for every row).

    Corpus-global stage — same per-run caveat as ``with_near_dup``.

    Scale shape: chunk rows carry ids + 8-byte hashes only; duplication
    is one count window on chunk_hash; the demotion table is filtered to
    over-threshold docs before the left join back.

    Chunk-size defaults are CODE-TUNED, smaller than the operator's
    (16/64/512 vs 32/256/1024): source files repeat a small token
    vocabulary, so distinct 64-byte Gear windows are far fewer than
    positions and an 8-bit boundary condition (avg 256) can starve —
    measured 0 boundary candidates on a 1.6 KB synthetic file, i.e.
    only position-defined max_len cuts, which defeats shift-robustness.
    A 6-bit condition (avg 64 ≈ line granularity) keeps boundary
    density healthy on 57/69 sampled corpus files."""
    from data_curator_spark.operators.cdc import cdc_dup_stats

    return _demote_over_threshold(
        df,
        lambda keyed: cdc_dup_stats(
            keyed, "__doc_id", content,
            min_len=min_len, avg_len=avg_len, max_len=max_len,
        ),
        stat_col="dup_chunk_bp",
        reason="dup_chunks",
        max_bp=max_bp,
    )


def with_repo_demotion(
    df: DataFrame,
    min_keep_bp: int,
    min_files: int = 5,
    repo_col: str = "repo",
) -> DataFrame:
    """Repo-level curation (The Stack-style): when almost everything in
    a repository failed quality, the stragglers that squeaked past the
    per-file rules are demoted too — low-quality repos (scraped mirrors,
    generated trees, vendored dumps) are junk at REPO granularity, and
    per-file rules see each file in isolation.

    A repo is flagged when it has at least ``min_files`` files AND its
    kept fraction is below ``min_keep_bp`` basis points (e.g. 2500 =
    a quarter). Previously-KEPT rows of flagged repos flip to
    keep=false / drop_reason='repo_flagged'; rows already dropped keep
    their original reason (rule evidence is preserved).

    Scale shape: the rollup is one groupBy(repo) over two tiny columns
    with map-side partial aggregation — the shuffle carries one row per
    repo per task, and mega-repo skew is irrelevant to an aggregate
    this narrow. The flagged-repo table (repos-only, filtered) left-joins
    back, broadcast or shuffled as the session's byte threshold
    decides, so the corpus streams once.

    REQUIRES GLOBAL INPUT: the rollup must see every file of a repo.
    Unlike the near-dup per-run caveat (which only under-detects), a
    bucket-subset rollup would FALSELY demote files of globally-healthy
    repos, so the bucketed writers (runner.run_buckets) refuse
    repo_min_keep_bp on a resume/backfill; run it on a full pass or as
    a batch post-pass over the completed output."""
    stats = df.groupBy(repo_col).agg(
        F.count(F.lit(1)).alias("__repo_files"),
        F.sum(F.col("keep").cast("long")).alias("__repo_kept"),
    )
    flagged = stats.filter(
        (F.col("__repo_files") >= min_files)
        & (F.col("__repo_kept") * 10_000 < min_keep_bp * F.col("__repo_files"))
    ).select(repo_col, F.lit(True).alias("__repo_flagged"))
    out = df.join(flagged, on=repo_col, how="left")
    demoted = F.col("keep") & F.col("__repo_flagged").isNotNull()
    return (
        out.withColumn(
            "drop_reason",
            F.when(demoted, F.lit("repo_flagged")).otherwise(
                F.col("drop_reason")
            ),
        )
        .withColumn("keep", F.col("keep") & ~demoted)
        .drop("__repo_flagged")
    )


def run_stages(
    df: DataFrame,
    spark: SparkSession,
    near_dup: bool = False,
    benchmark: DataFrame | None = None,
    span_dedup_bp: int | None = None,
    cdc_dup_bp: int | None = None,
    repo_min_keep_bp: int | None = None,
) -> DataFrame:
    """Full stage chain over the raw corpus table. Model scoring is
    gated on the heuristics (contract: model columns are null for
    heuristic-dropped rows — reference_labeler.py mirrors this).

    ``near_dup=True`` appends the corpus-level near-duplicate stage
    (off by default: the reference's keep/drop label contract has no
    dedup dimension, and the F1 gate compares against those labels).

    ``benchmark`` (a frame with a ``content`` column, None=off) appends
    eval-benchmark decontamination over the scrubbed content
    (with_decontamination): contaminated rows flip to keep=false /
    drop_reason='contaminated'. Runs right after the decision and
    BEFORE near-dup so canonical selection (which prefers kept members)
    never elects a contaminated copy as a cluster's survivor.

    ``span_dedup_bp`` (basis points, None=off) appends the ExactSubstr
    duplicated-span demotion stage (with_span_dedup), after
    decontamination and before near-dup — so near-dup's canonical
    selection never elects a span-duplicated copy as survivor.

    ``cdc_dup_bp`` (basis points, None=off) appends the shift-robust
    content-defined-chunk demotion stage (with_cdc_dedup), after
    span-dedup and before near-dup, for the same canonical-selection
    reason."""
    out = with_heuristics(df)
    # materialize the gate as a COLUMN: passing the expression tree
    # inlined the blob-counter extractions a second time into the
    # UDF-stage projection (same CollapseProject trap the scrub chain
    # documents) — an attribute reference cannot be re-inlined
    out = out.withColumn(
        "__gate", F.expr(f"{_HEURISTICS_PASS_SQL} AND NOT {_vendored_path_sql('path')}")
    )
    # with_model_scores → with_scrub → with_decision, with the internal
    # columns dropped once at the end (fewer py4j round trips, the same
    # optimized plan)
    out = _with_scores(out, spark, "content", None, None, out["__gate"])
    out, scrubbed, internal = _scrub_chain(out, "content", "secret_redacted")
    out = out.selectExpr("*", *scrubbed).selectExpr("*", *_decision_sql("lang"))
    out = out.drop("__gate", "__scores", "secret_redacted", *internal)
    if benchmark is not None:
        out = with_decontamination(out, benchmark)
    if span_dedup_bp is not None:
        out = with_span_dedup(out, max_bp=span_dedup_bp)
    if cdc_dup_bp is not None:
        out = with_cdc_dedup(out, max_bp=cdc_dup_bp)
    if near_dup:
        out = with_near_dup(out)
    if repo_min_keep_bp is not None:
        # LAST: the rollup judges repos on the final per-file verdicts,
        # dedup demotions included (with_repo_demotion)
        out = with_repo_demotion(out, min_keep_bp=repo_min_keep_bp)
    return out
