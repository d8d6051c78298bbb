"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline text ops, each with a DuckDB oracle twin:

- token / char statistics (whitespace + regex token counting),
- quality scoring (length, type-token ratio, stopword ratio),
- language ID by additive hash-profile scoring (a word-unigram model
  whose per-(lang, token) weight is a deterministic hash — the same
  argmax-over-profiles shape as a real n-gram language identifier,
  with a profile both engines can derive without shipping data),
- k-min fingerprint sketch (the winnowing-style document signature:
  the k smallest shingle hashes identify near-identical documents).

All string work is JVM-side built-ins (split, regexp, md5) — no
Python in the hot path. GroupBys key on doc_id (unique), so the only
shuffles are the per-doc aggregations; at 100 TB these are map-side
partial aggregates with no skew (doc_id is unique by construction).

Reference parity: the reference has no text operators at all — its
payload columns are opaque strings (SURVEY.md §1.2). These are the
axes-B additions the graft requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdr_analysis_tools_hadoop_spark.functions import sqlmath
from cdr_analysis_tools_hadoop_spark.functions import texthash as th

STOPWORDS = ("the", "a", "of", "and", "to")
LANGS = ("en", "es", "zh", "fr", "de")
WORD_RE = "[a-z]+|[0-9]+"
FINGERPRINT_K = 4


# ---------------------------------------------------------------------------
# 1. token stats


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token counts: whitespace tokens, regex word
    tokens (BPE-ish pre-tokenizer), char length, mean token length."""
    tok = th.tokens_sql("text", "spark")
    return docs.select(
        "doc_id",
        F.expr(f"size({tok})").alias("n_tokens"),
        F.expr(f"size(regexp_extract_all(text, '{WORD_RE}', 0))").alias(
            "n_words"
        ),
        F.length("text").alias("len_chars"),
        F.round(
            F.length(F.expr("replace(text, ' ', '')"))
            / F.expr(f"size({tok})"),
            6,
        ).alias("avg_token_len"),
    )


def token_stats_oracle(view: str = "documents") -> str:
    tok = th.tokens_sql("text", "duckdb")
    return (
        f"SELECT doc_id, len({tok}) AS n_tokens, "
        f"len(regexp_extract_all(text, '{WORD_RE}')) AS n_words, "
        "length(text) AS len_chars, "
        f"round(length(replace(text, ' ', '')) / len({tok}), 6) AS avg_token_len "
        f"FROM {view}"
    )


# ---------------------------------------------------------------------------
# 2. quality scoring


def _quality_exprs(dialect: str) -> dict[str, str]:
    tok = th.tokens_sql("text", dialect)
    size = "size" if dialect == "spark" else "len"
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    if dialect == "spark":
        stop_cnt = (
            f"size(filter({tok}, t -> t IN ({stop_list})))"
        )
        distinct_cnt = f"size(array_distinct({tok}))"
    else:
        stop_cnt = (
            f"len(list_filter({tok}, t -> t IN ({stop_list})))"
        )
        distinct_cnt = f"len(list_distinct({tok}))"
    n = f"{size}({tok})"
    return {
        "n_tokens": n,
        "stopword_ratio": f"round(({stop_cnt}) / ({n}), 6)",
        "type_token_ratio": f"round(({distinct_cnt}) / ({n}), 6)",
    }


# Integer milli-score: floor() of IEEE-deterministic inputs is
# bit-safe across engines, whereas round() of a product can land on a
# decimal tie that Spark (string-based HALF_UP) and DuckDB (binary
# half-away) resolve differently.
_QUALITY_SCORE = (
    "cast((case when n_tokens >= 20 and n_tokens <= 1000 then 400 else 0 end)"
    " + (case when stopword_ratio >= 0.05 then 300 else 0 end)"
    " + floor(type_token_ratio * 300) as bigint)"
)


def quality_score_sql(dialect: str) -> str:
    """The quality milli-score as ONE inline expression of ``text``
    (no subquery / no intermediate columns) — for operators that need
    the score as a map-only projection (quota_sample,
    weighted_sample) instead of joining quality_scores' frame back
    onto the corpus, which would shuffle the fact table to attach a
    value derivable from its own row."""
    e = _quality_exprs(dialect)
    q = _QUALITY_SCORE.replace("n_tokens", f"({e['n_tokens']})")
    q = q.replace("stopword_ratio", f"({e['stopword_ratio']})")
    q = q.replace("type_token_ratio", f"({e['type_token_ratio']})")
    return q


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic document quality milli-score in [0, 1000]: length band +
    stopword presence + lexical diversity (the Gopher-rules shape)."""
    e = _quality_exprs("spark")
    base = docs.select(
        "doc_id",
        F.expr(e["n_tokens"]).alias("n_tokens"),
        F.expr(e["stopword_ratio"]).alias("stopword_ratio"),
        F.expr(e["type_token_ratio"]).alias("type_token_ratio"),
    )
    return base.withColumn("quality_millis", F.expr(_QUALITY_SCORE))


def quality_scores_oracle(view: str = "documents") -> str:
    e = _quality_exprs("duckdb")
    return (
        f"SELECT *, {_QUALITY_SCORE} AS quality_millis FROM ("
        f"SELECT doc_id, {e['n_tokens']} AS n_tokens, "
        f"{e['stopword_ratio']} AS stopword_ratio, "
        f"{e['type_token_ratio']} AS type_token_ratio FROM {view})"
    )


# ---------------------------------------------------------------------------
# 3. language ID


def language_id(docs: DataFrame) -> DataFrame:
    """argmax over language profiles of the summed per-token weight.

    The per-(lang, token) weight is ``md5int(lang || '|' || token) %
    1000`` — a frozen pseudo-profile that exercises the exact
    score-and-argmax shape of a real unigram language identifier
    without shipping model data. Tokens vote with multiplicity.

    Plan (reworked late r4): a document is ONE row, so each language
    score is a higher-order ``aggregate`` fold over the token array —
    the whole operator is a map-only codegen projection with ZERO
    shuffles. The previous form (explode -> crossJoin 5 langs ->
    groupBy (doc, lang) -> window argmax) shuffled 5x the token count
    per document; same values (oracle hash unchanged), none of the
    exchanges. Tie-break matches the oracle twin's ORDER BY (score
    DESC, lang ASC): the CASE probes languages alphabetically, so the
    first language hitting the max wins.

    NULL text is treated as the empty string in BOTH engines: without
    the coalesce the engine's map-only fold emits a (doc_id, NULL,
    NULL) row while the oracle's unnest produces zero token rows and
    drops the document — a row-count parity break on an in-contract
    input (nb_quality_scores documents the same NULL-text stance)."""
    tok = th.tokens_sql("coalesce(text, '')", "spark")
    # spread: widen a single-file corpus (conditional, r3 item 3)
    from ..plans.partitioning import spread

    def score_sql(lang: str) -> str:
        w = th.md5_int_sql(f"concat('{lang}|', t)", "spark")
        return f"aggregate({tok}, 0L, (acc, t) -> acc + ({w}) % 1000)"

    scored = spread(docs).select(
        "doc_id",
        *[F.expr(score_sql(lang)).alias(f"score_{lang}") for lang in LANGS],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANGS])
    langs_sorted = sorted(LANGS)
    pick = F.when(
        F.col(f"score_{langs_sorted[0]}") == F.col("score"), langs_sorted[0]
    )
    for lang in langs_sorted[1:]:
        pick = pick.when(F.col(f"score_{lang}") == F.col("score"), lang)
    return scored.withColumn("score", best).select(
        "doc_id", pick.alias("predicted_lang"), "score"
    )


def language_id_oracle(view: str = "documents") -> str:
    tok = th.tokens_sql("coalesce(text, '')", "duckdb")
    w = th.md5_int_sql("concat(lang_cand, '|', token)", "duckdb")
    lang_values = ", ".join(f"('{lang}')" for lang in LANGS)
    return (
        f"WITH langs(lang_cand) AS (VALUES {lang_values}), "
        f"toks AS (SELECT doc_id, unnest({tok}) AS token FROM {view}), "
        # CAST: DuckDB sum(INTEGER) is HUGEINT (Arrow decimal128) —
        # cast to BIGINT so the value hash matches Spark's long.
        f"scored AS (SELECT doc_id, lang_cand, CAST(sum(({w}) % 1000) AS BIGINT) AS score "
        "FROM toks CROSS JOIN langs GROUP BY 1, 2) "
        "SELECT doc_id, lang_cand AS predicted_lang, score FROM ("
        "SELECT scored.*, row_number() OVER (PARTITION BY doc_id "
        "ORDER BY score DESC, lang_cand) AS rn FROM scored) WHERE rn = 1"
    )


# ---------------------------------------------------------------------------
# 4. k-min fingerprint sketch


def fingerprints(docs: DataFrame, k: int = FINGERPRINT_K) -> DataFrame:
    """k smallest distinct shingle hashes per document — a compact
    winnowing-style signature; sharing any fingerprint row flags two
    documents as near-identical candidates."""
    from ..plans.partitioning import spread

    tok = th.tokens_sql("text", "spark")
    sh = (
        spread(docs)
        .select(
            "doc_id",
            F.explode(
                F.expr(th.shingles_sql(tok, 2, "spark"))
            ).alias("s"),
        )
        .select("doc_id", F.expr(th.md5_int_sql("s", "spark")).alias("h"))
        .distinct()
    )
    win = Window.partitionBy("doc_id").orderBy(F.asc("h"))
    return (
        sh.withColumn("fp_rank", F.row_number().over(win))
        .filter(F.col("fp_rank") <= k)
        .select("doc_id", "fp_rank", F.col("h").alias("fp_hash"))
    )


def fingerprints_oracle(view: str = "documents", k: int = FINGERPRINT_K) -> str:
    tok = th.tokens_sql("text", "duckdb")
    h = th.md5_int_sql("s", "duckdb")
    return (
        f"WITH sh AS (SELECT DISTINCT doc_id, {h} AS h FROM ("
        f"SELECT doc_id, unnest({th.shingles_sql(tok, 2, 'duckdb')}) AS s "
        f"FROM {view})) "
        "SELECT doc_id, fp_rank, h AS fp_hash FROM ("
        "SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) "
        f"AS fp_rank FROM sh) WHERE fp_rank <= {k}"
    )


# ---------------------------------------------------------------------------
# 5. fused corpus curation (one scan -> keep/drop decision)

CURATION_MIN_QUALITY = 500


def corpus_curation(docs: DataFrame) -> DataFrame:
    """The end-to-end corpus-curation decision in ONE pass: per
    document, quality features + milli-score (quality_scores), an
    exact-dup flag (first doc_id per normalized-text hash survives,
    as in dedup.exact_dedup), and the resulting keep verdict.

    Plan shape: one scan computes every per-row expression map-side;
    the only shuffle is the window on text_hash (md5 of normalized
    text — effectively unique keys, so no skew at any scale). This is
    the fused form of running quality_scores + exact_dedup + a filter
    as separate jobs: same verdicts, one job, one shuffle.
    """
    e = _quality_exprs("spark")
    norm = th.normalize_text_sql("text", "spark")
    base = docs.select(
        "doc_id",
        F.expr(e["n_tokens"]).alias("n_tokens"),
        F.expr(e["stopword_ratio"]).alias("stopword_ratio"),
        F.expr(e["type_token_ratio"]).alias("type_token_ratio"),
        F.md5(F.expr(norm)).alias("text_hash"),
    ).withColumn("quality_millis", F.expr(_QUALITY_SCORE))
    win = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        base.withColumn("dup_rank", F.row_number().over(win))
        .select(
            "doc_id",
            "n_tokens",
            "quality_millis",
            (F.col("dup_rank") > 1).alias("is_exact_dup"),
            (
                (F.col("dup_rank") == 1)
                & (F.col("quality_millis") >= CURATION_MIN_QUALITY)
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# 6. PII redaction

# Backslash-free regexes (``[.]`` / ``[+]`` instead of ``\.`` / ``\+``)
# so the SAME pattern text is valid in Spark SQL string literals
# (backslash-escaped) and DuckDB string literals (raw): the two
# engines must compile byte-identical patterns or the clean-text md5
# gate below fails. None of the patterns uses alternation or
# backreferences, so Java-regex (Spark) and RE2 (DuckDB) agree on
# every match span.
PII_PATTERNS = (
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}", "<EMAIL>"),
    ("phone", "[+][0-9][0-9 -]{6,14}[0-9]", "<PHONE>"),
    ("ip", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
)


def _redact_exprs(text_expr: str, dialect: str) -> dict[str, str]:
    """Per-kind match counts + the fully-redacted text expression.

    Replacement is sequential in PII_PATTERNS order (email first:
    its local-part may contain digits a later pattern could clip).
    Counts are taken on the ORIGINAL text, before any replacement.
    """
    size = "size" if dialect == "spark" else "len"
    extract_tail = ", 0" if dialect == "spark" else ""
    rep_tail = "" if dialect == "spark" else ", 'g'"
    out: dict[str, str] = {}
    clean = text_expr
    for kind, pat, token in PII_PATTERNS:
        out[f"n_{kind}"] = (
            f"cast({size}(regexp_extract_all({text_expr}, '{pat}'"
            f"{extract_tail})) as bigint)"
        )
        clean = f"regexp_replace({clean}, '{pat}', '{token}'{rep_tail})"
    out["clean"] = clean
    return out


def planted_pii_sql(text_expr: str, id_col: str, dialect: str) -> str:
    """Deterministic PII augmentation for the contract query: the
    synthetic corpus contains no emails/phones/IPs, so the query
    plants some (keyed on doc_id) to exercise real matches. Both
    dialects build byte-identical strings (`||` concat + the id cast
    is the only dialect split), so the oracle plants the same PII."""
    ids = (
        f"cast({id_col} as string)"
        if dialect == "spark"
        else f"({id_col}::VARCHAR)"
    )
    return (
        f"({text_expr}"
        f" || (CASE WHEN {id_col} % 3 = 0 THEN ' mail u' || {ids} ||"
        f" '@ex-ample.com now' ELSE '' END)"
        f" || (CASE WHEN {id_col} % 5 = 0 THEN ' call +1 555 01' ||"
        f" {ids} || ' 23 ok' ELSE '' END)"
        f" || (CASE WHEN {id_col} % 7 = 0 THEN ' from 10.0.' ||"
        f" cast({id_col} % 256 as {'string' if dialect == 'spark' else 'VARCHAR'})"
        f" || '.7 end' ELSE '' END))"
    )


def pii_redaction(docs: DataFrame, text_expr: str = "text") -> DataFrame:
    """Per-document PII scrub report: match counts per kind, redacted
    length, and md5 of the redacted text (the hash proves the
    replacement output itself matches the oracle byte-for-byte, not
    just the counts).

    Map-only — zero shuffles, zero state: regexp count + replace are
    JVM-side codegen'd expressions over one scan, so this survives
    any scale by construction (same shape as sampling.dataset_split).
    """
    e = _redact_exprs(text_expr, "spark")
    return docs.select(
        "doc_id",
        F.expr(e["n_email"]).alias("n_email"),
        F.expr(e["n_phone"]).alias("n_phone"),
        F.expr(e["n_ip"]).alias("n_ip"),
        F.expr(f"cast(length({e['clean']}) as bigint)").alias("clean_len"),
        F.expr(f"md5({e['clean']})").alias("clean_hash"),
    )


def pii_redaction_oracle(view: str = "documents", text_expr: str = "text") -> str:
    e = _redact_exprs(text_expr, "duckdb")
    return (
        f"SELECT doc_id, {e['n_email']} AS n_email, "
        f"{e['n_phone']} AS n_phone, {e['n_ip']} AS n_ip, "
        f"CAST(length({e['clean']}) AS BIGINT) AS clean_len, "
        f"md5({e['clean']}) AS clean_hash FROM {view}"
    )


# ---------------------------------------------------------------------------
# 7. repetition scoring (Gopher-style intra-document repetition)

REPETITION_W = 3


def repetition_scores(docs: DataFrame, w: int = REPETITION_W) -> DataFrame:
    """Per-document repetition signals over ``w``-word shingles:
    duplicate-shingle fraction and the most-repeated shingle's share,
    both as exact integer ppm (the Gopher repetition-filter features
    — a doc whose text loops emits few distinct shingles).

    Documents with fewer than ``w`` tokens have no shingles and emit
    no row (nothing to measure; the quality_scores length band
    already covers degenerate docs).

    Scale: explode -> two-level aggregate. The (doc_id, shingle)
    pre-aggregation is the heavy stage and keys on a per-doc unique
    pair — map-side partials absorb in-doc repetition (the very thing
    being measured), so a pathological looping document costs one
    combiner cell, not a hot reducer. The second groupBy keys on
    doc_id (unique, no skew).

    A zero-shuffle fold form (sorted-array longest-run via the
    ``aggregate`` higher-order function) was measured 1.3-1.9x SLOWER
    at 50k docs: HOF lambdas evaluate interpreted per element, while
    this shape stays in whole-stage-codegen'd hash aggregates — the
    explode's shuffle rows are already collapsed by the map-side
    partials, so there was no exchange to save. Kept the fast form.
    """
    from ..plans.partitioning import spread

    tok = th.tokens_sql("text", "spark")
    sh = spread(docs).select(
        "doc_id",
        F.explode(F.expr(th.shingles_sql(tok, w, "spark"))).alias("s"),
    )
    per = sh.groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("n"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_shingles"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("n").alias("max_rep"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_distinct",
            F.expr(
                "(n_shingles - n_distinct) * 1000000 div n_shingles"
            ).alias("dup_ppm"),
            F.expr("max_rep * 1000000 div n_shingles").alias("max_rep_ppm"),
        )
    )


def repetition_scores_oracle(
    view: str = "documents", w: int = REPETITION_W
) -> str:
    tok = th.tokens_sql("text", "duckdb")
    return (
        f"WITH sh AS (SELECT doc_id, "
        f"unnest({th.shingles_sql(tok, w, 'duckdb')}) AS s FROM {view}), "
        "per AS (SELECT doc_id, s, count(*) AS n FROM sh GROUP BY 1, 2), "
        # CAST: DuckDB sum(BIGINT) is HUGEINT; Spark's is long
        "agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_shingles, "
        "count(*) AS n_distinct, max(n) AS max_rep FROM per GROUP BY 1) "
        "SELECT doc_id, n_shingles, n_distinct, "
        "(n_shingles - n_distinct) * 1000000 // n_shingles AS dup_ppm, "
        "max_rep * 1000000 // n_shingles AS max_rep_ppm FROM agg"
    )


# ---------------------------------------------------------------------------
# 7b. cross-document repeated spans

CROSS_DOC_W = 8


def cross_doc_spans(docs: DataFrame, w: int = CROSS_DOC_W) -> DataFrame:
    """Per-document CROSS-corpus duplication: the fraction of a doc's
    ``w``-token spans that also occur in at least one OTHER document
    (the span-level signal behind substring dedup, Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" — at
    n-gram rather than suffix-array granularity). Complements
    ``repetition_scores`` (WITHIN-doc loops) and the pair-level dedup
    suite: a doc can be pairwise-unique yet assembled from boilerplate
    spans scattered across the corpus, and this measures exactly that.

    Emits one row per doc with >= ``w`` tokens: ``n_spans`` (total
    span positions), ``n_cross_dup`` (positions whose span text occurs
    in >= 1 other doc), and ``cross_dup_ppm`` as exact integer ppm
    (FP-free oracle parity).

    Scale shape: explode -> (doc_id, span) pre-aggregate (map-side
    partials absorb in-doc repetition, so a looping doc costs one
    combiner cell) -> span-keyed doc-frequency aggregate, filtered to
    df >= 2 -> ONE left-outer equi-join back on span -> ONE doc_id
    rollup computing both sums. ``per`` feeds two lineages (the join
    probe and the df aggregate); its upstream shuffle materializes
    once (AQE ReusedExchange, pinned by the plan test), so the corpus
    is SCANNED once and only the column-local explode + partial-agg
    map runs per lineage — a deliberate trade: the single-lineage
    alternative (df via ``count(*) over (partition by span)``) avoids
    the second map pass but funnels every occurrence of a hot
    boilerplate span into ONE window partition (an unsplittable
    straggler at corpus scale), while here the df aggregate absorbs
    hot spans in map-side partials and the join key's skew is handled
    by AQE skew-split. The downstream rollup keys on doc_id (unique,
    no skew).
    """
    from ..plans.partitioning import spread

    tok = th.tokens_sql("text", "spark")
    sh = spread(docs).select(
        "doc_id",
        F.explode(F.expr(th.shingles_sql(tok, w, "spark"))).alias("s"),
    )
    per = sh.groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("n"))
    cd = (
        per.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("s", F.lit(1).alias("is_dup"))
    )
    return (
        per.join(cd, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_spans"),
            F.sum(
                F.when(F.col("is_dup").isNotNull(), F.col("n")).otherwise(0)
            ).alias("n_cross_dup"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_cross_dup",
            F.expr("n_cross_dup * 1000000 div n_spans").alias(
                "cross_dup_ppm"
            ),
        )
    )


def cross_doc_spans_oracle(
    view: str = "documents", w: int = CROSS_DOC_W
) -> str:
    tok = th.tokens_sql("text", "duckdb")
    return (
        f"WITH sh AS (SELECT doc_id, "
        f"unnest({th.shingles_sql(tok, w, 'duckdb')}) AS s FROM {view}), "
        "per AS (SELECT doc_id, s, count(*) AS n FROM sh GROUP BY 1, 2), "
        "cd AS (SELECT s FROM per GROUP BY s HAVING count(*) >= 2), "
        "dup AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_cross_dup "
        "FROM per WHERE s IN (SELECT s FROM cd) GROUP BY 1), "
        "tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_spans "
        "FROM per GROUP BY 1) "
        "SELECT tot.doc_id, n_spans, "
        "coalesce(n_cross_dup, 0) AS n_cross_dup, "
        "coalesce(n_cross_dup, 0) * 1000000 // n_spans AS cross_dup_ppm "
        "FROM tot LEFT JOIN dup USING (doc_id)"
    )


# ---------------------------------------------------------------------------
# 7b. exact substring dedup (length ladder)

#: Geometric span-length ladder for substring dedup. Any duplicated
#: substring of >= 8 tokens contains, at every offset, a duplicated
#: span at the largest ladder level <= its length, so the max level
#: with a cross-corpus hit brackets the TRUE longest duplicated
#: substring within one ladder step: longest_dup_len <= true < the
#: next level (or < 8 tokens when longest_dup_len = 0).
SUBSTRING_LADDER = (8, 16, 32, 64)


def substring_dedup(
    docs: DataFrame, ladder: tuple[int, ...] = SUBSTRING_LADDER
) -> DataFrame:
    """Exact substring dedup at variable span lengths — the
    distributed form of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") longest-duplicate-substring
    analysis. The reference's suffix-array pass is inherently
    single-machine; the scalable rewrite is a geometric LENGTH LADDER
    of exact span tables (see ``SUBSTRING_LADDER``): one row per doc
    with the base-level cross-duplication mass plus
    ``longest_dup_len``, the largest ladder length at which the doc
    still shares a verbatim token span with >= 1 OTHER document —
    a 2-approximation bracket of its longest duplicated substring.

    Output: ``doc_id``, ``n_spans`` / ``n_cross_dup`` /
    ``cross_dup_ppm`` (at the base ladder length, integer ppm so the
    oracle hash is FP-free), ``longest_dup_len`` (0 when the doc
    shares no span at any level). One row per doc with >= ladder[0]
    tokens.

    Scale shape (generalizes :func:`cross_doc_spans` to the ladder in
    ONE corpus scan): tokenize once -> per-level shingle arrays in a
    single projection -> double explode to (doc_id, w, span) -> hash
    each span to a 60-bit int64 BEFORE the shuffle (8-byte keys
    instead of up-to-64-token strings; both engines share
    ``md5_int_sql`` so the oracle hash is exact) -> (w, h, doc_id)
    pre-aggregate (map-side partials absorb in-doc repetition) ->
    (w, h) doc-frequency aggregate filtered to df >= 2 -> ONE
    left-outer equi-join back -> (doc_id, w) rollup -> |docs|-row
    doc_id rollup. Hot boilerplate spans absorb in map-side partials
    on the df side and AQE skew-split on the join side; the final
    rollups key on doc_id (unique, no skew). Total cost: one scan,
    ~|ladder| x corpus span rows through one exchange pair — the
    suffix-array alternative would need a corpus-order global sort.
    """
    from ..plans.partitioning import spread

    tok = th.tokens_sql("text", "spark")
    levels = F.expr(
        "array("
        + ", ".join(
            f"struct({w} as w, {th.shingles_sql(tok, w, 'spark')} as sp)"
            for w in ladder
        )
        + ")"
    )
    sh = (
        spread(docs)
        .select("doc_id", F.explode(levels).alias("l"))
        .select("doc_id", "l.w", F.explode("l.sp").alias("s"))
        .select(
            "doc_id", "w", F.expr(th.md5_int_sql("s", "spark")).alias("h")
        )
    )
    per = sh.groupBy("w", "h", "doc_id").agg(F.count(F.lit(1)).alias("n"))
    cd = (
        per.groupBy("w", "h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("w", "h", F.lit(1).alias("is_dup"))
    )
    base = ladder[0]
    perlvl = (
        per.join(cd, ["w", "h"], "left")
        .groupBy("doc_id", "w")
        .agg(
            F.sum("n").alias("n_spans"),
            F.sum(
                F.when(F.col("is_dup").isNotNull(), F.col("n")).otherwise(0)
            ).alias("n_dup"),
        )
    )
    return (
        perlvl.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("w") == base, F.col("n_spans"))).alias(
                "n_spans"
            ),
            F.sum(F.when(F.col("w") == base, F.col("n_dup"))).alias(
                "n_cross_dup"
            ),
            F.coalesce(
                F.max(F.when(F.col("n_dup") > 0, F.col("w"))), F.lit(0)
            )
            .cast("bigint")
            .alias("longest_dup_len"),
        )
        .filter(F.col("n_spans").isNotNull())
        .select(
            "doc_id",
            "n_spans",
            "n_cross_dup",
            F.expr("n_cross_dup * 1000000 div n_spans").alias(
                "cross_dup_ppm"
            ),
            "longest_dup_len",
        )
    )


def substring_dedup_oracle(
    view: str = "documents", ladder: tuple[int, ...] = SUBSTRING_LADDER
) -> str:
    tok = th.tokens_sql("text", "duckdb")
    sh_union = " UNION ALL ".join(
        f"SELECT doc_id, {w} AS w, "
        f"unnest({th.shingles_sql(tok, w, 'duckdb')}) AS s FROM {view}"
        for w in ladder
    )
    h = th.md5_int_sql("s", "duckdb")
    base = ladder[0]
    return (
        f"WITH sh0 AS ({sh_union}), "
        f"sh AS (SELECT doc_id, w, {h} AS h FROM sh0), "
        "per AS (SELECT w, h, doc_id, count(*) AS n FROM sh GROUP BY 1,2,3), "
        "cd AS (SELECT w, h FROM per GROUP BY w, h HAVING count(*) >= 2), "
        "perlvl AS (SELECT per.doc_id, per.w, "
        "CAST(sum(per.n) AS BIGINT) AS n_spans, "
        "CAST(sum(CASE WHEN cd.h IS NOT NULL THEN per.n ELSE 0 END) "
        "AS BIGINT) AS n_dup FROM per LEFT JOIN cd "
        "ON per.w = cd.w AND per.h = cd.h GROUP BY 1, 2) "
        "SELECT doc_id, "
        f"CAST(sum(n_spans) FILTER (WHERE w = {base}) AS BIGINT) AS n_spans, "
        f"CAST(sum(n_dup) FILTER (WHERE w = {base}) AS BIGINT)"
        " AS n_cross_dup, "
        f"CAST(sum(n_dup) FILTER (WHERE w = {base}) * 1000000 "
        f"// sum(n_spans) FILTER (WHERE w = {base}) AS BIGINT)"
        " AS cross_dup_ppm, "
        "CAST(coalesce(max(w) FILTER (WHERE n_dup > 0), 0) AS BIGINT) "
        "AS longest_dup_len "
        "FROM perlvl GROUP BY doc_id "
        f"HAVING sum(n_spans) FILTER (WHERE w = {base}) IS NOT NULL"
    )


# ---------------------------------------------------------------------------
# 8. domain mixture weights


def domain_mixture(docs: DataFrame) -> DataFrame:
    """Per-source mixture report: document/token counts, the source's
    token share (ppm), and the keep ratio (ppm) that downsamples
    over-represented sources to a uniform token target — the
    mixture-rebalancing step a multi-source corpus runs before
    training. All-integer output (exact in both engines).

    Scale: one groupBy on source (bounded-cardinality dimension) plus
    a broadcast of the single-row total — no skew surface, the token
    count per doc is computed map-side. The ppm arithmetic uses the
    overflow-free split (functions/sqlmath.py) — the naive
    ``n_tokens * 1000000`` crashes (ANSI overflow) once a source
    passes ~9.2e12 tokens, far below the 100 TB design point; the
    uniform target is total div n_sources first, the same definition
    as mixture_resample's quota.
    """
    tok = th.tokens_sql("text", "spark")
    per = (
        docs.select(
            "source", F.expr(f"size({tok})").cast("long").alias("t")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("n_tokens"),
        )
    )
    # single-row totals: broadcast join, never a shuffle of the dims
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr(
                sqlmath.ppm_div_sql("n_tokens", "total_tokens", "spark")
            ).alias("share_ppm"),
            # uniform target share = total div n_sources; keep_ppm
            # caps at 1e6
            F.expr(
                "least(1000000, "
                + sqlmath.ppm_div_sql(
                    "(total_tokens div n_sources)", "n_tokens", "spark"
                )
                + ")"
            ).alias("keep_ppm"),
        )
    )


def domain_mixture_oracle(view: str = "documents") -> str:
    tok = th.tokens_sql("text", "duckdb")
    return (
        f"WITH per AS (SELECT source, count(*) AS n_docs, "
        f"CAST(sum(len({tok})) AS BIGINT) AS n_tokens FROM {view} "
        "GROUP BY 1), "
        "tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
        "count(*) AS n_sources FROM per) "
        "SELECT source, n_docs, n_tokens, "
        + sqlmath.ppm_div_sql("n_tokens", "total_tokens", "duckdb")
        + " AS share_ppm, least(1000000, "
        + sqlmath.ppm_div_sql(
            "(total_tokens // n_sources)", "n_tokens", "duckdb"
        )
        + ") AS keep_ppm FROM per CROSS JOIN tot"
    )


def corpus_curation_oracle(view: str = "documents") -> str:
    e = _quality_exprs("duckdb")
    norm = th.normalize_text_sql("text", "duckdb")
    return (
        f"WITH base AS (SELECT doc_id, {e['n_tokens']} AS n_tokens, "
        f"{e['stopword_ratio']} AS stopword_ratio, "
        f"{e['type_token_ratio']} AS type_token_ratio, "
        f"md5({norm}) AS text_hash FROM {view}), "
        f"q AS (SELECT *, {_QUALITY_SCORE} AS quality_millis, "
        "row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS dup_rank "
        "FROM base) "
        "SELECT doc_id, n_tokens, quality_millis, "
        "dup_rank > 1 AS is_exact_dup, "
        f"(dup_rank = 1 AND quality_millis >= {CURATION_MIN_QUALITY}) AS keep "
        "FROM q"
    )


# ---------------------------------------------------------------------------
# 9. vocabulary n-gram counts

VOCAB_MIN_COUNT = 3


def vocab_ngram_counts(docs: DataFrame, min_count: int = VOCAB_MIN_COUNT) -> DataFrame:
    """Corpus vocabulary pass: unigram + bigram term frequency and
    document frequency, pruned at ``min_count`` — the counting stage
    every tokenizer-training / TF-IDF / stop-list pipeline runs first.

    Output: (gram, n, tf, df) for every whitespace unigram (n=1) and
    bigram (n=2) with corpus frequency >= min_count.

    Scale: one explode + one aggregation. The distinct-doc count is
    the skew surface (stopword grams touch most documents); Spark
    plans count(DISTINCT doc_id) as a two-phase aggregate keyed on
    (gram, n, doc_id), so hot grams are spread across partitions in
    the dedup phase and only their already-distinct counts meet in
    the final reduce — no salting needed. min_count pruning happens
    after the aggregate (HAVING), which is the earliest it can.
    """
    tok = th.tokens_sql("text", "spark")
    bi = th.shingles_sql("t", 2, "spark")
    grams = docs.select(
        "doc_id", F.expr(tok).alias("t")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                f"concat(transform(t, x -> struct(x AS gram, 1 AS n)), "
                f"transform({bi}, x -> struct(x AS gram, 2 AS n)))"
            )
        ).alias("g"),
    )
    return (
        grams.select("doc_id", F.col("g.gram").alias("gram"), F.col("g.n").alias("n"))
        .groupBy("gram", "n")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .filter(F.col("tf") >= min_count)
    )


def vocab_ngram_counts_oracle(
    view: str = "documents", min_count: int = VOCAB_MIN_COUNT
) -> str:
    tok = th.tokens_sql("text", "duckdb")
    bi = th.shingles_sql("t", 2, "duckdb")
    return (
        f"WITH tokd AS (SELECT doc_id, {tok} AS t FROM {view}), "
        "uni AS (SELECT doc_id, unnest(t) AS gram, 1 AS n FROM tokd), "
        f"big AS (SELECT doc_id, unnest({bi}) AS gram, 2 AS n FROM tokd), "
        "g AS (SELECT * FROM uni UNION ALL SELECT * FROM big) "
        "SELECT gram, n, count(*) AS tf, count(DISTINCT doc_id) AS df "
        f"FROM g GROUP BY 1, 2 HAVING count(*) >= {min_count}"
    )


# ---------------------------------------------------------------------------
# 10. TF-IDF keyword extraction

TFIDF_TOP_K = 5
TFIDF_MIN_DF = 3


def tfidf_keywords(
    docs: DataFrame, top_k: int = TFIDF_TOP_K, min_df: int = TFIDF_MIN_DF
) -> DataFrame:
    """Top-``top_k`` TF-IDF keywords per document (the keyword /
    topic-feature pass of a curation or clustering pipeline).

    idf is the sklearn-smooth form ln((N + 1) / (df + 1)) + 1; terms
    seen in fewer than ``min_df`` documents are pruned before
    scoring (rare-term noise, and it bounds the df table). Scores
    are rounded to 6 decimals; ranking orders by the ROUNDED score
    then term so engine and oracle agree even when two raw doubles
    differ below the rounding grain. The product tf * idf is
    transcendental (never an exact decimal tie), so HALF_UP (Spark)
    vs half-away (DuckDB) rounding cannot diverge.

    Scale: tf is a (doc_id, term) aggregate with map-side partials;
    the df table is a two-phase distinct aggregate pruned by
    ``min_df`` (vocabulary-sized). The df join is a plain equi-join
    on term — AQE broadcasts it when the vocabulary fits (the J1
    adaptive-switch pattern) and falls back to shuffle when a 100 TB
    corpus's vocabulary doesn't. N reaches every row as a broadcast
    single-row cross join, and the final top-k is one window on
    doc_id.
    """
    tok = th.tokens_sql("text", "spark")
    terms = docs.select("doc_id", F.explode(F.expr(tok)).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = (
        terms.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= top_k)
        .select("doc_id", "kw_rank", "term", "tf", "df", "tfidf")
    )


def tfidf_keywords_oracle(
    view: str = "documents",
    top_k: int = TFIDF_TOP_K,
    min_df: int = TFIDF_MIN_DF,
) -> str:
    tok = th.tokens_sql("text", "duckdb")
    return (
        f"WITH tokd AS (SELECT doc_id, unnest({tok}) AS term FROM {view}), "
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tokd GROUP BY 1, 2), "
        "dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokd "
        f"GROUP BY 1 HAVING count(DISTINCT doc_id) >= {min_df}), "
        f"n AS (SELECT count(*) AS n_docs FROM {view}), "
        "s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df, "
        "round(tf.tf * (ln((n_docs + 1) / (df + 1)) + 1), 6) AS tfidf "
        "FROM tf JOIN dfq USING (term) CROSS JOIN n), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
        "ORDER BY tfidf DESC, term ASC) AS kw_rank FROM s) "
        "SELECT doc_id, kw_rank, term, tf, df, tfidf FROM r "
        f"WHERE kw_rank <= {top_k}"
    )


# ---------------------------------------------------------------------------
# 11. exact token-length quantiles (histogram formulation)

QUANTILE_PCTS = (50, 90, 99)


def token_length_quantiles(
    docs: DataFrame, pcts: tuple[int, ...] = QUANTILE_PCTS
) -> DataFrame:
    """EXACT per-source token-length distribution: n_docs, min, max,
    and percentile_disc-style p50/p90/p99 — all integers, no
    approx_percentile, no floating point anywhere.

    percentile_disc semantics via pure integer arithmetic: pXX is
    the smallest length whose running doc count satisfies
    cum * 100 >= n_docs * XX (equivalent to cume_dist >= XX/100 with
    zero FP — ceil(0.9 * n) as integers, immune to the
    0.9-is-not-exact ulp trap that flips an FP ceil).

    Scale: the naive exact quantile sorts every row per group; this
    one aggregates to a (source, n_tokens) histogram FIRST — the
    100 TB corpus collapses to |sources| x |distinct lengths| rows
    (bounded: token counts are small integers) before any window
    runs, so the per-source running sum sorts thousands of rows, not
    billions. One shuffle for the histogram, one for the tiny
    window; the final per-source rollup reuses the window's hash
    partitioning (subset key => no third exchange).
    """
    tok = th.tokens_sql("text", "spark")
    hist = (
        docs.select("source", F.expr(f"size({tok})").alias("n_tokens"))
        .groupBy("source", "n_tokens")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy("n_tokens")
    wall = Window.partitionBy("source")
    c = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n_docs", F.sum("cnt").over(wall))
        .withColumn("min_tokens", F.min("n_tokens").over(wall))
        .withColumn("max_tokens", F.max("n_tokens").over(wall))
    )
    aggs = [
        F.min(
            F.when(
                F.col("cum") * 100 >= F.col("n_docs") * F.lit(p),
                F.col("n_tokens"),
            )
        ).alias(f"p{p}")
        for p in pcts
    ]
    return c.groupBy("source", "n_docs", "min_tokens", "max_tokens").agg(*aggs)


def token_length_quantiles_oracle(
    view: str = "documents", pcts: tuple[int, ...] = QUANTILE_PCTS
) -> str:
    tok = th.tokens_sql("text", "duckdb")
    pcols = ", ".join(
        f"min(CASE WHEN cum * 100 >= n_docs * {p} THEN n_tokens END) AS p{p}"
        for p in pcts
    )
    return (
        f"WITH per AS (SELECT source, len({tok}) AS n_tokens FROM {view}), "
        "h AS (SELECT source, n_tokens, count(*) AS cnt FROM per GROUP BY 1, 2), "
        "c AS (SELECT source, n_tokens, cnt, "
        "sum(cnt) OVER (PARTITION BY source ORDER BY n_tokens) AS cum, "
        "sum(cnt) OVER (PARTITION BY source) AS n_docs, "
        "min(n_tokens) OVER (PARTITION BY source) AS min_tokens, "
        "max(n_tokens) OVER (PARTITION BY source) AS max_tokens FROM h) "
        f"SELECT source, CAST(n_docs AS BIGINT) AS n_docs, min_tokens, max_tokens, {pcols} "
        "FROM c GROUP BY 1, 2, 3, 4"
    )


# ---------------------------------------------------------------------------
# 12. bigram LM training + perplexity scoring (CCNet-style quality filter)

LM_ROUND = 6


def _token_pairs_sql(tok: str, dialect: str) -> str:
    """Array of (prev, cur) adjacent-token structs from a token array
    (empty when the document has < 2 tokens). element_at is 1-based
    in both engines, so indices stay in range — ANSI-safe."""
    if dialect == "spark":
        return (
            f"(case when size({tok}) < 2 then "
            f"array() "
            f"else transform(sequence(1, size({tok}) - 1), "
            f"i -> struct(element_at({tok}, i) AS prev, "
            f"element_at({tok}, i + 1) AS cur)) end)"
        )
    return (
        f"[{{'prev': {tok}[i], 'cur': {tok}[i+1]}} "
        f"for i in generate_series(1, greatest(0, len({tok}) - 1))]"
    )


def ngram_perplexity(
    docs: DataFrame,
    train: DataFrame | None = None,
    min_count: int = 1,
    materialize: bool = False,
) -> DataFrame:
    """Per-document cross-entropy / perplexity under a bigram LM with
    add-1 smoothing, trained on ``train`` (default: the scored corpus
    itself) — the CCNet-style LM quality filter: documents whose
    token sequences are improbable under the corpus-wide model (noise,
    boilerplate, shuffled text) score high and get dropped or
    down-weighted by a curation pass.

    Model (exactly mirrored by the DuckDB oracle twin):
      P(w | first position) = (C(w) + 1) / (T + V)
      P(cur | prev)         = (C(prev, cur) + 1) / (C(prev) + V)
    with T = total training tokens, V = distinct training tokens.
    xent = round(-sum(ln P) / n_tokens, 6) nats/token;
    ppl = round(exp(xent), 4) computed from the ROUNDED xent so both
    engines exponentiate the identical double.

    Scale: the model is two count tables (unigrams, bigrams), both
    sublinear in corpus size, built by one explode + groupBy each
    with map-side partials. Scoring is the token stream LEFT-joined
    to those tables (coalesce 0 keeps held-out scoring correct when
    ``train`` != ``docs``) — probe-side stopword skew is a join, not
    an agg, so AQE skew-split applies, and at dimension-table sizes
    AQE broadcasts the counts. The (T, V) scalars ride a 1-row
    broadcast cross join. One final per-doc aggregation; every ln()
    contribution is summed then rounded so partial-agg order cannot
    flip the oracle hash.

    ``min_count`` > 1 prunes bigrams rarer than the threshold from
    the MODEL (they score through the same coalesce-0 smoothing path
    as unseen pairs) — at 100 TB the full bigram table can be 10^10
    rows, while the pruned one stays a broadcastable dimension; T and
    V always come from the unpruned unigram counts, so pruning only
    coarsens tail probabilities, deterministically in both engines.

    ``materialize=True`` is the 100 TB shape for the self-trained
    case: the tokenized (doc_id, tokens) table is localCheckpointed
    ONCE and all four lineages (unigram counts, bigram counts, the
    first-token stream, the bigram stream) read the materialized
    blocks — the executed plan shows a single corpus scan +
    tokenization with ExistingRDD reuse, instead of four full
    scans + four tokenization passes. Output is bit-identical; the
    only trade is cluster storage for one narrow tokenized copy
    (spill-to-disk backed), which at 100 TB is strictly cheaper than
    three extra corpus scans.
    """
    train = docs if train is None else train
    self_trained = train is docs
    tok = th.tokens_sql("text", "spark")
    pairs = _token_pairs_sql("t", "spark")

    if materialize:
        dtk_mat = docs.select("doc_id", F.expr(tok).alias("t"))
        dtk_mat = dtk_mat.localCheckpoint(eager=True)
        ttk = (
            dtk_mat.select("t")
            if self_trained
            else train.select(F.expr(tok).alias("t")).localCheckpoint(
                eager=True
            )
        )
    else:
        ttk = train.select(F.expr(tok).alias("t"))
    uni = (
        ttk.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    big = (
        ttk.select(F.explode(F.expr(pairs)).alias("p"))
        .select(F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    if min_count > 1:
        big = big.filter(F.col("c2") >= min_count)
    tot = uni.agg(
        F.sum("c1").alias("tot_t"), F.count(F.lit(1)).alias("tot_v")
    )

    dtk = (
        dtk_mat
        if materialize
        else docs.select("doc_id", F.expr(tok).alias("t"))
    )
    firsts = (
        dtk.select(
            "doc_id",
            F.expr("element_at(t, 1)").alias("w"),
            F.expr("size(t)").alias("n"),
        )
        .join(uni, "w", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.col("n"),
            F.expr("ln((coalesce(c1, 0) + 1.0) / (tot_t + tot_v))").alias("lp"),
        )
    )
    bstream = (
        dtk.select("doc_id", F.explode(F.expr(pairs)).alias("p"))
        .select("doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
        .join(big, ["prev", "cur"], "left")
        .join(uni.withColumnRenamed("w", "prev").withColumnRenamed("c1", "cp"), "prev", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.lit(None).cast("int").alias("n"),
            F.expr("ln((coalesce(c2, 0) + 1.0) / (coalesce(cp, 0) + tot_v))").alias("lp"),
        )
    )
    per_doc = (
        firsts.unionByName(bstream)
        .groupBy("doc_id")
        .agg(F.max("n").alias("n_tokens"), F.sum("lp").alias("slp"))
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.expr(f"round(-slp / n_tokens, {LM_ROUND})").alias("xent"),
        F.expr(f"round(exp(round(-slp / n_tokens, {LM_ROUND})), 4)").alias("ppl"),
    )


def ngram_perplexity_oracle(view: str = "documents") -> str:
    tok = th.tokens_sql("text", "duckdb")
    pairs = _token_pairs_sql("t", "duckdb")
    return (
        f"WITH tokd AS (SELECT doc_id, {tok} AS t FROM {view}), "
        "uni AS (SELECT w, count(*) AS c1 FROM "
        "(SELECT unnest(t) AS w FROM tokd) GROUP BY 1), "
        "tot AS (SELECT sum(c1) AS tot_t, count(*) AS tot_v FROM uni), "
        f"pr AS (SELECT doc_id, unnest({pairs}) AS p FROM tokd), "
        "pairs AS (SELECT doc_id, p['prev'] AS prev, p['cur'] AS cur FROM pr), "
        "big AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY 1, 2), "
        "flp AS (SELECT doc_id, len(t) AS n, "
        "ln((coalesce(c1, 0) + 1.0) / (tot_t + tot_v)) AS lp "
        "FROM tokd LEFT JOIN uni ON t[1] = uni.w CROSS JOIN tot), "
        "blp AS (SELECT doc_id, CAST(NULL AS INT) AS n, "
        "ln((coalesce(c2, 0) + 1.0) / (coalesce(u.c1, 0) + tot_v)) AS lp "
        "FROM pairs LEFT JOIN big USING (prev, cur) "
        "LEFT JOIN uni u ON pairs.prev = u.w CROSS JOIN tot), "
        "s AS (SELECT doc_id, max(n) AS n_tokens, sum(lp) AS slp "
        "FROM (SELECT * FROM flp UNION ALL SELECT * FROM blp) GROUP BY 1) "
        "SELECT doc_id, n_tokens, "
        f"round(-slp / n_tokens, {LM_ROUND}) AS xent, "
        f"round(exp(round(-slp / n_tokens, {LM_ROUND})), 4) AS ppl FROM s"
    )


# ---------------------------------------------------------------------------
# 9. C4-style line-level cleaning (Raffel et al. 2020, JMLR 21(140) §2.2)

C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3


def _c4_exprs(text_expr: str, dialect: str) -> dict[str, str]:
    """Line-level keep predicate + doc verdict, dialect-paired so the
    Spark plan and the DuckDB oracle evaluate byte-identical logic.

    A line survives iff it ends in terminal punctuation (. ! ? "),
    has >= C4_MIN_LINE_WORDS whitespace words, and contains neither a
    curly brace nor the word 'javascript' (case-folded) — the C4
    heuristics for boilerplate/code lines. The document survives iff
    >= C4_MIN_KEPT_LINES lines survive and the ORIGINAL text lacks
    'lorem ipsum' (C4 drops placeholder pages outright). All string
    ops are backslash-free (chr(10) for the line separator), the
    same trick as PII_PATTERNS, so both engines parse identical
    literals.
    """
    spark = dialect == "spark"
    size = "size" if spark else "len"
    lfil = "filter" if spark else "list_filter"
    join = "array_join" if spark else "array_to_string"
    split = (
        f"split({text_expr}, chr(10))"
        if spark
        else f"string_split({text_expr}, chr(10))"
    )
    wsplit = "split(l, ' ')" if spark else "string_split(l, ' ')"
    pred = (
        "right(l, 1) IN ('.', '!', '?', '\"') "
        f"AND {size}({lfil}({wsplit}, w -> w <> '')) >= {C4_MIN_LINE_WORDS} "
        "AND instr(l, '{') = 0 AND instr(lower(l), 'javascript') = 0"
    )
    kept = f"{lfil}({split}, l -> {pred})"
    out = {
        "n_lines": f"cast({size}({split}) as bigint)",
        "n_kept": f"cast({size}({kept}) as bigint)",
        "clean": f"{join}({kept}, chr(10))",
    }
    out["keep"] = (
        f"({out['n_kept']} >= {C4_MIN_KEPT_LINES} "
        f"AND instr(lower({text_expr}), 'lorem ipsum') = 0)"
    )
    return out


def planted_lines_sql(text_expr: str, id_col: str, dialect: str) -> str:
    """Deterministic line-structure augmentation for the contract
    query: the synthetic corpus is single-line and unpunctuated, so
    the query builds a multi-line page from each document (keyed on
    doc_id) that exercises every C4 rule — boilerplate lines with no
    terminal punctuation, too-short lines, code lines ({), javascript
    notices, and lorem-ipsum placeholder pages. Portable SQL only
    (substr / || / chr / CASE), so BOTH dialects plant byte-identical
    pages and the clean-text md5 must agree."""
    del dialect  # identical text in both engines by construction
    t, i = text_expr, id_col
    return (
        f"(substr({t}, 1, 80 + {i} % 40) || ' ends here.'"
        " || chr(10) || 'click here for more'"
        " || chr(10) || 'too short.'"
        f" || chr(10) || CASE WHEN {i} % 7 = 0 THEN"
        " 'function() { return 0; }'"
        f" ELSE substr({t}, 40, 100) || ' asks why?' END"
        f" || chr(10) || CASE WHEN {i} % 11 = 0 THEN"
        " 'please enable javascript to view this page.'"
        f" ELSE substr({t}, 10, 90) || ' indeed!' END"
        f" || chr(10) || CASE WHEN {i} % 13 = 0 THEN"
        " 'lorem ipsum dolor sit amet.'"
        f" ELSE substr({t}, 5, 95) || ' fine.' END)"
    )


def c4_line_filter(docs: DataFrame, text_expr: str = "text") -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): per
    document, the line counts before/after the keep predicate, the
    doc-level verdict, and length + md5 of the cleaned text (the
    hash proves the REWRITTEN page matches the oracle byte-for-byte,
    not just the counts) — the line-pruning rewrite step of the C4
    pipeline, distinct from the scoring ops (quality_scores,
    repetition_scores) which never edit the text.

    Map-only: every expression is a JVM-codegen'd higher-order
    function over one scan — zero shuffles, zero Python, so the op
    runs at scan speed at any corpus size (same shape as
    pii_redaction).

    Output: (doc_id, n_lines, n_kept, keep, clean_len, clean_hash).
    """
    e = _c4_exprs(text_expr, "spark")
    return docs.select(
        "doc_id",
        F.expr(e["n_lines"]).alias("n_lines"),
        F.expr(e["n_kept"]).alias("n_kept"),
        F.expr(e["keep"]).alias("keep"),
        F.expr(f"cast(length({e['clean']}) as bigint)").alias("clean_len"),
        F.expr(f"md5({e['clean']})").alias("clean_hash"),
    )


def c4_line_filter_oracle(
    view: str = "documents", text_expr: str = "text"
) -> str:
    e = _c4_exprs(text_expr, "duckdb")
    return (
        f"SELECT doc_id, {e['n_lines']} AS n_lines, "
        f"{e['n_kept']} AS n_kept, {e['keep']} AS keep, "
        f"CAST(length({e['clean']}) AS BIGINT) AS clean_len, "
        f"md5({e['clean']}) AS clean_hash FROM {view}"
    )


# ---------------------------------------------------------------------------
# 10. WIMBD-style corpus report

def corpus_report(docs: DataFrame, pii_text_expr: str = "text") -> DataFrame:
    """"What's in my big data" per-source corpus report (the WIMBD
    audit, Elazar et al. 2023): document and token volume, exact-dup
    rate, PII incidence, and mean quality — the first query a corpus
    owner runs before any curation decision, fused into ONE scan.

    Every per-document signal (token count, quality milli-score,
    PII-match flag, normalized-text hash) is computed map-side in a
    single projection; the only fact shuffle is the text_hash window
    that marks exact dups (effectively unique keys — the
    corpus_curation shuffle), and the report rollup then aggregates
    |sources|-bounded keys. Rates are exact integer ppm (1e6 * n div
    n_docs), so the DuckDB twin is FP-free except the 6dp-rounded
    mean quality.

    ``pii_text_expr`` lets the contract query plant deterministic PII
    (planted_pii_sql) — the synthetic corpus contains none.

    Output: (source, n_docs, n_tokens, dup_ppm, pii_ppm,
    avg_quality_millis).
    """
    e = _quality_exprs("spark")
    r = _redact_exprs(pii_text_expr, "spark")
    norm = th.normalize_text_sql("text", "spark")
    base = docs.select(
        "doc_id",
        "source",
        F.expr(e["n_tokens"]).alias("n_tokens"),
        F.expr(e["stopword_ratio"]).alias("stopword_ratio"),
        F.expr(e["type_token_ratio"]).alias("type_token_ratio"),
        F.expr(
            f"({r['n_email']} + {r['n_phone']} + {r['n_ip']}) > 0"
        ).alias("has_pii"),
        F.md5(F.expr(norm)).alias("text_hash"),
    ).withColumn("quality_millis", F.expr(_QUALITY_SCORE))
    win = Window.partitionBy("text_hash").orderBy("doc_id")
    flagged = base.withColumn(
        "is_dup", F.row_number().over(win) > 1
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.expr(
            "1000000 * sum(case when is_dup then 1 else 0 end) div count(*)"
        ).alias("dup_ppm"),
        F.expr(
            "1000000 * sum(case when has_pii then 1 else 0 end) div count(*)"
        ).alias("pii_ppm"),
        F.expr("round(sum(quality_millis) / count(*), 6)").alias(
            "avg_quality_millis"
        ),
    )


def corpus_report_oracle(
    view: str = "documents", pii_text_expr: str = "text"
) -> str:
    e = _quality_exprs("duckdb")
    r = _redact_exprs(pii_text_expr, "duckdb")
    norm = th.normalize_text_sql("text", "duckdb")
    return (
        f"WITH base AS (SELECT doc_id, source, {e['n_tokens']} AS n_tokens, "
        f"{e['stopword_ratio']} AS stopword_ratio, "
        f"{e['type_token_ratio']} AS type_token_ratio, "
        f"({r['n_email']} + {r['n_phone']} + {r['n_ip']}) > 0 AS has_pii, "
        f"md5({norm}) AS text_hash FROM {view}), "
        f"q AS (SELECT *, {_QUALITY_SCORE} AS quality_millis, "
        "row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) > 1"
        " AS is_dup FROM base) "
        "SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens, "
        "CAST(1000000 * sum(CASE WHEN is_dup THEN 1 ELSE 0 END) // count(*) AS BIGINT)"
        " AS dup_ppm, "
        "CAST(1000000 * sum(CASE WHEN has_pii THEN 1 ELSE 0 END) // count(*) AS BIGINT)"
        " AS pii_ppm, "
        "round(sum(quality_millis) / count(*), 6) AS avg_quality_millis "
        "FROM q GROUP BY source"
    )


# ---------------------------------------------------------------------------
# 13. Naive Bayes classifier quality filter — the classifier-based
# curation step (GPT-3 WebText-similarity filtering / CCNet's linear
# classifier / fastText-style quality models): train a cheap linear
# model on a quality-labeled seed, then score the WHOLE corpus with
# one map-side pass. Multinomial NB with Laplace smoothing is the
# closed-form member of that family — no iterative optimizer, so
# training is two aggregations and the DuckDB oracle reproduces the
# model EXACTLY (an SGD-trained logistic regression could only get a
# rows-only check).

NB_ROUND = 6


def _nb_weak_label_sql(dialect: str, src: str) -> str:
    """Default training signal when no labeled seed is given: the
    quality milli-score heuristic as a binary weak label (heuristic
    distillation — the NB model generalizes the rule set into
    token-level evidence). Full SELECT producing (y, text).
    :func:`_nb_weak_labeled` is the DataFrame twin — both are thin
    scaffolding over the SAME shared rule constants (_quality_exprs,
    _QUALITY_SCORE, CURATION_MIN_QUALITY); change the rule there,
    not here."""
    e = _quality_exprs(dialect)
    inner = (
        f"SELECT text, {e['n_tokens']} AS n_tokens, "
        f"{e['stopword_ratio']} AS stopword_ratio, "
        f"{e['type_token_ratio']} AS type_token_ratio FROM {src}"
    )
    return (
        f"SELECT CAST(({_QUALITY_SCORE}) >= {CURATION_MIN_QUALITY} AS INT) "
        f"AS y, text FROM ({inner})"
    )


def _nb_weak_labeled(docs: DataFrame) -> DataFrame:
    """Spark twin of :func:`_nb_weak_label_sql` (same shared rule
    constants): (y, text) with the milli-score weak label."""
    e = _quality_exprs("spark")
    base = docs.select(
        "text", *(F.expr(v).alias(k) for k, v in e.items())
    )
    return base.select(
        F.expr(
            f"CAST(({_QUALITY_SCORE}) >= {CURATION_MIN_QUALITY} AS INT)"
        ).alias("y"),
        "text",
    )


def nb_quality_scores(
    docs: DataFrame, labeled: DataFrame | None = None
) -> DataFrame:
    """Per-document quality log-odds under a multinomial Naive Bayes
    model with add-1 smoothing, trained on ``labeled`` (columns
    ``text`` + integer/boolean ``label``; default: ``docs`` itself
    weakly labeled by the quality milli-score heuristic).

    Model (mirrored exactly by the DuckDB twin):
      P(w | c)  = (C_c(w) + 1) / (T_c + V)   per class c in {0, 1}
      prior odds = (N_1 + 1) / (N_0 + 1)     (Laplace on doc counts)
      log_odds(d) = round(ln prior + sum_w ln P(w|1) - ln P(w|0), 6)
    with T_c = class token totals, V = distinct training tokens,
    summed over every token OCCURRENCE in d (unseen tokens score
    through the same coalesce-0 smoothing path). keep = log_odds >= 0
    on the ROUNDED value, so both engines compare the same double.

    Scale: the model is a vocab-bounded dimension built by ONE
    explode + groupBy with map-side partials (class split via
    conditional sums, not two passes); the (T, V) and prior scalars
    ride 1-row broadcast cross joins; scoring is one explode, a
    left join against the (AQE-broadcast) model, and one per-doc
    aggregate — every ln() contribution is summed then rounded so
    partial-agg order cannot flip the oracle hash, the same
    discipline as ngram_perplexity. At 100 TB the intended shape is
    a small curated ``labeled`` seed and a map-heavy scoring pass
    over the corpus; the weak-label default distills the heuristic
    into a model that transfers to held-out corpora.

    Output: (doc_id, n_tokens, log_odds, keep). NULL text is scored
    as the empty string (one empty token) so every document gets a
    verdict — silently dropping a NULL-text row would be invisible
    to a keep-consuming curation pass.
    """
    tok = th.tokens_sql("text", "spark")
    src = docs.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    if labeled is None:
        tl = _nb_weak_labeled(src).select("y", F.expr(tok).alias("t"))
    else:
        tl = labeled.select(
            F.col("label").cast("int").alias("y"),
            F.expr(
                th.tokens_sql("coalesce(text, '')", "spark")
            ).alias("t"),
        )
    words = tl.select("y", F.explode("t").alias("w"))
    model = words.groupBy("w").agg(
        F.sum("y").cast("bigint").alias("c1"),
        F.sum(F.lit(1) - F.col("y")).cast("bigint").alias("c0"),
    )
    tot = model.agg(
        F.sum("c1").alias("t1"),
        F.sum("c0").alias("t0"),
        F.count(F.lit(1)).alias("v"),
    )
    pri = tl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n1")
    )
    # the whitespace tokenizer never returns an empty array (empty
    # text tokenizes to [""]), so explode emits >= 1 row per doc and
    # the scoring aggregate covers every document — n_tokens is the
    # exploded row count, no join back to docs needed
    scored = (
        src.select("doc_id", F.explode(F.expr(tok)).alias("w"))
        .join(model, "w", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                "ln((coalesce(c1, 0) + 1.0) / (t1 + v)) - "
                "ln((coalesce(c0, 0) + 1.0) / (t0 + v))"
            ).alias("lo"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum("lo").alias("slo"),
        )
    )
    lo = f"round(ln((n1 + 1.0) / (n - n1 + 1.0)) + slo, {NB_ROUND})"
    return scored.crossJoin(F.broadcast(pri)).select(
        "doc_id",
        "n_tokens",
        F.expr(lo).alias("log_odds"),
        F.expr(f"({lo}) >= 0.0").alias("keep"),
    )


def nb_quality_scores_oracle(view: str = "documents") -> str:
    tok = th.tokens_sql("text", "duckdb")
    lab = _nb_weak_label_sql("duckdb", "src")
    lo = f"round(ln((n1 + 1.0) / (n - n1 + 1.0)) + coalesce(slo, 0.0), {NB_ROUND})"
    return (
        "WITH src AS (SELECT doc_id, coalesce(text, '') AS text "
        f"FROM {view}), "
        f"tl AS (SELECT y, {tok} AS t FROM ({lab})), "
        "words AS (SELECT y, unnest(t) AS w FROM tl), "
        "model AS (SELECT w, CAST(sum(y) AS BIGINT) AS c1, "
        "CAST(sum(1 - y) AS BIGINT) AS c0 FROM words GROUP BY 1), "
        "tot AS (SELECT sum(c1) AS t1, sum(c0) AS t0, count(*) AS v "
        "FROM model), "
        "pri AS (SELECT count(*) AS n, sum(y) AS n1 FROM tl), "
        f"dw AS (SELECT doc_id, unnest({tok}) AS w FROM src), "
        "contrib AS (SELECT doc_id, "
        "ln((coalesce(c1, 0) + 1.0) / (t1 + v)) - "
        "ln((coalesce(c0, 0) + 1.0) / (t0 + v)) AS lo "
        "FROM dw LEFT JOIN model USING (w) CROSS JOIN tot), "
        "s AS (SELECT doc_id, CAST(count(*) AS INT) AS n_tokens, "
        "sum(lo) AS slo FROM contrib GROUP BY 1) "
        f"SELECT doc_id, n_tokens, {lo} AS log_odds, "
        f"({lo}) >= 0.0 AS keep FROM s CROSS JOIN pri"
    )
