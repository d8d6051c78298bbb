from __future__ import annotations

import pytest

from cdr_analysis_tools_hadoop_spark.operators import textops


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_token_stats_simple(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox")], "doc_id long, text string"
    )
    r = textops.token_stats(df).collect()[0]
    assert r.n_tokens == 4
    assert r.n_words == 4
    assert r.len_chars == 19
    assert abs(r.avg_token_len - 4.0) < 1e-9


def test_quality_bounds_and_stopword_effect(spark):
    rich = "the " + " ".join(f"w{i}" for i in range(40))
    poor = "x " * 3
    df = spark.createDataFrame(
        [(1, rich), (2, poor.strip())], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in textops.quality_scores(df).collect()}
    assert 0 <= out[2].quality_millis < out[1].quality_millis <= 1000
    assert out[1].stopword_ratio > 0


def test_language_id_deterministic_and_total(docs):
    a = sorted(map(tuple, textops.language_id(docs.limit(50)).collect()))
    b = sorted(map(tuple, textops.language_id(docs.limit(50)).collect()))
    assert a == b
    assert len(a) == 50
    assert {r[1] for r in a} <= set(textops.LANGS)


def test_fingerprints_are_sorted_kmin(docs):
    rows = textops.fingerprints(docs.limit(10)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.fp_rank, r.fp_hash))
    for doc, fps in by_doc.items():
        fps.sort()
        hashes = [h for _, h in fps]
        assert hashes == sorted(hashes)
        assert len(fps) <= textops.FINGERPRINT_K


def test_corpus_curation_fuses_quality_and_exact_dedup(spark):
    """The fused verdict equals composing quality_scores + exact_dedup
    by hand, on a frame with genuine exact dups and a junk doc."""
    rich = "the " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, rich), (2, "x"), (3, rich), (7, rich + " tail")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.corpus_curation(df).collect()}
    assert set(out) == {1, 2, 3, 7}
    # doc 3 duplicates doc 1; the smaller doc_id survives
    assert not out[1].is_exact_dup and out[3].is_exact_dup
    assert not out[3].keep
    # junk doc: unique but below the quality bar
    assert not out[2].is_exact_dup and not out[2].keep
    assert out[1].keep and out[7].keep
    # verdict parity with the standalone operators
    from cdr_analysis_tools_hadoop_spark.operators import dedup

    quality = {
        r.doc_id: r.quality_millis
        for r in textops.quality_scores(df).collect()
    }
    keepers = {
        r.keeper_doc_id for r in dedup.exact_dedup(df).collect()
    }
    for i, r in out.items():
        assert r.quality_millis == quality[i]
        assert r.is_exact_dup == (i not in keepers)
        assert r.keep == (
            i in keepers and quality[i] >= textops.CURATION_MIN_QUALITY
        )


def test_corpus_curation_single_shuffle_plan(docs):
    """One scan + one exchange (the text_hash window): the fused plan
    must not re-read the table per feature family."""
    plan = (
        textops.corpus_curation(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan ") == 1
    assert plan.count("Exchange") == 1


def test_repetition_scores_flags_looping_doc(spark):
    loop = "spam ham eggs " * 20  # one shingle repeated ~60x
    fresh = " ".join(f"w{i} x{i} y{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, loop.strip()), (2, fresh), (3, "too short")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.repetition_scores(df).collect()}
    assert 3 not in out  # < w tokens: no shingles, no row
    assert out[1].dup_ppm > 900_000  # looping text is almost all dupes
    assert out[2].dup_ppm == 0 and out[2].max_rep_ppm < 50_000
    # exact arithmetic: dup fraction consistent with the counts
    r = out[1]
    assert r.dup_ppm == (r.n_shingles - r.n_distinct) * 1_000_000 // r.n_shingles


def test_language_id_keeps_null_text_rows_in_both_engines(spark):
    """NULL text counts as the empty string: the engine's map-only
    fold and the oracle's unnest-based twin must both KEEP the row
    (the unguarded forms disagreed — engine emitted a NULL-scored
    row, oracle dropped the doc)."""
    import duckdb

    df = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in textops.language_id(df).collect()}
    assert set(got) == {1, 2}
    assert got[1].predicted_lang is not None and got[1].score is not None
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, CAST(NULL AS VARCHAR)), (2, 'the quick brown fox')"
        ") t(doc_id, text)"
    )
    orc = {r[0]: r for r in con.execute(textops.language_id_oracle()).fetchall()}
    assert set(orc) == {1, 2}
    for did in (1, 2):
        assert got[did].predicted_lang == orc[did][1]
        assert got[did].score == orc[did][2]


def test_cross_doc_spans_measures_shared_boilerplate(spark):
    bp = " ".join(f"b{i}" for i in range(8))  # one exact 8-token span
    uniq1 = " ".join(f"u{i}" for i in range(8))
    uniq2 = " ".join(f"v{i}" for i in range(8))
    df = spark.createDataFrame(
        [
            (1, f"{bp} {uniq1}"),   # half boilerplate, half unique
            (2, f"{bp} {uniq2}"),   # shares only the boilerplate span
            (3, uniq1 + " tail0"),  # overlaps doc 1's unique spans
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.cross_doc_spans(df).collect()}
    assert 4 not in out  # < w tokens: no spans, no row
    # 16 tokens -> 9 span positions per doc for docs 1/2
    assert out[1].n_spans == 9 and out[2].n_spans == 9
    # docs 1 and 2 share exactly the single full-boilerplate span;
    # doc 1 additionally shares its uniq1 span with doc 3
    assert out[2].n_cross_dup == 1
    assert out[1].n_cross_dup == 2
    assert out[3].n_cross_dup == 1 and out[3].n_spans == 2
    # exact integer ppm arithmetic
    for r in out.values():
        assert r.cross_dup_ppm == r.n_cross_dup * 1_000_000 // r.n_spans


def test_cross_doc_spans_counts_repeated_positions_not_distinct(spark):
    # doc 1 contains the shared span TWICE (w tokens, then repeated):
    # both POSITIONS count as cross-dup, and in-doc repetition alone
    # (doc 3) is NOT cross-dup
    bp = " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame(
        [
            (1, f"{bp} {bp}"),
            (2, bp),
            (3, "x0 x1 x2 x3 x4 x5 x6 x7 " + "x0 x1 x2 x3 x4 x5 x6 x7"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.cross_doc_spans(df).collect()}
    # doc 1: 16 tokens -> 9 positions; position 1 and 9 are bp
    assert out[1].n_spans == 9 and out[1].n_cross_dup == 2
    assert out[2].n_spans == 1 and out[2].n_cross_dup == 1
    # doc 3 repeats a span only within itself: zero cross-dup
    assert out[3].n_cross_dup == 0 and out[3].cross_dup_ppm == 0


def test_cross_doc_spans_scans_corpus_once(spark):
    """The two lineages over ``per`` must share one materialized
    upstream shuffle (AQE ReusedExchange) — i.e. the corpus is
    scanned once, not once per lineage."""
    bp = " ".join(f"b{j}" for j in range(8))  # shared boilerplate
    df = spark.createDataFrame(
        [(i, f"{bp} " + " ".join(f"t{i}w{j}" for j in range(10)))
         for i in range(20)],
        "doc_id long, text string",
    ).coalesce(1)  # force the spread exchange both lineages must share
    out = textops.cross_doc_spans(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_domain_mixture_downsamples_hot_source(spark):
    rows = [(i, "w " * 100, "hot") for i in range(30)]
    rows += [(100 + i, "w " * 100, "cold") for i in range(10)]
    df = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in textops.domain_mixture(df).collect()}
    assert out["hot"].n_docs == 30 and out["cold"].n_docs == 10
    # hot source is over target (uniform = 50%): downsampled below 1e6
    assert out["hot"].keep_ppm < 1_000_000
    # cold source is under target: capped at keep-everything
    assert out["cold"].keep_ppm == 1_000_000
    assert out["hot"].share_ppm + out["cold"].share_ppm <= 1_000_000
    # keeping hot*keep_ppm tokens lands on the uniform target exactly
    # (integer floor): total/2 // 1 within one token
    kept = out["hot"].n_tokens * out["hot"].keep_ppm // 1_000_000
    total = out["hot"].n_tokens + out["cold"].n_tokens
    assert abs(kept - total // 2) <= 1


def test_vocab_ngram_counts_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a"),
            (2, "a b c"),
            (3, "a a a"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.gram, r.n): (r.tf, r.df)
        for r in textops.vocab_ngram_counts(df, min_count=2).collect()
    }
    # unigrams: a=3+1+3... doc1 has a,b,a,b,a -> a:3 b:2; doc2 a,b,c; doc3 a,a,a
    assert out[("a", 1)] == (7, 3)
    assert out[("b", 1)] == (3, 2)
    assert ("c", 1) not in out  # tf=1 < min_count
    # bigrams: doc1: "a b","b a","a b","b a"; doc2: "a b","b c"; doc3: "a a","a a"
    assert out[("a b", 2)] == (3, 2)
    assert out[("b a", 2)] == (2, 1)
    assert out[("a a", 2)] == (2, 1)
    assert ("b c", 2) not in out


def test_tfidf_keywords_exact(spark):
    import math

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple cherry"), (3, "banana cherry")],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.term): (r.kw_rank, r.tf, r.df, r.tfidf)
        for r in textops.tfidf_keywords(df, top_k=2, min_df=1).collect()
    }

    def idf(dfq):
        return round(1 * (math.log((3 + 1) / (dfq + 1)) + 1), 6)

    # doc 1: apple tf=2 df=2 score 2*(ln(4/3)+1); banana tf=1 df=2
    assert out[(1, "apple")][0] == 1
    assert out[(1, "apple")][3] == round(2 * (math.log(4 / 3) + 1), 6)
    assert out[(1, "banana")] == (2, 1, 2, idf(2))
    # doc 2: equal scores (both tf=1 df=2) -> term ASC breaks the tie
    assert out[(2, "apple")][0] == 1 and out[(2, "cherry")][0] == 2


def test_tfidf_min_df_prunes_rare_terms(spark):
    df = spark.createDataFrame(
        [(1, "common rare1"), (2, "common rare2"), (3, "common rare3")],
        "doc_id long, text string",
    )
    rows = textops.tfidf_keywords(df, top_k=5, min_df=3).collect()
    assert {r.term for r in rows} == {"common"}
    assert len(rows) == 3


def test_token_length_quantiles_percentile_disc(spark):
    # source 'a': lengths 1..10 (one doc each) -> exact disc quantiles
    docs = [(i, "a", " ".join(["w"] * i)) for i in range(1, 11)]
    # source 'b': all length 3 -> every percentile is 3
    docs += [(100 + i, "b", "x y z") for i in range(4)]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    out = {r.source: r for r in textops.token_length_quantiles(df).collect()}
    a = out["a"]
    assert (a.n_docs, a.min_tokens, a.max_tokens) == (10, 1, 10)
    assert (a.p50, a.p90, a.p99) == (5, 9, 10)
    b = out["b"]
    assert (b.n_docs, b.p50, b.p90, b.p99) == (4, 3, 3, 3)


def test_token_length_quantiles_two_exchange_plan(spark):
    df = spark.createDataFrame(
        [(1, "a", "x y"), (2, "a", "x"), (3, "b", "x y z")],
        "doc_id long, source string, text string",
    )
    plan = (
        textops.token_length_quantiles(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # histogram exchange on (source, n_tokens) + window exchange on
    # (source); the final rollup reuses the window's partitioning
    assert plan.count("Exchange hashpartitioning") == 2


def test_ngram_perplexity_hand_computed(spark):
    """xent matches a from-scratch python recompute of the add-1
    bigram model on a tiny corpus where every count is checkable."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b a"), (3, "c c a")], "doc_id long, text string"
    )
    # counts: tokens a:4 b:2 c:2 -> T=8 V=3
    # bigrams: (a,b):1 (b,a):2 (c,c):1 (c,a):1
    uni = {"a": 4, "b": 2, "c": 2}
    big = {("a", "b"): 1, ("b", "a"): 2, ("c", "c"): 1, ("c", "a"): 1}
    T, V = 8, 3

    def xent(text):
        toks = text.split(" ")
        lp = math.log((uni.get(toks[0], 0) + 1) / (T + V))
        for p, c in zip(toks, toks[1:]):
            lp += math.log((big.get((p, c), 0) + 1) / (uni.get(p, 0) + V))
        return round(-lp / len(toks), 6)

    got = {
        r.doc_id: (r.n_tokens, r.xent, r.ppl)
        for r in textops.ngram_perplexity(docs).collect()
    }
    assert got[1][0] == 3 and got[2][0] == 2 and got[3][0] == 3
    for did, text in ((1, "a b a"), (2, "b a"), (3, "c c a")):
        assert got[did][1] == xent(text), did
        assert got[did][2] == round(math.exp(xent(text)), 4)
    # improbable text scores strictly worse than corpus-typical text
    assert got[3][1] > got[2][1]


def test_ngram_perplexity_held_out_unseen_tokens(spark):
    """train != docs: unseen tokens/bigrams hit the coalesce-0
    smoothing path instead of dropping rows (LEFT joins)."""
    import math

    train = spark.createDataFrame(
        [(10, "a b a b"), (11, "a b")], "doc_id long, text string"
    )
    held = spark.createDataFrame([(1, "z q")], "doc_id long, text string")
    # T=6 V=2; unseen z: P=(0+1)/(6+2); bigram (z,q): (0+1)/(0+2)
    want = round(-(math.log(1 / 8) + math.log(1 / 2)) / 2, 6)
    rows = textops.ngram_perplexity(held, train=train).collect()
    assert len(rows) == 1 and rows[0].xent == want


def test_ngram_perplexity_min_count_prunes_model_only(spark):
    """min_count prunes rare bigrams from the MODEL: pruned pairs
    score exactly like unseen pairs (coalesce-0 smoothing), scores
    are monotonically >= the unpruned ones, and min_count=1 is the
    unpruned default."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "c d")], "doc_id long, text string"
    )
    base = {r.doc_id: r.xent for r in textops.ngram_perplexity(docs).collect()}
    pruned = {
        r.doc_id: r.xent
        for r in textops.ngram_perplexity(docs, min_count=2).collect()
    }
    # (a,b) has count 2 -> survives; (b,a), (c,d) count 1 -> pruned
    # doc 2: tokens c,d; T=6 V=4; first: (1+1)/(6+4); bigram (c,d)
    # pruned -> (0+1)/(c_uni(c)=1 + 4)
    want2 = round(-(math.log(2 / 10) + math.log(1 / 5)) / 2, 6)
    assert pruned[2] == want2
    assert pruned[2] > base[2]
    assert pruned[1] >= base[1]
    unp = {
        r.doc_id: r.xent
        for r in textops.ngram_perplexity(docs, min_count=1).collect()
    }
    assert unp == base


# ---------------------------------------------------------------------------
# C4-style line-level cleaning


def _c4_python_reference(text: str) -> tuple[int, int, bool, str]:
    """Pure-Python restatement of the C4 line rules (Raffel 2020 §2.2)
    for cross-checking the SQL form."""
    lines = text.split("\n")
    kept = [
        l
        for l in lines
        if l[-1:] in (".", "!", "?", '"')
        and len([w for w in l.split(" ") if w]) >= textops.C4_MIN_LINE_WORDS
        and "{" not in l
        and "javascript" not in l.lower()
    ]
    keep = (
        len(kept) >= textops.C4_MIN_KEPT_LINES
        and "lorem ipsum" not in text.lower()
    )
    return len(lines), len(kept), keep, "\n".join(kept)


def test_c4_line_filter_rules(spark):
    cases = [
        # 3 good lines -> kept doc
        (1, "a good line with five words.\n"
            "another good line right here!\n"
            'is this a "quoted line"?\n'
            "click here for more"),
        # terminal punct but too few words; no punct; code; javascript
        (2, "too short.\n"
            "this line has no terminal punctuation at all\n"
            "function f() { return 1; }.\n"
            "please enable javascript to view this page."),
        # lorem ipsum nukes the whole page despite 3 good lines
        (3, "a good line with five words.\n"
            "another good line right here!\n"
            "a third good line appears here.\n"
            "lorem ipsum dolor sit amet"),
        # exactly at the 3-kept-lines threshold
        (4, "one good line with five words.\n"
            "two good lines with five words.\n"
            "three good lines with five words."),
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.c4_line_filter(df).collect()}
    assert not got[2].keep and got[2].n_kept == 0
    assert not got[3].keep and got[3].n_kept == 3  # lorem doc-level kill
    assert got[4].keep and got[4].n_kept == 3
    for doc_id, text in cases:
        n_lines, n_kept, keep, clean = _c4_python_reference(text)
        r = got[doc_id]
        assert (r.n_lines, r.n_kept, r.keep) == (n_lines, n_kept, keep)
        assert r.clean_len == len(clean)


def test_c4_line_filter_matches_python_on_planted_corpus(spark, docs):
    import hashlib

    sample = docs.limit(120)
    planted_expr = textops.planted_lines_sql("text", "doc_id", "spark")
    rows = sample.selectExpr(
        "doc_id", f"{planted_expr} AS planted"
    ).collect()
    expected = {}
    for r in rows:
        n_lines, n_kept, keep, clean = _c4_python_reference(r.planted)
        expected[r.doc_id] = (
            n_lines, n_kept, keep, len(clean),
            hashlib.md5(clean.encode()).hexdigest(),
        )
    got = textops.c4_line_filter(sample, planted_expr).collect()
    assert len(got) == 120
    # the planted corpus must exercise every rule: kept docs, lorem
    # kills, and sub-threshold kept-line counts
    assert {e[2] for e in expected.values()} == {True, False}
    assert any(e[1] < textops.C4_MIN_KEPT_LINES for e in expected.values())
    for r in got:
        assert (
            r.n_lines, r.n_kept, r.keep, r.clean_len, r.clean_hash
        ) == expected[r.doc_id]


def test_c4_line_filter_map_only_plan(spark, docs):
    plan = textops.c4_line_filter(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # scan-speed projection, zero shuffles


# ---------------------------------------------------------------------------
# WIMBD-style corpus report


def test_corpus_report_fuses_volume_dup_pii_quality(spark):
    rich = "the " + " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            # src a: 2 docs, one exact dup pair, no PII
            (1, "a", rich),
            (2, "a", rich),
            # src b: 2 distinct docs, one with an email
            (3, "b", rich + " extra"),
            (4, "b", "mail me at bob@example.com today " + rich),
        ],
        "doc_id long, source string, text string",
    )
    got = {r.source: r for r in textops.corpus_report(docs).collect()}
    assert got["a"].n_docs == 2 and got["b"].n_docs == 2
    assert got["a"].dup_ppm == 500_000 and got["b"].dup_ppm == 0
    assert got["a"].pii_ppm == 0 and got["b"].pii_ppm == 500_000
    # per-source token totals and mean quality agree with the
    # per-document operators the report fuses
    q = {r.doc_id: r.quality_millis for r in textops.quality_scores(docs).collect()}
    t = {r.doc_id: r.n_tokens for r in textops.token_stats(docs).collect()}
    assert got["a"].n_tokens == t[1] + t[2]
    assert abs(got["a"].avg_quality_millis - (q[1] + q[2]) / 2) < 1e-6
    assert abs(got["b"].avg_quality_millis - (q[3] + q[4]) / 2) < 1e-6


def test_corpus_report_dup_ppm_matches_corpus_curation(docs):
    # per-source dup ppm recomputed from corpus_curation's flags
    src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    dups = {}
    tot = {}
    for r in textops.corpus_curation(docs).collect():
        s = src[r.doc_id]
        tot[s] = tot.get(s, 0) + 1
        if r.is_exact_dup:
            dups[s] = dups.get(s, 0) + 1
    want = {s: 1_000_000 * dups.get(s, 0) // n for s, n in tot.items()}
    got = {
        r.source: r.dup_ppm for r in textops.corpus_report(docs).collect()
    }
    assert got == want


def _np_nb(labeled, score_docs):
    """Independent multinomial-NB reference: labeled = [(label,
    text)], score_docs = {doc_id: text} -> {doc_id: log_odds
    rounded 6}."""
    import math
    from collections import Counter

    c1, c0 = Counter(), Counter()
    n = len(labeled)
    n1 = sum(y for y, _ in labeled)
    for y, text in labeled:
        (c1 if y else c0).update(text.split(" "))
    t1, t0 = sum(c1.values()), sum(c0.values())
    v = len(set(c1) | set(c0))
    out = {}
    for did, text in score_docs.items():
        s = math.log((n1 + 1.0) / (n - n1 + 1.0))
        for w in text.split(" "):
            s += math.log((c1.get(w, 0) + 1.0) / (t1 + v))
            s -= math.log((c0.get(w, 0) + 1.0) / (t0 + v))
        out[did] = round(s, 6)
    return out


_NB_GOOD = "the cat sat of the mat and read a good long book today"
_NB_JUNK = "zzz spam spam spam buy buy zzz spam click click zzz spam"


def test_nb_quality_matches_reference_with_explicit_labels(spark):
    labeled = [(1, _NB_GOOD), (1, _NB_GOOD + " extra words here"),
               (0, _NB_JUNK), (0, _NB_JUNK + " more spam")]
    score = {10: _NB_GOOD, 11: _NB_JUNK, 12: "the cat read spam",
             13: "completely unseen tokens only"}
    lab_df = spark.createDataFrame(
        [(y, t) for y, t in labeled], "label int, text string"
    )
    docs = spark.createDataFrame(
        [(d, t) for d, t in score.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.log_odds
        for r in textops.nb_quality_scores(docs, labeled=lab_df).collect()
    }
    want = _np_nb(labeled, score)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=2e-6), d
    # direction: good doc scores positive, junk negative
    assert got[10] > 0 > got[11]


def test_nb_quality_weak_label_default_agrees_with_heuristic(docs):
    """Heuristic distillation on the real corpus: the NB keep
    verdict must agree with the milli-score weak label on a strong
    majority of documents (the model smooths the boundary but should
    not invert it)."""
    lab = {
        r.doc_id: r.quality_millis >= textops.CURATION_MIN_QUALITY
        for r in textops.quality_scores(docs).collect()
    }
    keep = {r.doc_id: r.keep for r in textops.nb_quality_scores(docs).collect()}
    assert set(keep) == set(lab)
    agree = sum(keep[d] == lab[d] for d in lab)
    assert agree / len(lab) >= 0.9
    assert any(not v for v in lab.values())  # fixture has both classes


def test_nb_quality_deterministic_across_partitioning(spark):
    rows = [(i, (_NB_GOOD if i % 3 else _NB_JUNK) + f" t{i}")
            for i in range(60)]
    d1 = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, textops.nb_quality_scores(d1).collect()))
    b = sorted(map(tuple, textops.nb_quality_scores(d1.repartition(7)).collect()))
    assert a == b


def test_nb_quality_null_text_gets_a_verdict(spark):
    """NULL text scores as the empty string — the doc must not
    silently vanish from the keep ledger."""
    docs = spark.createDataFrame(
        [(1, _NB_GOOD), (2, None), (3, _NB_JUNK)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textops.nb_quality_scores(docs).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].n_tokens == 1  # the single empty token
    assert rows[2].log_odds is not None


# ---------------------------------------------------------------------------
# substring_dedup (Lee et al. 2022 length-ladder form)


def _bruteforce_substring_dedup(rows, ladder=(8, 16, 32, 64)):
    """Independent Python recompute of the ladder semantics: per
    (doc, level) span positions, cross-corpus df >= 2, base-level ppm
    and the max level with a cross-duplicate span."""
    toks = {d: t.split(" ") for d, t in rows}
    per = {}  # (w, span) -> {doc: positions}
    for w in ladder:
        for d, tk in toks.items():
            for i in range(len(tk) - w + 1):
                s = " ".join(tk[i : i + w])
                per.setdefault((w, s), {}).setdefault(d, 0)
                per[(w, s)][d] += 1
    out = {}
    base = ladder[0]
    for d, tk in toks.items():
        if len(tk) < base:
            continue
        n_spans = len(tk) - base + 1
        n_dup = sum(
            c
            for (w, s), docs in per.items()
            if w == base and d in docs and len(docs) >= 2
            for dd, c in docs.items()
            if dd == d
        )
        longest = 0
        for w in ladder:
            if any(
                d in docs and len(docs) >= 2
                for (ww, s), docs in per.items()
                if ww == w
            ):
                longest = max(longest, w)
        out[d] = (n_spans, n_dup, n_dup * 1_000_000 // n_spans, longest)
    return out


def test_substring_dedup_planted_variable_lengths(spark):
    """Planted duplicate substrings of 8/20/40/70 tokens must land in
    the right ladder bracket: longest_dup_len = the largest ladder
    level <= the planted length."""
    def run(n, tag):
        return " ".join(f"{tag}{i}" for i in range(n))

    shared8, shared20 = run(8, "a"), run(20, "b")
    shared40, shared70 = run(40, "c"), run(70, "d")
    docs = [
        (1, f"{shared8} {run(12, 'u')}"),
        (2, f"{shared8} {run(12, 'v')}"),
        (3, f"{shared20} {run(12, 'w')}"),
        (4, f"{shared20} {run(12, 'x')}"),
        (5, f"{shared40} {run(12, 'y')}"),
        (6, f"{shared40} {run(12, 'z')}"),
        (7, f"{shared70} {run(12, 'p')}"),
        (8, f"{shared70} {run(12, 'q')}"),
        (9, run(30, "solo")),
        (10, "short text"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in textops.substring_dedup(df).collect()}
    assert 10 not in out  # < 8 tokens: no row
    assert out[1].longest_dup_len == 8 and out[2].longest_dup_len == 8
    assert out[3].longest_dup_len == 16 and out[4].longest_dup_len == 16
    assert out[5].longest_dup_len == 32 and out[6].longest_dup_len == 32
    assert out[7].longest_dup_len == 64 and out[8].longest_dup_len == 64
    assert out[9].longest_dup_len == 0 and out[9].n_cross_dup == 0
    # base-level mass: doc 1 has 13 positions, exactly 1 duplicated
    assert out[1].n_spans == 13 and out[1].n_cross_dup == 1
    for r in out.values():
        assert r.cross_dup_ppm == r.n_cross_dup * 1_000_000 // r.n_spans


def test_substring_dedup_matches_bruteforce(spark):
    """Seeded random corpus with planted shared runs of many lengths;
    every output row must equal the independent Python recompute."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(50)]
    shared = {
        ln: " ".join(rng.choice(vocab) + f"s{ln}k{j}" for j in range(ln))
        for ln in (8, 11, 16, 23, 33, 64, 90)
    }
    rows = []
    for d in range(24):
        body = [rng.choice(vocab) + f"d{d}i{i}" for i in range(rng.randint(4, 40))]
        if d % 3 != 2:  # two of every three docs get a planted run
            ln = rng.choice(list(shared))
            pos = rng.randint(0, len(body))
            body = body[:pos] + shared[ln].split(" ") + body[pos:]
        rows.append((d, " ".join(body)))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(6)
    got = {
        r.doc_id: (r.n_spans, r.n_cross_dup, r.cross_dup_ppm, r.longest_dup_len)
        for r in textops.substring_dedup(df).collect()
    }
    assert got == _bruteforce_substring_dedup(rows)


def test_substring_dedup_scans_corpus_once(spark):
    """All ladder levels come off ONE corpus scan (a single explode
    lineage), and the per/cd lineages share one materialized shuffle
    (AQE ReusedExchange)."""
    bp = " ".join(f"b{j}" for j in range(8))
    df = spark.createDataFrame(
        [(i, f"{bp} " + " ".join(f"t{i}w{j}" for j in range(30)))
         for i in range(20)],
        "doc_id long, text string",
    ).coalesce(1)
    out = textops.substring_dedup(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert plan.count("FileScan") <= 1  # in-memory source: no rescans


def test_ngram_perplexity_materialize_once_same_values(spark, tmp_path):
    """materialize=True returns bit-identical rows while the executed
    plan reads the tokenized corpus from ONE materialized checkpoint
    (single FileScan + ExistingRDD reuse) instead of 4 scans."""
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(20)))
        for i in range(40)
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    docs = spark.read.parquet(src)
    base = {tuple(r) for r in textops.ngram_perplexity(docs).collect()}
    out = textops.ngram_perplexity(docs, materialize=True)
    got = {tuple(r) for r in out.collect()}
    assert got == base
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 0  # corpus read via checkpoint only
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    # the non-materialized plan scans the parquet once per lineage
    lazy_plan = (
        textops.ngram_perplexity(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert lazy_plan.count("FileScan") >= 4


def test_ngram_perplexity_materialize_held_out(spark):
    """Held-out scoring (train != docs) under materialize=True also
    matches the lazy path."""
    train = spark.createDataFrame(
        [(i, "a b c a b") for i in range(5)], "doc_id long, text string"
    )
    held = spark.createDataFrame(
        [(100, "a b z"), (101, "z z z")], "doc_id long, text string"
    )
    base = {tuple(r) for r in textops.ngram_perplexity(held, train=train).collect()}
    got = {
        tuple(r)
        for r in textops.ngram_perplexity(
            held, train=train, materialize=True
        ).collect()
    }
    assert got == base


@pytest.mark.parametrize("name", ["token_length_quantiles", "corpus_report"])
def test_oracle_outputs_are_bigint_not_hugeint(spark, sf_dir, name):
    """DuckDB widens sum()/count() arithmetic to HUGEINT (and decimal
    literals to DECIMAL) where Spark emits BIGINT; the oracle twins
    must cast, or the gate's value hash compares `5` with `5.0`."""
    import duckdb

    import __spark_entry__

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    oracle = __spark_entry__.oracle_sql()[name]
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {oracle}").fetchall()}
    wide = {c: t for c, t in types.items() if t == "HUGEINT" or t.startswith("DECIMAL")}
    assert not wide, wide
    got = __spark_entry__.queries()[name](spark, sf_dir)
    for field in got.schema.fields:
        if field.dataType.typeName() == "long":
            assert types[field.name] == "BIGINT", (field.name, types[field.name])
