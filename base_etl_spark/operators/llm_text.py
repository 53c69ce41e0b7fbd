"""Text-analysis operators for LLM training-data pipelines (SURVEY §2.10).

All pure DataFrame algebra: tokenize with split/explode, join for document
frequencies, closed-form scores. No Python in the row path — at 100 TB
these run as scan -> explode -> partial/final hash agg chains whose only
shuffles are on (token) or (doc_id).

Determinism: scores are built from integer counts and exact ratios; only
ln() (libm) needs a 6dp round.
"""

from __future__ import annotations

import json
import zlib

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from base_etl_spark.io import Tables, local_frame, spread
from base_etl_spark.registry import query

# tiny English stopword list used by langid / quality scoring; keep in
# sync with the SQL literal below
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"


@query(
    "text_wordcount",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
        SELECT lang, token, count(*) AS n FROM tok GROUP BY lang, token
    )
    SELECT lang, token, n, rn FROM (
        SELECT lang, token, n,
               row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rn
        FROM counts
    ) WHERE rn <= 10
    """,
)
def text_wordcount(t: Tables) -> DataFrame:
    """Top-10 terms per language (tokenize -> count -> windowed top-k)."""
    counts = (
        t.documents.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    return counts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n  AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    """,
)
def text_tfidf(t: Tables) -> DataFrame:
    """TF-IDF per (doc, term); smoothed idf = ln((N+1)/(df+1)) + 1
    (the sklearn smoothing formula, public knowledge). The df side and
    the N scalar are broadcast — the big side streams through one shuffle
    on (doc_id, term)."""
    tok = t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
            ).alias("tfidf"),
        )
    )


@query(
    "text_stats",
    oracle="""
    SELECT lang, source,
           count(*)                                          AS n_docs,
           round(avg(n_chars), 2)                            AS avg_chars,
           round(avg(len(string_split(text, ' '))), 2)       AS avg_tokens,
           min(n_chars)                                      AS min_chars,
           max(n_chars)                                      AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats(t: Tables) -> DataFrame:
    """Per (lang, source) document profile."""
    return t.documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 2).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "text_langid",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '), w -> w IN {_STOP_SQL})) AS n_stop,
               len(string_split(text, ' '))                                     AS n_tok
        FROM documents
    )
    SELECT doc_id, lang,
           round(n_stop * 1.0 / n_tok, 6)                     AS stop_ratio,
           CASE WHEN n_stop * 1.0 / n_tok >= 0.05 THEN 'en'
                ELSE 'other' END                              AS pred_lang
    FROM s
    """,
)
def text_langid(t: Tables) -> DataFrame:
    """Stopword-ratio language heuristic (n-gram-free lang-ID baseline).
    A production detector swaps the predicate for a char-n-gram profile
    score; the Spark shape (filter over token array, pure expression)
    stays identical."""
    toks = F.split("text", " ")
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
    n_tok = F.size(toks)
    ratio = n_stop * F.lit(1.0) / n_tok
    return t.documents.select(
        "doc_id",
        "lang",
        F.round(ratio, 6).alias("stop_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("other").alias("pred_lang"),
    )


@query(
    "text_quality",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               len(string_split(text, ' '))  AS n_tok,
               n_chars,
               len(list_filter(string_split(text, ' '), w -> w IN {_STOP_SQL})) AS n_stop,
               len(list_filter(string_split(text, ' '), w -> len(w) >= 8))      AS n_long,
               len(regexp_extract_all(text, '[0-9]'))                           AS n_digit
        FROM documents
    )
    SELECT doc_id, n_tok,
           round((n_chars - n_tok + 1.0) / n_tok, 6)   AS avg_word_len,
           round(n_stop * 1.0 / n_tok, 6)              AS stop_ratio,
           round(n_digit * 1.0 / n_chars, 6)           AS digit_ratio,
           round(least(n_tok / 50.0, 1.0) * 0.4
                 + least(n_stop * 1.0 / n_tok / 0.1, 1.0) * 0.3
                 + (1.0 - n_digit * 1.0 / n_chars) * 0.2
                 + least(n_long * 1.0 / n_tok / 0.2, 1.0) * 0.1, 6) AS quality
    FROM s
    """,
)
def text_quality(t: Tables) -> DataFrame:
    """Heuristic document-quality score: length, stopword ratio, digit
    ratio, long-word ratio, combined with fixed weights (the C4/Gopher
    rule-based filtering family, public knowledge). All ratios are exact
    integer divisions -> cross-engine deterministic."""
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
    n_long = F.size(F.filter(toks, lambda w: F.length(w) >= 8))
    n_digit = F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0))
    n_chars = F.col("n_chars")
    avg_word_len = (n_chars - n_tok + 1.0) / n_tok  # spaces = n_tok - 1
    stop_ratio = n_stop * F.lit(1.0) / n_tok
    digit_ratio = n_digit * F.lit(1.0) / n_chars
    long_ratio = n_long * F.lit(1.0) / n_tok
    quality = (
        F.least(n_tok / F.lit(50.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio / 0.1, F.lit(1.0)) * 0.3
        + (F.lit(1.0) - digit_ratio) * 0.2
        + F.least(long_ratio / 0.2, F.lit(1.0)) * 0.1
    )
    return t.documents.select(
        "doc_id",
        n_tok.alias("n_tok"),
        F.round(avg_word_len, 6).alias("avg_word_len"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(quality, 6).alias("quality"),
    )


@query(
    "text_tokens",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                              AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
           n_chars                                                   AS chars
    FROM documents
    """,
)
def text_tokens(t: Tables) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex (letter
    runs | digit runs | single other). The regex count approximates a
    subword tokenizer's pre-tokenization pass."""
    return t.documents.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "re_tokens"
        ),
        F.col("n_chars").alias("chars"),
    )


@query(
    "text_fingerprint",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    terms AS (
        SELECT doc_id,
               generate_subscripts(toks, 1) AS i,
               unnest(toks)                 AS w
        FROM tok
    )
    SELECT doc_id,
           CAST(sum(i * (length(w) * 131 + ascii(w))) % 1000000007 AS BIGINT)
               AS fingerprint
    FROM terms GROUP BY doc_id
    """,
)
def text_fingerprint(t: Tables) -> DataFrame:
    """Position-weighted polynomial document fingerprint (rolling-hash
    style, engine-neutral integer arithmetic — unlike murmur/xxhash the
    same value is computable in ANSI SQL). Bounded: pos<1k, term<3k =>
    sum < 2^42, no overflow before the final mod."""
    toks = t.documents.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
    term = (F.col("pos") + 1) * (F.length("w") * 131 + F.ascii("w"))
    return toks.groupBy("doc_id").agg(
        (F.sum(term) % F.lit(1000000007)).alias("fingerprint")
    )


_NGRAM_TOP = 30  # profile size: top char-trigrams kept per language


@query(
    "text_langid_ngram",
    oracle=f"""
    WITH tri AS (
        SELECT doc_id, lang, substring(text, i, 3) AS tg
        FROM (
            SELECT doc_id, lang, text,
                   unnest(generate_series(1, len(text) - 2)) AS i
            FROM documents
        )
    ),
    prof AS (
        SELECT lang, tg FROM (
            SELECT lang, tg,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY count(*) DESC, tg) AS rn
            FROM tri WHERE lang IS NOT NULL GROUP BY lang, tg
        ) WHERE rn <= {_NGRAM_TOP}
    ),
    doc_n AS (SELECT doc_id, count(*) AS n_tri FROM tri GROUP BY doc_id),
    score AS (
        SELECT t.doc_id, p.lang AS cand, count(*) AS hits
        FROM tri t JOIN prof p ON t.tg = p.tg
        GROUP BY t.doc_id, p.lang
    ),
    best AS (
        SELECT doc_id, cand, hits,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, cand) AS rn
        FROM score
    )
    SELECT d.doc_id, d.lang,
           coalesce(b.cand, 'unknown')                          AS pred_lang,
           round(coalesce(b.hits, 0) * 1.0 / n.n_tri, 6)        AS score
    FROM documents d
    JOIN doc_n n USING (doc_id)
    LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
    """,
)
def text_langid_ngram(t: Tables) -> DataFrame:
    """Char-trigram language ID: learn a top-30-trigram profile per
    labeled language from the corpus, score every document's trigram
    occurrences against every profile, predict the argmax (ties broken
    by language name; docs hitting no profile predict 'unknown').

    The classic n-gram-profile detector (Cavnar-Trenkle family) as pure
    DataFrame algebra: explode trigrams, top-k window for profiles,
    broadcast the tiny profile table into an equi join, one hash agg per
    (doc, candidate). Trigram extraction is codepoint-based substring on
    both engines, so multibyte (zh) text slices identically. At 100 TB
    the profile build runs on a sample; the scoring join is a broadcast
    of 5x30 rows against a linear trigram stream.

    Fixture honesty: the synthetic corpus draws the SAME English-ish
    token vocabulary for every lang label (verified by inspection), so
    per-language profiles are near-identical and accuracy is chance-level
    HERE; on real multilingual text the trigram profiles separate
    sharply. Tests therefore pin mechanics (one row per doc, determinism,
    score bounds), not accuracy."""
    tri = (
        t.documents.filter(F.length("text") >= 3)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, char_length(text) - 2),"
                    " i -> substring(text, i, 3))"
                )
            ).alias("tg"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tg"))
    # unlabeled (NULL-lang) docs must not train a profile: they'd form a
    # NULL-named candidate whose rank position then depends on engine
    # null ordering (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST) —
    # found by the fuzz harness; they still get SCORED like any doc
    prof = (
        tri.filter(F.col("lang").isNotNull())
        .groupBy("lang", "tg").agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NGRAM_TOP)
        .select(F.col("lang").alias("cand"), "tg")
    )
    doc_n = tri.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tri"))
    score = (
        tri.join(F.broadcast(prof), "tg")
        .groupBy("doc_id", "cand")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    wb = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("cand"))
    best = (
        score.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cand", "hits")
    )
    return (
        t.documents.select("doc_id", "lang")
        .join(doc_n, "doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("cand", F.lit("unknown")).alias("pred_lang"),
            F.round(
                F.coalesce("hits", F.lit(0)) * F.lit(1.0) / F.col("n_tri"), 6
            ).alias("score"),
        )
    )


@query(
    "text_unigram_nll",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT count(*) AS n FROM tok)
    SELECT doc_id,
           count(*)                                    AS n_tok,
           round(avg(-ln(c * 1.0 / n)), 6)             AS avg_nll
    FROM tok JOIN freq USING (w) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def text_unigram_nll(t: Tables) -> DataFrame:
    """Unigram language-model quality score: per document, the mean
    negative log-likelihood of its tokens under the corpus unigram
    distribution — the classic cheap perplexity proxy used to rank/filter
    training documents (gibberish and boilerplate sit at the distribution
    tails; no external model needed).

    Plan: one explode pass feeds BOTH the frequency table and the scoring
    join; the vocabulary aggregate is tiny relative to the corpus (Heaps'
    law — ~millions of types vs trillions of tokens at 100 TB) and
    BROADCASTS back onto the token stream, so the only corpus-sized
    shuffle is the final doc_id agg, which co-partitions with the explode
    (io.spread doc_id key). The 1-row total-token count rides the same broadcast
    pattern as text_tfidf's corpus-size scalar."""

    tok = spread(t.documents, "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    nll = -F.log(F.col("c") * F.lit(1.0) / F.col("n"))
    return (
        tok.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
        )
    )


@query(
    "text_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS i,
               unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    g AS (
        SELECT doc_id, i, w,
               w || ' ' || lead(w) OVER win AS g2,
               w || ' ' || lead(w) OVER win || ' ' || lead(w, 2) OVER win AS g3
        FROM t WINDOW win AS (PARTITION BY doc_id ORDER BY i)
    ),
    s AS (
        SELECT doc_id, count(*) AS n_tokens,
               count(g2) AS n2, count(DISTINCT g2) AS d2,
               count(g3) AS n3, count(DISTINCT g3) AS d3
        FROM g GROUP BY doc_id
    ),
    top2 AS (
        SELECT doc_id, max(c) AS m2 FROM (
            SELECT doc_id, g2, count(*) AS c FROM g
            WHERE g2 IS NOT NULL GROUP BY doc_id, g2
        ) GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(n_tokens AS BIGINT)                            AS n_tokens,
           round((n2 - d2) * 1.0 / nullif(n2, 0), 6)           AS dup2_frac,
           round((n3 - d3) * 1.0 / nullif(n3, 0), 6)           AS dup3_frac,
           round(m2 * 2.0 / n_tokens, 6)                       AS top2_frac,
           (coalesce((n3 - d3) * 1.0 / nullif(n3, 0) <= 0.05, TRUE)
            AND m2 * 2.0 / n_tokens <= 0.15)                   AS keep
    FROM s JOIN top2 USING (doc_id)
    """,
)
def text_repetition(t: Tables) -> DataFrame:
    """Within-document repetition filter (the Gopher-family rule: drop
    docs dominated by duplicate n-grams or one runaway bigram).

    Per doc: duplicate-bigram/-trigram fractions (1 - distinct/total) and
    the token share of the single most frequent bigram (x2: each bigram
    occurrence spans two tokens). keep = dup3_frac <= 0.05 AND
    top2_frac <= 0.15 — thresholds MEASURED on the fixture corpus
    (2026-08-13: dup3 max 0.071, top2 max 0.31; both rules bind, keep
    rate 93.2% at sf0.01). Docs under 2 tokens can't repeat and are
    excluded (inner join on the top-bigram side; the oracle's JOIN drops
    the same rows).

    100 TB shape: the n-gram arrays and the distinct/total sizes are
    per-row projections (linear, codegen); the only shuffles are the
    exploded-bigram count keyed on (doc_id, bigram) and its doc_id
    re-agg — co-partitioned with io.spread's doc_id keying. Nothing is
    quadratic in document length (array_distinct is hash-based;
    no per-element HOF counting)."""
    from base_etl_spark.operators.llm_dedup import _shingles

    base = spread(t.documents, "doc_id").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        _shingles("text", 2).alias("g2"),
        _shingles("text", 3).alias("g3"),
    )
    stats = base.select(
        "doc_id",
        "n_tokens",
        F.size("g2").alias("n2"),
        F.size(F.array_distinct("g2")).alias("d2"),
        F.size("g3").alias("n3"),
        F.size(F.array_distinct("g3")).alias("d3"),
    )
    top2 = (
        base.select("doc_id", F.explode("g2").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("m2"))
    )
    dup2 = (F.col("n2") - F.col("d2")) * F.lit(1.0) / F.nullif(F.col("n2"), F.lit(0))
    dup3 = (F.col("n3") - F.col("d3")) * F.lit(1.0) / F.nullif(F.col("n3"), F.lit(0))
    tf2 = F.col("m2") * F.lit(2.0) / F.col("n_tokens")
    return stats.join(top2, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(dup2, 6).alias("dup2_frac"),
        F.round(dup3, 6).alias("dup3_frac"),
        F.round(tf2, 6).alias("top2_frac"),
        (F.coalesce(dup3 <= 0.05, F.lit(True)) & (tf2 <= 0.15)).alias("keep"),
    )


# PII patterns — valid and equivalent under both Java regex (Spark) and
# RE2 (DuckDB): no backrefs, no lookaround, ASCII \b word boundaries.
# Parity vs Python `re` on constructed PII rows is asserted in
# tests/test_text_ops.py (the fixture corpus itself contains no PII, so
# fixture counts are legitimately all zero — the oracle still pins the
# regex dialect equivalence).
_PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}(\.\d{1,3}){3}\b"
_PII_PHONE = r"(\+\d{1,2}[ \-])?\(?\d{3}\)?[ \-]\d{3}[ \-]\d{4}"


@query(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_IPV4}'))  AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}'))
              + len(regexp_extract_all(text, '{_PII_IPV4}'))
              + len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_pii,
           (len(regexp_extract_all(text, '{_PII_EMAIL}'))
              + len(regexp_extract_all(text, '{_PII_IPV4}'))
              + len(regexp_extract_all(text, '{_PII_PHONE}'))) > 0     AS has_pii
    FROM documents
    """,
)
def text_pii_scrub(t: Tables) -> DataFrame:
    """PII detection counts per document (email / IPv4 / phone) — the
    screening half of a scrub stage; redaction itself is
    `regexp_replace(text, pat, '[PII]')` over the same patterns (not part
    of the checked result: the interesting contract is match parity).

    Pure projection — zero shuffles; the regex runs inside codegen on the
    JVM (never a Python UDF). At 100 TB this is a single mapper pass over
    the corpus, the cheapest possible shape. Counting (not just a boolean
    flag) keeps downstream policy flexible (e.g. drop when n_pii/token
    ratio is high, else redact)."""
    ne = F.regexp_count("text", F.lit(_PII_EMAIL))
    ni = F.regexp_count("text", F.lit(_PII_IPV4))
    np_ = F.regexp_count("text", F.lit(_PII_PHONE))
    return t.documents.select(
        "doc_id",
        ne.cast("long").alias("n_emails"),
        ni.cast("long").alias("n_ipv4"),
        np_.cast("long").alias("n_phones"),
        (ne + ni + np_).cast("long").alias("n_pii"),
        ((ne + ni + np_) > 0).alias("has_pii"),
    )


@query(
    "text_ngram_topk",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    seq AS (SELECT doc_id, w,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
            FROM tok),
    cnt AS (SELECT w || ' ' || nxt AS bigram, count(*) AS n
            FROM seq WHERE nxt IS NOT NULL GROUP BY 1)
    SELECT bigram, n AS n_occurrences
    FROM cnt ORDER BY n DESC, bigram LIMIT 20
    """,
)
def text_ngram_topk(t: Tables) -> DataFrame:
    """Corpus-wide top-20 bigrams — the n-gram frequency pass behind
    tokenizer training and corpus drift monitoring.

    Bigrams are built IN-ROW with a codegen'd array transform over the
    split words (no posexplode self-join, no window): each document emits
    its own adjacent pairs, then one explode + hash agg counts them. The
    top-20 is a total order (count desc, bigram asc), so ties at the
    boundary are deterministic, and Spark plans it as
    TakeOrderedAndProject — per-partition heaps, no global sort. At
    100 TB the only shuffle is the bigram hash agg; shingle skew is
    bounded because the key space is quadratic in vocabulary, not in
    corpus size."""
    words = F.split(F.col("text"), " ")
    bigrams = F.expr(
        "transform(sequence(0, size(ws) - 2),"
        " i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))"
    )
    return (
        t.documents.select(words.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("bigram"))
        .limit(20)
    )


_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_QUERY = ("merge", "hash", "scan")


@query(
    "text_bm25",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
         dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id),
         stats AS (SELECT count(*) AS n_docs, avg(dlen) AS avg_dlen FROM dl),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
                WHERE w IN ('merge', 'hash', 'scan') GROUP BY doc_id, w),
         df AS (SELECT w AS t, count(DISTINCT doc_id) AS df FROM tf GROUP BY w),
         scored AS (
             SELECT tf.doc_id,
                    sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                        * tf.tf * ({_BM25_K1} + 1.0)
                        / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                           + {_BM25_B} * dl.dlen / stats.avg_dlen))) AS s
             FROM tf
             JOIN df ON tf.w = df.t
             JOIN dl ON tf.doc_id = dl.doc_id
             CROSS JOIN stats
             GROUP BY tf.doc_id
         )
    SELECT doc_id, round(s, 6) AS bm25
    FROM scored ORDER BY round(s, 6) DESC, doc_id LIMIT 20
    """,
)
def text_bm25(t: Tables) -> DataFrame:
    """BM25 ranking for a fixed keyword query — TF-IDF's
    production successor (term-frequency saturation via k1, document-
    length normalization via b), the lexical half of a hybrid retrieval
    stack.

    Plan shape: one explode feeds the doc-length agg and the
    query-term-filtered tf agg (the term filter prunes the explode
    output to ~3 terms before any shuffle); df and the corpus stats are
    broadcast scalars; final score is one doc_id-keyed agg +
    TakeOrderedAndProject. The idf formula is the Robertson-Sparck Jones
    variant with the +1 floor (never negative), pinned identically in
    the oracle."""
    return (
        bm25_scores(t)
        .select("doc_id", F.round("s", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))  # round-then-rank
        .limit(20)
    )


def bm25_scores(t: Tables) -> DataFrame:
    """(doc_id, s): raw BM25 scores for the fixed query — shared by
    text_bm25 (top-20 report) and sim_hybrid_rrf (lexical leg).

    r11 restructure (guide §2.3/§2.4 — shuffle fewer bytes, remove
    exchanges): the old shape re-scanned AND re-exploded the corpus four
    times (tf, df, dl, stats each built from their own explode lineage —
    4 parquet scans + 4 Generate nodes in the hybrid_rrf plan). Now:

    - dlen is computed IN-ROW as size(split(text)) — identical to the
      exploded count (split never yields an empty array) — and carried
      through the term-filtered explode, so the dl groupBy+join leg
      disappears entirely;
    - df rides a count() window over the (doc_id, w) tf aggregate
      (partitions = query terms, rows already 1/doc/term) instead of a
      second pass over the tf lineage;
    - corpus stats (n_docs, avg_dlen) are one in-row projection + 1-row
      agg, broadcast via crossJoin.

    Net: 2 corpus scans (one exploded+term-pruned, one in-row width-2)
    instead of 4 exploded scans; 3 tiny exchanges on aggregated rows.
    NULL-text docs are excluded exactly as before (explode of a null
    split emitted nothing, so they never had token rows, never counted
    in n_docs, and never scored)."""
    docs = t.documents.filter(F.col("text").isNotNull())
    dlen = F.size(F.split("text", " "))
    stats = docs.select(dlen.alias("dlen")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dlen").alias("avg_dlen")
    )
    tok = docs.select(
        "doc_id", dlen.alias("dlen"), F.explode(F.split("text", " ")).alias("w")
    )
    tf = (
        tok.filter(F.col("w").isin(*_BM25_QUERY))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dlen").alias("dlen"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("w")))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    norm = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dlen") / F.col("avg_dlen")
    )
    term_score = idf * F.col("tf") * (_BM25_K1 + 1.0) / norm
    return (
        tf.crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("s"))
    )


@F.pandas_udf(DoubleType())
def _zratio(texts: pd.Series) -> pd.Series:
    def one(s: str) -> float:
        raw = s.encode("utf-8")
        if not raw:
            return 1.0
        return round(len(zlib.compress(raw, 6)) / len(raw), 6)

    return texts.map(one)


@query("text_compress_ratio", oracle=None)  # R: zlib lives on the Python side only
def text_compress_ratio(t: Tables) -> DataFrame:
    """Compressibility quality signal: zlib-compressed length over raw
    length per document — boilerplate/repetitive junk compresses far
    below organic text, making this one of the cheapest high-recall
    garbage detectors in a training-data pipeline (the classic
    complement to text_repetition's exact n-gram counters).

    zlib is Python-side, so this is the seventh declared Python-boundary
    key: an Arrow-batched pandas UDF (one C call per value — the
    per-batch transfer dominates, not the compression). Deterministic
    (zlib level 6 fixed), so rows-only with property tests: ratio
    bounds, monotonicity on constructed repetitive-vs-random docs."""
    return t.documents.select(
        "doc_id",
        F.col("n_chars").alias("raw_len"),
        _zratio(F.col("text")).alias("compress_ratio"),
    )


@query(
    "text_js_divergence",
    oracle="""
    WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
                 FROM documents),
         cnt AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w),
         tot AS (SELECT source AS s, sum(c) AS n FROM cnt GROUP BY source),
         p AS (SELECT cnt.w, cnt.c * 1.0 / tot.n AS p
               FROM cnt JOIN tot ON cnt.source = tot.s
               WHERE cnt.source = 'src0'),
         q AS (SELECT cnt.source, cnt.w, cnt.c * 1.0 / tot.n AS q
               FROM cnt JOIN tot ON cnt.source = tot.s
               WHERE cnt.source <> 'src0'),
         joined AS (
             SELECT q.source, coalesce(p.p, 0.0) AS p, q.q,
                    (coalesce(p.p, 0.0) + q.q) / 2.0 AS m
             FROM q LEFT JOIN p ON q.w = p.w
             UNION ALL
             SELECT srcs.source, p.p, 0.0, p.p / 2.0
             FROM p CROSS JOIN (SELECT DISTINCT source FROM q) srcs
             WHERE NOT EXISTS (SELECT 1 FROM q
                               WHERE q.source = srcs.source AND q.w = p.w)
         )
    SELECT source,
           round(sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p / m) ELSE 0 END)
               + sum(CASE WHEN q > 0 THEN 0.5 * q * ln(q / m) ELSE 0 END), 6)
               AS jsd_vs_src0
    FROM joined GROUP BY source
    """,
)
def text_js_divergence(t: Tables) -> DataFrame:
    """Jensen-Shannon divergence between each source's unigram
    distribution and src0's — the symmetric, bounded (≤ ln 2) drift
    metric for corpus-mix monitoring: a new crawl snapshot whose JSD
    jumps is the canary for distribution shift before any model sees it.

    Shape: one token hash agg per (source, word), broadcastable totals,
    then a word-keyed outer alignment of each source against the
    reference distribution (both directions of the mixture handled — the
    UNION leg carries reference words absent from the source). All
    probabilities divide exact integer counts, so both engines feed ln()
    identical doubles; the KL convention 0·ln(0/m)=0 is written out as
    CASE/when on both sides."""
    tok = t.documents.select("source", F.explode(F.split("text", " ")).alias("w"))
    cnt = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy(F.col("source").alias("s")).agg(F.sum("c").alias("n"))
    dist = cnt.join(F.broadcast(tot), cnt.source == tot.s).select(
        "source", "w", (F.col("c") * 1.0 / F.col("n")).alias("pr")
    )
    p = dist.filter(F.col("source") == "src0").select(
        F.col("w").alias("pw"), F.col("pr").alias("p")
    )
    q = dist.filter(F.col("source") != "src0").select(
        "source", "w", F.col("pr").alias("q")
    )
    matched = q.join(p, q.w == p.pw, "left").select(
        "source",
        F.coalesce("p", F.lit(0.0)).alias("p"),
        "q",
        ((F.coalesce("p", F.lit(0.0)) + F.col("q")) / 2.0).alias("m"),
    )
    srcs = q.select("source").distinct()
    # explicit renames: both anti-join sides descend from q, and Spark
    # resolves ambiguous self-lineage references silently (to a tautology)
    q_keys = q.select(F.col("source").alias("qs"), F.col("w").alias("qw"))
    ref_only = (
        p.crossJoin(F.broadcast(srcs))
        .join(
            q_keys,
            (F.col("qs") == F.col("source")) & (F.col("qw") == F.col("pw")),
            "left_anti",
        )
        .select("source", F.col("p"), F.lit(0.0).alias("q"), (F.col("p") / 2.0).alias("m"))
    )
    joined = matched.unionByName(ref_only)
    kl_p = F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / F.col("m"))).otherwise(0.0)
    kl_q = F.when(F.col("q") > 0, 0.5 * F.col("q") * F.log(F.col("q") / F.col("m"))).otherwise(0.0)
    return joined.groupBy("source").agg(
        F.round(F.sum(kl_p) + F.sum(kl_q), 6).alias("jsd_vs_src0")
    )


@query(
    "text_entropy_char",
    oracle="""
    WITH chars AS (
        SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
        FROM documents
    ),
    counts AS (SELECT doc_id, ch, count(*) AS c FROM chars
               WHERE ch <> '' GROUP BY doc_id, ch),
    tot AS (SELECT doc_id, sum(c) AS n FROM counts GROUP BY doc_id)
    SELECT counts.doc_id,
           round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 6) AS char_entropy
    FROM counts JOIN tot ON counts.doc_id = tot.doc_id
    GROUP BY counts.doc_id
    """,
)
def text_entropy_char(t: Tables) -> DataFrame:
    """Character-level Shannon entropy per document (nats) — the
    alphabet-agnostic cousin of the zlib ratio (text_compress_ratio):
    near-zero entropy means a degenerate repeated-character doc, and the
    two signals disagree exactly on long-range repetition (high char
    entropy, low zlib ratio), which is why quality stacks keep both.

    One explode of single characters → (doc, char) hash agg → per-doc
    normalization; the probabilities divide exact integer counts so both
    engines feed ln() identical doubles."""
    chars = t.documents.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy(F.col("doc_id").alias("d")).agg(F.sum("c").alias("n"))
    pr = F.col("c") * 1.0 / F.col("n")
    return (
        counts.join(tot, counts.doc_id == tot.d)
        .groupBy("doc_id")
        .agg(F.round(-F.sum(pr * F.log(pr)), 6).alias("char_entropy"))
    )


@query(
    "text_keywords_topk",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n  AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
                   AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rk FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rk
        FROM scored
    ) WHERE rk <= 3
    """,
)
def text_keywords_topk(t: Tables) -> DataFrame:
    """Top-3 TF-IDF keywords per document — the extractive keyword/tag
    stage built on text_tfidf's formula, reduced per doc. The rank
    window is doc-partitioned (bounded by document vocabulary) and ranks
    the ROUNDED score with a term tie-break, so both engines agree on
    every keyword (the round-then-rank rule)."""
    tok = t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)


@query(
    "text_readability",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS n_vgroups,
               len(list_filter(string_split(text, ' '), w -> len(w) >= 8))
                   AS n_long_words
        FROM documents
    )
    SELECT doc_id,
           round(n_vgroups * 1.0 / n_words, 6)    AS syllables_per_word,
           round(n_long_words * 1.0 / n_words, 6) AS long_word_ratio,
           CASE WHEN n_vgroups * 1.0 / n_words >= 1.6 THEN 'dense'
                WHEN n_vgroups * 1.0 / n_words >= 1.3 THEN 'medium'
                ELSE 'simple' END AS readability_band
    FROM m WHERE n_words > 0
    """,
)
def text_readability(t: Tables) -> DataFrame:
    """Readability proxy per document: vowel-group count stands in for
    syllables (the standard cheap approximation), long-word ratio, and a
    syllable-density readability band — the
    human-readability axis of quality scoring next to entropy (structure)
    and zlib ratio (redundancy). Pure codegen projection: two regex/array
    passes, zero shuffles."""
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    n_vgroups = F.regexp_count(F.col("text"), F.lit("[aeiouyAEIOUY]+"))
    n_long = F.size(F.filter(words, lambda w: F.length(w) >= 8))
    spw = n_vgroups * 1.0 / n_words
    return t.documents.filter(n_words > 0).select(
        "doc_id",
        F.round(spw, 6).alias("syllables_per_word"),
        F.round(n_long * 1.0 / n_words, 6).alias("long_word_ratio"),
        # a Flesch-style float composite was tried and dropped: power-of-2
        # word counts make the raw value land EXACTLY on .xxxx5 rounding
        # boundaries where engines' last-ulp arithmetic disagrees even
        # under the floor recipe — banding the exact rational (one int
        # division, bit-identical) is the stable contract
        F.when(spw >= 1.6, "dense").when(spw >= 1.3, "medium").otherwise("simple").alias(
            "readability_band"
        ),
    )


@query(
    "text_vocab_overlap",
    oracle="""
    WITH lw AS (SELECT DISTINCT lang, w
                FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
                      FROM documents)),
         sizes AS (SELECT lang AS l, count(*) AS n FROM lw GROUP BY lang),
         inter AS (SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS common
                   FROM lw a JOIN lw b ON a.w = b.w AND a.lang < b.lang
                   GROUP BY 1, 2)
    SELECT lang_a, lang_b, CAST(common AS BIGINT) AS n_common_terms,
           round(common * 1.0 / (sa.n + sb.n - common), 6) AS vocab_jaccard
    FROM inter
    JOIN sizes sa ON lang_a = sa.l
    JOIN sizes sb ON lang_b = sb.l
    """,
)
def text_vocab_overlap(t: Tables) -> DataFrame:
    """Vocabulary overlap (Jaccard of distinct-term sets) between every
    language-tag pair — on real corpora the language separator check (a
    high overlap between supposedly-different langs means mislabeled
    docs or a broken langid stage); on this word-salad fixture it
    measures the shared synthetic vocabulary, which the langid keys
    already document as language-agnostic. Inverted-index self-join on
    the term (the events_type_overlap shape at word grain)."""
    lw = t.documents.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    sizes = lw.groupBy(F.col("lang").alias("l")).agg(F.count(F.lit(1)).alias("n"))
    a = lw.select(F.col("lang").alias("lang_a"), F.col("w").alias("wa"))
    b = lw.select(F.col("lang").alias("lang_b"), F.col("w").alias("wb"))
    inter = (
        a.join(b, (F.col("wa") == F.col("wb")) & (F.col("lang_a") < F.col("lang_b")))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("l").alias("lang_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("l").alias("lang_b"), F.col("n").alias("nb"))
    jac = F.col("common") * 1.0 / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            F.col("common").cast("long").alias("n_common_terms"),
            F.round(jac, 6).alias("vocab_jaccard"),
        )
    )


@query(
    "text_boilerplate_spans",
    oracle="""
    WITH spans AS (
        SELECT DISTINCT doc_id, substr(text, i, 30) AS span
        FROM documents,
             LATERAL (SELECT unnest(generate_series(1, len(text) - 29, 10)) AS i) g
    )
    SELECT span, CAST(count(*) AS BIGINT) AS n_docs
    FROM spans
    GROUP BY span
    HAVING count(*) >= 2
    """,
)
def text_boilerplate_spans(t: Tables) -> DataFrame:
    """Cross-document boilerplate detector: 30-char text spans (sampled
    every 10 chars — stride < length, so any repeated region >= 40 chars
    is guaranteed to contribute at least one aligned span) appearing
    verbatim in 2+ DISTINCT documents — the C4/CCNet line-dedup signal
    (navigation chrome, license footers, template prose repeat verbatim
    across pages; organic text does not). The per-doc DISTINCT is
    load-bearing: repetition INSIDE one doc is text_repetition's
    business, not boilerplate.

    At 100 TB: the span explode is ~len/10 rows per doc and the per-doc
    dedup + doc-count agg share one span-keyed shuffle; in production
    the span is replaced by xxhash64(span) so the shuffle moves 8-byte
    keys (swap documented; kept as text here for the cross-engine
    oracle). The HAVING prunes the giant unique-span tail before
    anything returns.

    Docs shorter than 30 chars produce no spans: DuckDB's
    generate_series(1, len-29, 10) returns empty for them, but Spark's
    sequence() throws 'Illegal sequence boundaries' when the upper bound
    drops below the start — so they must be filtered out BEFORE the
    explode, not handled by it."""
    spans = (
        t.documents.filter(F.length("text") >= 30)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - 29, F.lit(10))
            ).alias("i"),
        )
        .select("doc_id", F.expr("substring(text, i, 30)").alias("span"))
        .distinct()
    )
    return (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "text_code_detect",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[{}();]')) AS BIGINT)
               AS n_code_punct,
           CAST(len(regexp_extract_all(text, '\\b(def|class|return|import|function|var|const)\\b'))
               AS BIGINT) AS n_keywords,
           round(len(regexp_extract_all(text, '[{}();=<>]'))
                 / greatest(len(text), 1), 6) AS code_punct_ratio,
           CASE WHEN len(regexp_extract_all(text, '[{}();=<>]'))
                     / greatest(len(text), 1) > 0.02
                  OR len(regexp_extract_all(text, '\\b(def|class|return|import|function|var|const)\\b')) >= 3
                THEN 1 ELSE 0 END AS looks_like_code
    FROM documents
    """,
)
def text_code_detect(t: Tables) -> DataFrame:
    """Code-likeness scoring per document — the pre-tokenizer routing
    signal (code wants different tokenization, different quality
    filters, and a different mix weight than prose). Signals: code
    punctuation density ({};()=<>), programming-keyword hits, and a
    combined verdict at measured prose-vs-code thresholds (prose sits
    well under 2% code-punct; any real source file is far over).

    Pure codegen projection — three regexp_count passes per row, zero
    shuffles, zero Python. The integer-domain counts are exact on both
    engines; only the ratio rounds."""
    punct = F.regexp_count("text", F.lit("[{}();]")).cast("long")
    punct_eq = F.regexp_count("text", F.lit("[{}();=<>]"))
    kw = F.regexp_count(
        "text", F.lit(r"\b(def|class|return|import|function|var|const)\b")
    ).cast("long")
    ratio = punct_eq / F.greatest(F.length("text"), F.lit(1))
    return t.documents.select(
        "doc_id",
        punct.alias("n_code_punct"),
        kw.alias("n_keywords"),
        F.round(ratio, 6).alias("code_punct_ratio"),
        F.when((ratio > 0.02) | (kw >= 3), 1).otherwise(0).alias("looks_like_code"),
    )


@query(
    "text_bigram_nll",
    oracle="""
    WITH tok AS (
        SELECT doc_id, i, w
        FROM (SELECT doc_id,
                     generate_subscripts(string_split(text, ' '), 1) AS i,
                     unnest(string_split(text, ' ')) AS w
              FROM documents)
    ),
    bg AS (
        SELECT a.doc_id, a.w AS w1, b.w AS w2
        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    bfreq AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
    ufreq AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1),
    vocab AS (SELECT count(DISTINCT w) AS v FROM tok)
    SELECT doc_id,
           CAST(count(*) AS BIGINT)                            AS n_bigrams,
           round(avg(-ln((cb + 1.0) / (cu + v))), 6)           AS avg_nll
    FROM bg JOIN bfreq USING (w1, w2) JOIN ufreq USING (w1) CROSS JOIN vocab
    GROUP BY doc_id
    """,
)
def text_bigram_nll(t: Tables) -> DataFrame:
    """Bigram language-model quality score with add-one smoothing: per
    document, mean −ln P(w2|w1) where P = (C(w1w2)+1)/(C(w1·)+V) — one
    rung up the LM ladder from text_unigram_nll, and the rung that
    actually separates scrambled text from fluent text (unigram NLL is
    permutation-invariant; bigram NLL is exactly what falls apart when
    word ORDER is broken — shuffle a document and its unigram score is
    unchanged while its bigram score collapses to the smoothing floor).

    Plan: bigrams are built IN-ROW (transform over the token array —
    the text_repetition rule, no positional self-join on Spark's side;
    the oracle spells the same pairs via a subscript join, cheap at
    oracle scale). The bigram frequency table joins back on the
    (w1, w2) key — co-partitioned with its own construction — the
    unigram-context counts derive from the SAME bigram stream (C(w1·)
    = Σ_w2 C(w1 w2), no second corpus pass), and V is a 1-row
    broadcast. Docs with < 2 tokens drop out on both sides (no
    bigrams)."""

    toks = F.split("text", " ")
    bg = spread(t.documents, "doc_id").select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),"
                " (w, i) -> struct(w AS w1, element_at(split(text, ' '), i + 2) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bfreq = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    ufreq = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    vocab = (
        t.documents.select(F.explode(toks).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    nll = -F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("v")))
    return (
        bg.join(bfreq, ["w1", "w2"])
        .join(F.broadcast(ufreq), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
        )
    )


@query(
    "text_langid_confusion",
    oracle=f"""
    WITH s AS (
        SELECT lang,
               CASE WHEN len(list_filter(string_split(text, ' '),
                                         w -> w IN {_STOP_SQL})) * 1.0
                         / len(string_split(text, ' ')) >= 0.05
                    THEN 'en' ELSE 'other' END AS pred_lang
        FROM documents
    )
    SELECT lang, pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM s GROUP BY lang, pred_lang
    """,
)
def text_langid_confusion(t: Tables) -> DataFrame:
    """Confusion matrix of the language detector against the labeled
    lang column — the evaluation artifact that turns a classifier from
    'deployed' into 'measured' (per-cell counts feed precision/recall
    directly; a drifting off-diagonal is the retrain alarm). Reuses
    text_langid's exact prediction expression, so the matrix can never
    disagree with the per-document predictions.

    Fixture caveat (same as text_langid_ngram): the synthetic corpus
    text is language-agnostic, so off-diagonal mass here reflects the
    fixture, not detector quality — the OPERATOR contract (shared
    prediction lineage + exact cell counts) is what's checked. Pure
    projection + one tiny hash agg over the label×pred domain."""
    toks = F.split("text", " ")
    ratio = (
        F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
        * F.lit(1.0)
        / F.size(toks)
    )
    return (
        t.documents.select(
            "lang",
            F.when(ratio >= 0.05, "en").otherwise("other").alias("pred_lang"),
        )
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@query(
    "text_hashing_tf",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(md5(w), 1, 8)) AS UBIGINT) % 16
                AS BIGINT)  AS bucket,
           count(*)         AS tf
    FROM words WHERE len(w) > 0
    GROUP BY 1, 2
    """,
)
def text_hashing_tf(t: Tables) -> DataFrame:
    """Hashing-trick term-frequency features (public: Weinberger et al.
    2009, the 'hashing vectorizer'): each token maps to bucket
    h(word) mod 16 with NO vocabulary pass — the property that makes it
    the scalable featurizer (a dictionary TF-IDF needs a full corpus
    scan + a broadcast vocab; this is one stateless projection).
    Emitted long-form as (doc_id, bucket, tf).

    The hash is the engine-neutral trick this key establishes: the
    first 8 hex chars of md5(word) parsed as an integer — Spark
    conv(substr(md5(encode(w)), 1, 8), 16, 10) == DuckDB
    cast('0x' || substr(md5(w), 1, 8) as ubigint), probed equal
    (2565938042 for 'spark'). Unlike xxhash64/murmur (Spark-only) or
    the position-weighted polynomial (text_fingerprint's per-doc sum,
    not per-token), md5 exists with identical semantics in BOTH engines,
    so token-level hash features are driver-hash checkable.

    At 100 TB: explode + one (doc_id, bucket) hash agg with map-side
    partials; nothing global, no vocabulary state. Collisions are the
    method's documented tradeoff (16 buckets here keeps the fixture's
    collision structure visible; production uses 2^18+)."""
    words = t.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.encode("w", "utf-8")), 1, 8), 16, 10).cast("long"),
        F.lit(16),
    )
    return words.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("tf")
    )


@query(
    "tokenizer_bpe_pairs",
    oracle="""
    WITH wc AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ),
    sym AS (
        SELECT w, freq,
               list_append([substr(w, i, 1)
                            FOR i IN generate_series(1, len(w))],
                           '</w>') AS syms
        FROM wc
    ),
    idx AS (
        SELECT freq, syms,
               unnest(generate_series(1, len(syms) - 1)) AS i
        FROM sym
    ),
    pairs AS (
        SELECT syms[i] AS left_sym, syms[i + 1] AS right_sym, freq
        FROM idx
    )
    SELECT left_sym, right_sym, CAST(sum(freq) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY left_sym, right_sym
    ORDER BY pair_count DESC, left_sym, right_sym
    LIMIT 20
    """,
)
def tokenizer_bpe_pairs(t: Tables) -> DataFrame:
    """First BPE merge-selection pass: corpus-wide adjacent symbol-pair
    counts over character sequences with a '</w>' end-of-word marker —
    the statistic a byte-pair-encoding tokenizer trainer computes every
    merge round (Sennrich et al. 2016, public algorithm). Top-20 under
    the total order (count desc, pair asc), so the winning merge and
    ties are deterministic.

    Scale plan — the pass is VOCAB-bounded, not corpus-bounded: one
    word-count hash agg (map-side partials) reduces the corpus to
    distinct words + frequencies; pair generation is an in-row array
    transform over that vocabulary (length ≤ max word length per word,
    weighted by freq) — at 100 TB the exploded pair frame grows with
    vocabulary size, which saturates, while the corpus-sized work stays
    in the one word shuffle. Top-20 plans as TakeOrderedAndProject. A
    full BPE trainer is this pass iterated with re-segmentation — each
    round is the same vocab-bounded shape."""
    wc = (
        t.documents.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = F.expr(
        "concat(transform(sequence(1, length(w)), i -> substring(w, i, 1)),"
        " array('</w>'))"
    )
    pair = F.expr(
        "transform(sequence(1, size(syms) - 1),"
        " i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"
    )
    return (
        wc.select(F.col("freq"), syms.alias("syms"))
        .select("freq", F.explode(pair).alias("p"))
        .groupBy(
            F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
        )
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "left_sym", "right_sym")
        .limit(20)
    )


_PMI_MIN_SUPPORT = 3


@query(
    "text_pmi_cooccur",
    oracle=f"""
    WITH dw AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
        WHERE text <> ''
    ),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dw),
    df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY w),
    pair AS (
        SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS n_docs_pair
        FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
        GROUP BY a.w, b.w
        HAVING count(*) >= {_PMI_MIN_SUPPORT}
    )
    SELECT w1, w2, n_docs_pair, d1.df AS df1, d2.df AS df2,
           round(ln(n_docs_pair * n.n_docs * 1.0 / (d1.df * d2.df)), 6)
               AS pmi
    FROM pair
    JOIN df d1 ON w1 = d1.w
    JOIN df d2 ON w2 = d2.w
    CROSS JOIN n
    """,
)
def text_pmi_cooccur(t: Tables) -> DataFrame:
    """Document-level word co-occurrence with pointwise mutual
    information — collocation mining (Church & Hanks 1990, public
    method): for every unordered word pair appearing together in at
    least _PMI_MIN_SUPPORT (3) documents,
    PMI = ln(P(w1,w2)/(P(w1)P(w2))) under document-frequency
    probabilities.

    Scale plan: pairs are generated IN-ROW per document (nested array
    transform over the sorted distinct words — fan-out bounded by
    words-per-doc², like graph_triangle_count's per-order bound), so
    there is NO doc_id self-join shuffle; one hash agg counts pairs,
    whose key space is vocabulary², which saturates while the corpus
    grows. The df/pair joins run on vocab-bounded frames (broadcast).
    The output SET is decided by exact integer support, and PMI is a
    final 6dp projection of a ratio of exact integers — no float enters
    any ordering or filtering decision."""
    dw = (
        t.documents.filter(F.col("text") != "")
        .select("doc_id", F.array_sort(F.array_distinct(F.split("text", " "))).alias("ws"))
    )
    pairs_inrow = F.expr(
        "flatten(transform(ws, (x, i) ->"
        " transform(slice(ws, i + 2, size(ws)), y -> struct(x AS w1, y AS w2))))"
    )
    pair = (
        dw.select(F.explode(pairs_inrow).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_docs_pair"))
        .filter(F.col("n_docs_pair") >= _PMI_MIN_SUPPORT)
    )
    df = (
        dw.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = dw.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        pair.join(F.broadcast(df.withColumnRenamed("w", "w1").withColumnRenamed("df", "df1")), "w1")
        .join(F.broadcast(df.withColumnRenamed("w", "w2").withColumnRenamed("df", "df2")), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "n_docs_pair",
            "df1",
            "df2",
            F.round(
                F.log(F.col("n_docs_pair") * F.col("n_docs") * 1.0 / (F.col("df1") * F.col("df2"))),
                6,
            ).alias("pmi"),
        )
    )


_BPE_TRAIN_MERGES = 8


@query("tokenizer_bpe_train")  # rows-only: iterative driver-bounded loop
def tokenizer_bpe_train(t: Tables) -> DataFrame:
    """Full BPE merge-table training for _BPE_TRAIN_MERGES rounds — the
    iterated version of tokenizer_bpe_pairs (Sennrich et al. 2016,
    public algorithm): each round counts adjacent symbol pairs over the
    word vocabulary (weighted by word frequency, '</w>' end-of-word
    marker), picks the winning pair under the deterministic total order
    (count desc, then lexicographically smallest pair), and rewrites
    every vocabulary word by merging that pair left-to-right
    non-overlapping. Returns the learned merge table — the artifact a
    tokenizer ships.

    Rows-only by design (iterative; the per-round winner is a 1-row
    bounded collect, the cluster_kmeans scalar pattern) — correctness is
    pinned by tests/test_selfchecks.py, which replays the SAME word
    frequencies through a pure-Python reference BPE and asserts the
    merge tables are IDENTICAL, an exact external oracle stronger than a
    row-count.

    100 TB shape: the corpus is reduced ONCE to the word vocabulary
    (one hash agg with map-side partials); every round after that is
    vocab-bounded — an in-row pair transform + explode (pair rows ≤
    symbols per word), one hash agg, a bounded top-K collect, and one
    in-row fold rewriting the symbol arrays (SQL aggregate() with a
    pend/out accumulator — merged-pair emission, left-to-right — whose
    round batch is a column of data, not SQL text). The
    vocab frame is localCheckpoint'ed per round, so lineage stays flat
    and each round's cost is honest; driver state is ≤ _BPE_TOPK
    (left, right, count) rows per round. r12: merges are BATCHED — the
    longest provably-independent prefix of the ranking merges in one
    rewrite (guard + identity proof in _pick_merge_batch), so 8 merges
    cost ~4 rounds instead of 8 with a bit-identical merge table.
    Vocabulary saturates with corpus growth, so round cost approaches
    a constant as data scales."""
    from base_etl_spark import iterstats

    spark = t.documents.sparkSession
    merges, _, rounds = _bpe_train(t.documents)
    iterstats.record("tokenizer_bpe_train", rounds)

    return local_frame(
        spark, merges,
        "merge_rank int, left_sym string, right_sym string,"
        " merged string, pair_count bigint",
    )


_BPE_TOPK = 24  # ranked pairs collected per round for the batch guard
_BPE_BATCH_TYPE = "array<struct<l: string, r: string, m: string>>"


def _pick_merge_batch(
    ranked: list[tuple[str, str, int]],
    truncated: bool,
    remaining: int,
    merged_strings: set[str],
) -> list[tuple[str, str, str, int]]:
    """Maximal PREFIX of the (count desc, l, r) pair ranking that can be
    merged in ONE vocabulary rewrite while producing a merge table (and
    final vocab) IDENTICAL to the one-merge-per-round sequential
    algorithm. Pure driver arithmetic over the collected top-K rows.

    Why a prefix and not a skip-list: a pair skipped for interacting
    with an earlier accepted pair may still be the next sequential
    winner (its count may NOT actually have changed), so the scan must
    STOP at the first rejection.

    Guards, for candidate p_i = (l_i, r_i, m_i = l_i + r_i) against
    every already-accepted p_j:

    G1 (count invariance + non-overlapping rewrite). Merging (l_j, r_j)
    can only change the counts of pairs of the form (x, l_j) or
    (r_j, y) (those lose "x l_j r_j" / "l_j r_j y" occurrences), or
    pairs involving the new symbol m_j. Everything else — including
    pairs sharing only a left-left or right-right symbol — is
    invariant, and invariance in both directions also implies the
    occurrences of accepted pairs can never overlap in a word, which
    makes the single simultaneous rewrite pass equal to the sequential
    passes. Reject iff r_i == l_j, or l_i == r_j, or any of
    {l_i, r_i, m_i} collides with {m_j} or m_i with {l_j, r_j}.

    G2 (new-pair hazard). The sequential algorithm at p_i's round also
    sees pairs involving m_j that this round's table cannot price. Any
    such pair's count is bounded by H_j = adj_j + msym_j where
    adj_j bounds the NEW occurrences ((x, m_j) <= old (x, l_j);
    (m_j, y) <= old (r_j, y) — read off the collected ranking, floored
    by the K-th count when the ranking is truncated) and msym_j bounds
    the OLD count of a pair involving m_j as a pre-existing symbol.
    msym_j is EXACTLY zero unless m_j is '</w>' or a previously
    accepted merge string: initial symbols are single characters plus
    the marker, so any multi-character symbol in the vocabulary is one
    of those, and m_j (>= 2 chars) can never equal a single character.
    Accept only while cnt_i is STRICTLY greater than every H_j (a tie
    could lose on the lexicographic tiebreak to a pair we cannot see).

    Proven identical to the sequential reference on the fixture
    corpora (3 SFs), the planted overlap/tie corpus, and 40k fuzz
    vocabs over 2-6 symbol alphabets including '</w>'-collision
    alphabets (tests/test_selfchecks.py covers fixtures + planted;
    test_bpe_batch_guard_fuzz replays the guard against the pure-Python
    reference)."""
    floor = ranked[-1][2] if (truncated and ranked) else 0
    batch: list[tuple[str, str, str, int]] = []
    hazards: list[int] = []
    for l, r, c in ranked:
        if len(batch) >= remaining:
            break
        m = l + r
        ok = all(
            r != bl and l != br and l != bm and r != bm
            and m != bl and m != br and m != bm
            for bl, br, bm, _bc in batch
        )
        if ok and any(c <= h for h in hazards):
            ok = False
        if not ok:
            break
        batch.append((l, r, m, c))
        m_existing = m == "</w>" or m in merged_strings
        adj = floor
        msym = floor if m_existing else 0
        for ql, qr, qc in ranked:
            if qr == l or ql == r:
                adj = max(adj, qc)
            if m_existing and (ql == m or qr == m):
                msym = max(msym, qc)
        hazards.append(adj + msym)
    return batch


def _bpe_train(documents: DataFrame):
    """Shared BPE training loop for tokenizer_bpe_train (merge table)
    and tokenizer_bpe_apply (segmentation): returns (merges, vocab,
    rounds) where merges is the list of (rank, left, right, merged,
    count) rows, vocab the final per-word frame (w, freq, syms) after
    all merges were applied, and rounds the number of Spark count+rewrite
    rounds actually run. Full contract in tokenizer_bpe_train's
    docstring.

    r12 (guide §1.2 — the distributed algorithm first): merges are
    BATCHED. Each round collects the top-K pair ranking instead of the
    1-row argmax and merges the longest provably-independent prefix
    (_pick_merge_batch) in one rewrite, so the 8 merges need ~4
    count+rewrite rounds on the fixture corpora instead of 8 — half
    the driver round-trips and half the vocab rewrites, with a merge
    table and final vocab guaranteed IDENTICAL to the sequential
    algorithm (guard + proof sketch in _pick_merge_batch)."""
    syms0 = F.expr(
        "concat(transform(sequence(1, length(w)), i -> substring(w, i, 1)),"
        " array('</w>'))"
    )
    # r11 (guide §1.2 — fewer driver round-trips): every checkpoint in
    # this loop is LAZY (eager=False). Each round's 1-row argmax collect
    # is the job that materializes the previous round's rewritten vocab,
    # so the loop runs ONE Spark job per merge instead of two (eager
    # checkpoint + collect), and the final rewrite after the last merge
    # is never materialized at all unless a consumer (bpe_apply) reads
    # it. Safe because each checkpointed frame is referenced exactly
    # once by the next action (the pair-count agg), which persists it
    # before the round's rewrite references it again.
    vocab = (
        documents.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("w", "freq", syms0.alias("syms"))
        .localCheckpoint(eager=False)
    )
    # size(syms) can reach 1 once a word is fully merged — and Spark's
    # sequence(1, 0) DESCENDS ([1, 0]), driving element_at to index 0.
    # Guard with an explicitly-typed empty array.
    pair = F.expr(
        "CASE WHEN size(syms) >= 2 THEN"
        " transform(sequence(1, size(syms) - 1),"
        "  i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"
        " ELSE CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>) END"
    )
    # left-to-right non-overlapping merge: fold with a 1-symbol
    # lookbehind ('pend'). The round's batch reaches the fold as data, a
    # `_batch` column parsed from a JSON literal, so the fold is one
    # constant expression parsed once and symbol text is never spliced
    # into SQL (variable substitution would rewrite a symbol like
    # '${x}'). One pass applies EVERY pair in the batch: the guard
    # guarantees batch pairs never share an occurrence symbol (G1 in
    # _pick_merge_batch), so "pend matches some l_i and s matches that
    # pair's r_i" fires for at most one pair per step and the single
    # pass equals the sequential per-pair passes.
    hit = "filter(_batch, b -> b.l = a.pend AND b.r = s)"
    fold = F.expr(
        "aggregate(syms,"
        " named_struct('out', CAST(array() AS ARRAY<STRING>), 'pend', CAST(NULL AS STRING)),"
        " (a, s) -> CASE"
        "  WHEN a.pend IS NULL THEN named_struct('out', a.out, 'pend', s)"
        f"  WHEN size({hit}) > 0 THEN named_struct("
        f"   'out', concat(a.out, array(element_at({hit}, 1).m)), 'pend', CAST(NULL AS STRING))"
        "  ELSE named_struct('out', concat(a.out, array(a.pend)), 'pend', s) END,"
        " a -> CASE WHEN a.pend IS NULL THEN a.out ELSE concat(a.out, array(a.pend)) END)"
    ).alias("syms")

    merges: list[tuple[int, str, str, str, int]] = []
    merged_strings: set[str] = set()
    rounds = 0
    while len(merges) < _BPE_TRAIN_MERGES:
        # top-(K+1) by the same total order the 1-row argmax used
        # ((count desc, l, r)); the +1 row only tells the guard whether
        # the ranking was truncated. TakeOrderedAndProject: partial
        # per-partition top-K, never a global sort.
        ranked_rows = (
            vocab.select("freq", F.explode(pair).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(_BPE_TOPK + 1)
            .collect()
        )
        if not ranked_rows:  # no pairs left (or empty corpus)
            break
        truncated = len(ranked_rows) > _BPE_TOPK
        ranked = [(w.l, w.r, int(w.cnt)) for w in ranked_rows[:_BPE_TOPK]]
        batch = _pick_merge_batch(
            ranked, truncated, _BPE_TRAIN_MERGES - len(merges), merged_strings
        )
        for left, right, merged, cnt in batch:
            merges.append((len(merges) + 1, left, right, merged, cnt))
            merged_strings.add(merged)
        batch_json = json.dumps([{"l": l, "r": r, "m": m} for l, r, m, _c in batch])
        vocab = (
            vocab.withColumn("_batch", F.from_json(F.lit(batch_json), _BPE_BATCH_TYPE))
            .select("w", "freq", fold)
            .localCheckpoint(eager=False)
        )
        rounds += 1
    return merges, vocab, rounds


@query("tokenizer_bpe_apply")  # rows-only: consumes the iterative trainer
def tokenizer_bpe_apply(t: Tables) -> DataFrame:
    """Corpus segmentation under the learned BPE merge table — the
    consumer half of tokenizer_bpe_train: every document's words are
    tokenized by the final vocabulary state (the per-word symbol arrays
    AFTER all _BPE_TRAIN_MERGES merges), and each language reports its
    token economics: word occurrences, BPE tokens, characters, tokens
    per word, and characters per token (the compression dial a
    tokenizer budget review reads). Rows-only (inherits the trainer's
    iterative loop); the pure-Python reference in tests replays
    train+apply end-to-end and requires identical per-language totals.

    100 TB shape: training is vocab-bounded (see _bpe_train); the apply
    pass explodes doc words ONCE and joins the (word -> token count)
    table on the word key — vocabulary-sized, so AQE broadcasts it
    while it fits and falls back to a co-partitioned shuffle join when
    a web-scale vocab outgrows memory; the per-language rollup is a
    5-group hash agg. No per-round work touches the corpus."""
    from base_etl_spark import iterstats

    merges, vocab, rounds = _bpe_train(t.documents)
    iterstats.record("tokenizer_bpe_apply", rounds)
    tok = vocab.select(
        "w",
        F.size("syms").cast("long").alias("n_tokens_word"),
        (F.length("w")).cast("long").alias("n_chars_word"),
    )
    words = (
        t.documents.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    per = words.join(tok, "w").groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_tokens_word").cast("long").alias("n_tokens"),
        F.sum("n_chars_word").cast("long").alias("n_chars"),
    )
    return per.select(
        "lang",
        "n_words",
        "n_tokens",
        "n_chars",
        F.round(F.col("n_tokens") * 1.0 / F.col("n_words"), 6).alias("tokens_per_word"),
        F.round(F.col("n_chars") * 1.0 / F.col("n_tokens"), 6).alias("chars_per_token"),
    )


_CHUNK_W = 32   # words per chunk
_CHUNK_S = 24   # stride (8-word overlap)


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    idx AS (
        SELECT doc_id, n, CAST(i AS BIGINT) AS chunk_idx,
               array_to_string(
                   ws[(CAST(i AS BIGINT)*{_CHUNK_S}+1):
                      (CAST(i AS BIGINT)*{_CHUNK_S}+{_CHUNK_W})], ' ') AS chunk
        FROM w, LATERAL (SELECT unnest(range(
            CASE WHEN n <= {_CHUNK_W} THEN 1
                 ELSE (n - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S} + 1 END
        )) AS i) g
    )
    SELECT doc_id, chunk_idx,
           CAST(len(string_split(chunk, ' ')) AS INT) AS n_words,
           sha256(chunk) AS chunk_hash
    FROM idx
    """,
)
def text_chunk_overlap(t: Tables) -> DataFrame:
    """Overlapping-window chunking ({_CHUNK_W}-word chunks, stride
    {_CHUNK_S} = 8-word overlap) — the retrieval/embedding prep pass
    that turns documents into index units (every RAG pipeline runs
    this before the embedding stage; pack_sequences is the training
    twin that packs WITHOUT overlap). Chunk count per doc is
    ceil((n−w)/s)+1 with a single chunk for short docs (the final
    partial window is kept — dropping it loses document tails). Emits
    (doc_id, chunk_idx, n_words, sha256(chunk)): the hash column makes
    chunk-level dedup (dedup_spans' contract) a groupBy away and lets
    the driver verify the exact chunk TEXT without shipping it.

    Plan: pure in-row expansion (sequence → transform → explode) — no
    shuffle at all; the only exchange in the plan is whatever the sink
    needs. Output rows ≈ corpus_words/stride. At 100 TB this is the
    shape you want: chunking is a projection, embarrassingly parallel,
    and the downstream embed/index stages repartition as they see
    fit."""
    toks = F.split("text", " ")
    n = F.size(toks)
    n_chunks = F.when(n <= _CHUNK_W, F.lit(1)).otherwise(
        F.ceil((n - _CHUNK_W) / F.lit(_CHUNK_S)) + 1
    )
    chunk = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(toks, i * _CHUNK_S + 1, _CHUNK_W)
    )
    return (
        t.documents.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks.cast("int") - 1),
                    lambda i: F.struct(
                        i.cast("long").alias("chunk_idx"),
                        chunk(i).alias("chunk"),
                    ),
                )
            ).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.size(F.split("c.chunk", " ")).alias("n_words"),
            F.sha2("c.chunk", 256).alias("chunk_hash"),
        )
    )


@query(
    "text_burstiness",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    s AS (
        SELECT term,
               CAST(count(*) AS BIGINT)  AS df,
               CAST(sum(tf) AS BIGINT)   AS ctf,
               sum(tf * tf)              AS s2
        FROM tf GROUP BY term
    )
    SELECT term, df, ctf,
           round(ctf * 1.0 / n.n_docs, 6) AS mean_tf,
           round((s2 * 1.0 / n.n_docs - pow(ctf * 1.0 / n.n_docs, 2))
                 / (ctf * 1.0 / n.n_docs), 6) AS fano
    FROM s CROSS JOIN n
    """,
)
def text_burstiness(t: Tables) -> DataFrame:
    """Per-term burstiness (Fano factor = variance/mean of the per-doc
    count, zeros included): the corpus-linguistics signal that separates
    topical terms (bursty — absent from most docs, dense where present,
    Fano >> 1) from function words (evenly sprinkled, Fano near 1 - p).
    Used to pick dedup shingle vocabularies and boilerplate candidates:
    a high-ctf LOW-Fano term carries no document identity.

    The zeros never materialize: with mean m = ctf/N, the population
    variance over all N docs is sum(tf^2)/N - m^2 (absent docs
    contribute 0 to the square sum), so the statistic comes from the
    (doc, term) count frame alone. Two map-side-combined hash aggs
    (doc x term, then term) + the 1-row corpus-size scalar broadcast —
    the text_tfidf plan family; output is vocabulary-bounded."""
    tok = t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    s = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("ctf"),
        F.sum(F.col("tf") * F.col("tf")).alias("s2"),
    )
    m = F.col("ctf") * 1.0 / F.col("n_docs")
    return s.crossJoin(F.broadcast(n_docs)).select(
        "term",
        "df",
        "ctf",
        F.round(m, 6).alias("mean_tf"),
        F.round((F.col("s2") * 1.0 / F.col("n_docs") - m * m) / m, 6).alias("fano"),
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    seq AS (
        SELECT doc_id,
               w || ' ' || lead(w) OVER win || ' ' || lead(w, 2) OVER win AS g
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    dg AS (SELECT DISTINCT doc_id, g FROM seq WHERE g IS NOT NULL),
    f AS (SELECT g, min(doc_id) AS first_doc FROM dg GROUP BY g)
    SELECT dg.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
                AS BIGINT)          AS n_novel,
           round(sum(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS novelty_ratio
    FROM dg JOIN f USING (g)
    GROUP BY dg.doc_id
    """,
)
def text_ngram_novelty(t: Tables) -> DataFrame:
    """Per-document trigram novelty: the share of a doc's DISTINCT
    3-grams first seen in THIS doc under doc_id order — the curation
    signal that separates fresh content from recombinations of already-
    ingested text (low novelty late in a crawl = boilerplate or near-dup
    tail; the incremental twin of dedup_containment, at n-gram rather
    than span granularity). First-occurrence attribution by min(doc_id)
    is deterministic and order-free.

    Scale: trigrams are built IN-ROW (the text_ngram_topk transform —
    no posexplode self-join); then one (doc, gram) distinct, one
    min-aggregate per gram (map-side combined, key space bounded by
    vocab^3 not corpus size), one join back on gram, one per-doc agg.
    All shuffles keyed on gram or doc_id."""
    words = F.split(F.col("text"), " ")
    tris = F.expr(
        "transform(sequence(0, size(ws) - 3),"
        " i -> concat_ws(' ', element_at(ws, i + 1), element_at(ws, i + 2),"
        " element_at(ws, i + 3)))"
    )
    dg = (
        t.documents.select("doc_id", words.alias("ws"))
        .filter(F.size("ws") >= 3)
        .select("doc_id", F.explode(tris).alias("g"))
        .distinct()
    )
    f = dg.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        dg.join(f, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") * 1.0 / F.col("n_grams"), 6).alias("novelty_ratio"),
        )
    )


@query(
    "text_heaps_law",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    doc_tokens AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
        FROM tok GROUP BY doc_id
    ),
    firsts AS (
        SELECT min(doc_id) AS first_doc FROM tok GROUP BY term
    ),
    new_terms AS (
        SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_new
        FROM firsts GROUP BY first_doc
    ),
    curve AS (
        SELECT d.doc_id,
               sum(d.n_tokens) OVER (ORDER BY d.doc_id)          AS cum_tokens,
               sum(coalesce(nt.n_new, 0)) OVER (ORDER BY d.doc_id) AS cum_vocab
        FROM doc_tokens d LEFT JOIN new_terms nt USING (doc_id)
    )
    SELECT CAST(count(*) AS BIGINT)                              AS n_docs,
           CAST(max(cum_tokens) AS BIGINT)                       AS total_tokens,
           CAST(max(cum_vocab) AS BIGINT)                        AS vocab_size,
           round(regr_slope(ln(cum_vocab), ln(cum_tokens)), 6)   AS heaps_beta,
           round(exp(regr_intercept(ln(cum_vocab), ln(cum_tokens))), 6) AS heaps_k,
           round(regr_r2(ln(cum_vocab), ln(cum_tokens)), 6)      AS r2
    FROM curve
    """,
)
def text_heaps_law(t: Tables) -> DataFrame:
    """Heaps'-law fit V(n) = K·n^beta of vocabulary growth against
    corpus size — the companion diagnostic to text_zipf_fit: a crawl
    whose beta collapses toward 0 has stopped contributing new
    vocabulary (saturation / duplication), while beta near the
    English-corpus 0.4-0.6 band means the source is still fresh. The
    growth curve needs RUNNING DISTINCT vocabulary — impossible as a
    distributed window directly — so it is rebuilt exactly from
    first-occurrence attribution: each term charges doc min(doc_id),
    making cumulative vocabulary a plain running sum (the
    text_ngram_novelty trick applied to the growth curve). Log-log OLS
    via the single-pass regr_* aggregates (agg_regression family).

    Scale: token first-occurrence is a vocab-bounded min-agg; the
    running sums order by doc_id over the COLLAPSED per-doc frame
    (|docs| rows — declared exact tier; the two-phase rank rewrite
    applies at billions of docs); the fit is one agg over that frame."""
    tok = t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    doc_tokens = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    new_terms = (
        tok.groupBy("term")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        doc_tokens.join(new_terms, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
            F.sum(F.coalesce("n_new", F.lit(0))).over(w).alias("cum_vocab"),
        )
    )
    lv, lt = F.log("cum_vocab"), F.log("cum_tokens")
    return curve.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("cum_tokens").cast("long").alias("total_tokens"),
        F.max("cum_vocab").cast("long").alias("vocab_size"),
        F.round(F.regr_slope(lv, lt), 6).alias("heaps_beta"),
        F.round(F.exp(F.regr_intercept(lv, lt)), 6).alias("heaps_k"),
        F.round(F.regr_r2(lv, lt), 6).alias("r2"),
    )


def _quality_survivor_oracle() -> str:
    """Composed from dedup_clusters' recursive-CTE oracle and
    text_quality's score oracle (the sim_recall_at_k composition
    pattern), so the survivor policy cannot drift from what either
    parent certifies."""
    from base_etl_spark.registry import REGISTRY

    clusters = REGISTRY["dedup_clusters"].oracle
    quality = REGISTRY["text_quality"].oracle
    return f"""
    WITH c AS (SELECT * FROM ({clusters}) x),
    q AS (SELECT doc_id, quality FROM ({quality}) y),
    j AS (
        SELECT c.canonical_id, c.doc_id, q.quality,
               row_number() OVER (PARTITION BY c.canonical_id
                                  ORDER BY q.quality DESC, c.doc_id) AS rn
        FROM c JOIN q USING (doc_id)
    )
    SELECT canonical_id                              AS cluster_id,
           CAST(count(*) AS BIGINT)                  AS n_docs,
           CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
                                                     AS survivor_doc_id,
           round(max(CASE WHEN rn = 1 THEN quality END), 6)
                                                     AS survivor_quality,
           round(max(CASE WHEN doc_id = canonical_id THEN quality END), 6)
                                                     AS keep_first_quality
    FROM j GROUP BY canonical_id
    """


@query("dedup_quality_survivor", oracle=_quality_survivor_oracle())
def dedup_quality_survivor(t: Tables) -> DataFrame:
    """Quality-aware survivor selection per near-dup cluster — the
    policy layer on top of dedup_clusters: instead of the mechanical
    keep-lowest-id, keep the member with the HIGHEST quality score
    (text_quality's C4/Gopher-family heuristic; ties break to the
    lower id), which is what a training-corpus pipeline actually wants
    when a cluster mixes a clean original with truncated or
    boilerplate-padded mirrors. Emits both the chosen survivor's
    quality and the keep-first baseline's quality, so the value of the
    policy (quality delta) is read straight off the report. Both
    parents are reused verbatim (tables_fn on the Spark side, oracle
    composition on the DuckDB side).

    Scale: the cluster frame is near-dup-bounded; one doc_id-keyed
    join attaches quality, one cluster-keyed window picks rank 1 —
    partitions are cluster-sized."""
    from base_etl_spark.registry import REGISTRY

    clusters = REGISTRY["dedup_clusters"].fn.tables_fn(t)
    quality = REGISTRY["text_quality"].fn.tables_fn(t).select("doc_id", "quality")
    j = clusters.join(quality, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("canonical_id").orderBy(
                F.desc("quality"), F.asc("doc_id")
            )
        ),
    )
    return j.groupBy(F.col("canonical_id").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
        .cast("long")
        .alias("survivor_doc_id"),
        F.round(F.max(F.when(F.col("rn") == 1, F.col("quality"))), 6).alias(
            "survivor_quality"
        ),
        F.round(
            F.max(F.when(F.col("doc_id") == F.col("canonical_id"), F.col("quality"))), 6
        ).alias("keep_first_quality"),
    )
