"""End-to-end training-corpus cleaning pipeline (SURVEY §2.10 composite).

Chains the four standard cleaning stages over `documents` in one
auditable pass — language ID, quality scoring, exact dedup, near-dup
drop — and emits a verdict per document instead of silently dropping
rows, which is how production corpus pipelines stay debuggable (every
removal is attributable to a stage).

Stage rules reuse the SAME expressions as the standalone operators
(text_langid, text_quality, dedup_exact, dedup_near_jaccard), so the
composite is consistent with its parts by construction.

100 TB shape: the scoring stages are pure projections (no shuffle); the
exact-dup stage shuffles once on the 32-byte content hash; the near-dup
stage reuses the inverted-index pair join (minhash LSH is the scale tier
for that stage — see llm_dedup). Verdict assembly is a broadcast-size
left join on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from base_etl_spark.io import Tables, spread
from base_etl_spark.registry import query
from base_etl_spark.operators.llm_dedup import (
    _JACCARD_ORACLE,
    _shingle_jaccard_pairs,
    dedup_near_minhash,
)
from base_etl_spark.operators.llm_text import _STOPWORDS, _STOP_SQL

_Q_MIN = 0.7  # quality floor (fails ~12% of lang-passing fixture docs)
_STOP_MIN = 0.05  # langid stopword-ratio floor (same rule as text_langid)


@query(
    "etl_corpus_clean",
    oracle=f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    near_drops AS (SELECT DISTINCT doc_b FROM pairs),
    s AS (
        SELECT doc_id, n_chars,
               len(string_split(text, ' '))  AS n_tok,
               len(list_filter(string_split(text, ' '), w -> w IN {_STOP_SQL})) AS n_stop,
               len(list_filter(string_split(text, ' '), w -> len(w) >= 8))      AS n_long,
               len(regexp_extract_all(text, '[0-9]'))                           AS n_digit,
               row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id)    AS rn
        FROM documents
    ),
    q AS (
        SELECT doc_id, n_tok, rn,
               n_stop * 1.0 / n_tok AS stop_ratio,
               round(least(n_tok / 50.0, 1.0) * 0.4
                     + least(n_stop * 1.0 / n_tok / 0.1, 1.0) * 0.3
                     + (1.0 - n_digit * 1.0 / n_chars) * 0.2
                     + least(n_long * 1.0 / n_tok / 0.2, 1.0) * 0.1, 6) AS quality
        FROM s
    )
    SELECT doc_id, n_tok, quality,
           CASE WHEN stop_ratio < {_STOP_MIN} THEN 'lang'
                WHEN quality < {_Q_MIN}       THEN 'quality'
                WHEN rn > 1                   THEN 'exact_dup'
                WHEN doc_id IN (SELECT doc_b FROM near_drops) THEN 'near_dup'
                ELSE 'keep' END AS verdict
    FROM q
    """,
)
def etl_corpus_clean(t: Tables) -> DataFrame:
    """Per-document cleaning verdict: first failing stage wins.

    lang      — stopword ratio < 0.05 (text_langid's 'other' rule)
    quality   — combined score < 0.7 (text_quality's formula, rounded to
                6dp BEFORE the comparison on both engines so the
                threshold can't flip on representation)
    exact_dup — not the lowest doc_id of its sha256(text) class
    near_dup  — has a lower-doc_id near-dup partner at Jaccard >= 0.6
                (greedy pairwise rule: cheap key-joins; dedup_clusters is
                the cluster-exact variant when transitive grouping is
                required)
    keep      — everything else.
    """
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
    n_long = F.size(F.filter(toks, lambda w: F.length(w) >= 8))
    n_digit = F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0))
    n_chars = F.col("n_chars")
    stop_ratio = n_stop * F.lit(1.0) / n_tok
    quality = F.round(
        F.least(n_tok / F.lit(50.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio / 0.1, F.lit(1.0)) * 0.3
        + (F.lit(1.0) - n_digit * F.lit(1.0) / n_chars) * 0.2
        + F.least(n_long * F.lit(1.0) / n_tok / 0.2, F.lit(1.0)) * 0.1,
        6,
    )
    scored = t.documents.select(
        "doc_id",
        n_tok.alias("n_tok"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
        F.row_number()
        .over(Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id"))
        .alias("rn"),
    )
    near_drops = (
        _shingle_jaccard_pairs(t).select(F.col("doc_b").alias("doc_id")).distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    return (
        scored.join(near_drops, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            "quality",
            F.when(F.col("stop_ratio") < _STOP_MIN, "lang")
            .when(F.col("quality") < _Q_MIN, "quality")
            .when(F.col("rn") > 1, "exact_dup")
            .when(F.col("is_near_dup"), "near_dup")
            .otherwise("keep")
            .alias("verdict"),
        )
    )


# per-language keep percentage for the deterministic sampler: upsample
# nothing, keep all English, halve the mid-resource langs, quarter zh —
# the language-rebalancing step of a training-data mix
_SAMPLE_PCT = {"en": 100, "de": 50, "fr": 50, "es": 50, "zh": 25}
_KNUTH = 2654435761  # Knuth multiplicative hash constant (2^32 * phi)


@query(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source,
           (doc_id * {_KNUTH}) % 100 AS bucket
    FROM documents
    WHERE (doc_id * {_KNUTH}) % 100 <
          CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _SAMPLE_PCT.items())}
               ELSE 100 END
    """,
)
def sample_stratified(t: Tables) -> DataFrame:
    """Deterministic stratified sampling by language: keep a doc iff its
    hash bucket falls under the stratum's percentage.

    The bucket is a multiplicative hash of doc_id — engine-neutral integer
    arithmetic (unlike rand()/sampleBy, which are seed- and
    partitioning-dependent), so the sample is REPRODUCIBLE: re-running on
    the same corpus keeps exactly the same rows, which is what a
    training-data pipeline needs for auditable mixes. Pure projection +
    filter in one scan — no shuffle (the predicate is arithmetic over
    doc_id, so it evaluates post-scan, but column pruning still reaches
    the reader); no overflow (doc_id * 2^32-ish stays far below 2^63 at
    any realistic corpus id range)."""
    bucket = F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(100))
    pct = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _SAMPLE_PCT.items()],
        F.lit(100),
    )
    return (
        t.documents.select("doc_id", "lang", "source", bucket.alias("bucket"), pct.alias("pct"))
        .filter(F.col("bucket") < F.col("pct"))
        .drop("pct")
    )


#: sources whose documents form the held-out benchmark for contamination
_BENCH_SOURCES = ("src0", "src1")

_SHINGLE_CTE = """
    t AS (
        SELECT doc_id, source,
               generate_subscripts(string_split(text, ' '), 1) AS i,
               unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, source,
               w || ' ' || lead(w) OVER win || ' ' || lead(w, 2) OVER win AS s
        FROM t WINDOW win AS (PARTITION BY doc_id ORDER BY i)
    ),
    sh2 AS (SELECT doc_id, source, s FROM sh WHERE s IS NOT NULL)
"""


@query(
    "text_contamination",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    bench AS (
        SELECT DISTINCT s FROM sh2
        WHERE source IN {_BENCH_SOURCES!r}
    )
    SELECT t.doc_id,
           count(*)                                   AS n_shingles,
           count(b.s)                                 AS n_contaminated,
           round(count(b.s) * 1.0 / count(*), 6)      AS contamination
    FROM sh2 t LEFT JOIN bench b ON t.s = b.s
    WHERE t.source NOT IN {_BENCH_SOURCES!r}
    GROUP BY t.doc_id
    """,
)
def text_contamination(t: Tables) -> DataFrame:
    """Benchmark-contamination score: for every TRAIN document, the
    fraction of its distinct 3-word shingles that also appear anywhere in
    the held-out BENCHMARK partition (sources src0/src1 stand in for an
    eval suite). The decontamination step every serious LLM training
    pipeline runs before training — docs with high overlap get dropped or
    audited.

    100 TB shape: the benchmark shingle set is tiny relative to the train
    corpus (eval suites are MBs, corpora are TBs), so it BROADCASTS and
    the train side streams through one scan + one groupBy(doc_id) —
    which co-partitions with the shingle explode exactly like the dedup
    operators (same io.spread doc_id key). No shuffle ever carries the corpus
    text, only (doc_id, shingle-count) aggregates."""
    from base_etl_spark.operators.llm_dedup import _shingles

    sh = spread(t.documents, "doc_id").select(
        "doc_id", "source", F.explode(F.array_distinct(_shingles())).alias("s")
    )
    bench = F.broadcast(
        sh.filter(F.col("source").isin(*_BENCH_SOURCES)).select("s").distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = sh.filter(~F.col("source").isin(*_BENCH_SOURCES))
    return (
        train.join(bench, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
            F.round(F.count("_hit") * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "contamination"
            ),
        )
    )


# train/val/test cut points over the 100-bucket hash space
_SPLIT_TRAIN, _SPLIT_VAL = 80, 90


@query(
    "etl_train_split",
    oracle=f"""
    SELECT CASE WHEN (doc_id * {_KNUTH}) % 100 < {_SPLIT_TRAIN} THEN 'train'
                WHEN (doc_id * {_KNUTH}) % 100 < {_SPLIT_VAL}   THEN 'val'
                ELSE 'test' END                     AS split,
           lang,
           count(*)                                 AS n_docs,
           CAST(sum(n_chars) AS BIGINT)             AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def etl_train_split(t: Tables) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by multiplicative
    hash of doc_id, summarized per (split, lang). Same engine-neutral
    bucket arithmetic as sample_stratified: the split is a pure projection
    (no rand(), no shuffle for the assignment itself), reproducible across
    engines and re-runs, and stable under corpus growth — existing docs
    never change split when new docs arrive, unlike percentile- or
    row_number-based splits which reshuffle everything."""
    bucket = F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(100))
    split = (
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    return (
        t.documents.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_SAMPLE_K = 100
_BIG_PRIME = 1_000_000_007


@query(
    "sample_exact_k",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    ORDER BY (doc_id * {_KNUTH}) % {_BIG_PRIME}, doc_id
    LIMIT {_SAMPLE_K}
    """,
)
def sample_exact_k(t: Tables) -> DataFrame:
    """Deterministic exact-k sample: rank every row by a multiplicative
    hash and keep the k smallest — the reproducible replacement for
    reservoir sampling when you need a FIXED-SIZE audit/eval subset
    (df.sample() is probabilistic in size AND partitioning-dependent;
    this is neither).

    Scale shape: Spark plans TakeOrderedAndProject — each partition keeps
    its local top-k and only k rows per partition reach the driver-side
    merge; no global sort, no full shuffle, same plan family as
    topk_orders (plan-asserted). The hash ranking is engine-neutral
    integer arithmetic, so the same k rows come back on any engine and
    any re-run. Total order via doc_id tie-break."""
    rank = F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(_BIG_PRIME))
    return (
        t.documents.select("doc_id", "lang", "source", rank.alias("_r"))
        .orderBy("_r", "doc_id")
        .limit(_SAMPLE_K)
        .drop("_r")
    )


@query(
    "sample_weighted",
    oracle=f"""
    SELECT doc_id, lang, n_chars,
           round(-ln((((doc_id % {_BIG_PRIME}) * {_KNUTH}) % {_BIG_PRIME} + 1)
                     / {float(_BIG_PRIME + 1)!r})
                 / CAST(n_chars AS DOUBLE), 8) AS priority
    FROM documents
    WHERE n_chars > 0
    ORDER BY priority, doc_id
    LIMIT {_SAMPLE_K}
    """,
)
def sample_weighted(t: Tables) -> DataFrame:
    """Deterministic weighted exact-k sample (Efraimidis–Spirakis
    exponential race, weight = n_chars): each doc draws a reproducible
    uniform u from a multiplicative id hash and competes with priority
    -ln(u)/w — the k SMALLEST priorities are a weighted-without-
    replacement sample (equivalent to the classic "k largest u^(1/w)"
    keys). This is how a corpus is subsampled length-proportionally for
    eval/mixture work while staying bit-reproducible across engines,
    runs, and re-analysis — df.sample() can do none of that.

    Engine-neutral arithmetic: the inner hash is pure int64 (doc_id is
    reduced mod p BEFORE the Knuth multiply, so the product never
    exceeds 2^63 at any amplified id range); only the final -ln(u)/w is
    float, and both engines round it to 8 dp before it becomes the sort
    key, so libm ulp drift cannot reorder the race. Zero-weight (empty)
    docs are excluded EXPLICITLY on both sides — the E-S limit for w=0
    is "never sampled", but the engines' x/0 disagree on how to say so
    (Spark SQL divide-by-zero -> NULL, which sorts FIRST ascending;
    DuckDB IEEE -> +inf, which sorts last — a fuzz-wave find, not a
    theoretical one). u < 1 strictly (hash mod p < p), so -ln(u) > 0
    and 0/0 cannot occur for the surviving rows.

    Scale shape: identical to sample_exact_k — TakeOrderedAndProject
    (per-partition top-k, k-row driver merge), no global sort, no
    shuffle. Plan-asserted alongside it."""
    u = (
        F.pmod(F.pmod(F.col("doc_id"), F.lit(_BIG_PRIME)) * F.lit(_KNUTH), F.lit(_BIG_PRIME))
        + F.lit(1)
    ) / F.lit(float(_BIG_PRIME + 1))
    prio = F.round(-F.log(u) / F.col("n_chars").cast("double"), 8)
    return (
        t.documents.filter(F.col("n_chars") > 0)
        .select("doc_id", "lang", "n_chars", prio.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(_SAMPLE_K)
    )


_PACK_BUDGET = 2048  # tokens per training sequence (context window)


@query(
    "pack_sequences",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS start
        FROM tk
    )
    SELECT doc_id, n_tokens,
           CAST(start // {_PACK_BUDGET} AS BIGINT) AS bin_id,
           CAST(start % {_PACK_BUDGET} AS BIGINT)  AS bin_offset
    FROM c
    """,
)
def pack_sequences(t: Tables) -> DataFrame:
    """Sequence packing for training batches: concatenate documents in
    doc_id order and chunk the token stream into fixed {budget}-token
    context windows. Each doc's placement is (bin_id, bin_offset) of its
    first token — the standard concat-then-split packing (a doc may
    straddle a boundary; the split point is implied by offset + length).
    Deterministic: placement depends only on the corpus, not on
    parallelism.

    100 TB shape — a global ordered cumsum WITHOUT a global window: the
    exclusive prefix sum is two-phase (the sort_multikey pattern).
    (1) bucket docs by a monotone range of doc_id (width from one
    broadcast max-id scalar, ~one bucket per core), (2) local cumsum via
    a window hash-partitioned by bucket, (3) broadcast the per-bucket
    total cumsum (<= parallelism rows) and add. The only
    single-partition work is the bucket-offsets table; output is
    invariant to the bucket count."""
    n_buckets = t.documents.sparkSession.sparkContext.defaultParallelism
    toks = t.documents.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    bounds = toks.agg(F.max("doc_id").alias("max_id"))
    width = F.floor(F.col("max_id") / F.lit(n_buckets)) + 1
    b = toks.crossJoin(F.broadcast(bounds)).withColumn(
        "bucket", F.floor(F.col("doc_id") / width)
    )
    local_w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = b.withColumn(
        "local_start", F.coalesce(F.sum("n_tokens").over(local_w), F.lit(0))
    )
    # <= n_buckets rows: the bounded single-partition leg
    off_w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        b.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bucket_total"))
        .select(
            "bucket",
            F.coalesce(F.sum("bucket_total").over(off_w), F.lit(0)).alias("bucket_off"),
        )
    )
    start = F.col("bucket_off") + F.col("local_start")
    return local.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "n_tokens",
        F.floor(start / _PACK_BUDGET).cast("long").alias("bin_id"),
        (start % _PACK_BUDGET).cast("long").alias("bin_offset"),
    )


@query(
    "corpus_mix_weights",
    oracle="""
    WITH s AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
               count(*) AS n_sources
        FROM s
    )
    SELECT source, n_docs, src_tokens,
           round(src_tokens * 1.0 / total_tokens, 6) AS token_share,
           round((1.0 / n_sources) / (src_tokens * 1.0 / total_tokens), 6)
               AS mix_weight
    FROM s CROSS JOIN tot
    """,
)
def corpus_mix_weights(t: Tables) -> DataFrame:
    """Domain-mixing report: per-source token share and the resampling
    weight that flattens the corpus to a uniform source mix
    (weight = target_share / actual_share with a uniform target — feed a
    non-uniform target vector in deployment). Sampling at rate
    min(1, w * r) per source then realizes the mix at global rate r.

    One partial+final hash agg on source plus a broadcast of the 1-row
    totals — the same scalar-broadcast shape as text_tfidf's corpus
    size. Exact integer token counts; only the final ratios are
    floating-point (6dp round on both sides)."""
    s = t.documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("src_tokens"),
    )
    tot = s.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    share = F.col("src_tokens") * F.lit(1.0) / F.col("total_tokens")
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "src_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(F.lit(1.0) / F.col("n_sources") / share, 6).alias("mix_weight"),
    )


@query(
    "etl_split_leakage",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS i,
               unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               w || ' ' || lead(w) OVER win || ' ' || lead(w, 2) OVER win AS s
        FROM t WINDOW win AS (PARTITION BY doc_id ORDER BY i)
    ),
    sh2 AS (SELECT doc_id, s FROM sh WHERE s IS NOT NULL),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    dup_pairs AS (
        SELECT doc_a, doc_b FROM pairs
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE common * 1.0 / (sa.n + sb.n - common) >= {{theta}}
    ),
    sp AS (
        SELECT doc_id,
               CASE WHEN (doc_id * {{knuth}}) % 100 < {{tr}} THEN 'train'
                    WHEN (doc_id * {{knuth}}) % 100 < {{va}} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT sa.split AS split_a, sb.split AS split_b,
           CAST(count(*) AS BIGINT) AS n_leaky_pairs
    FROM dup_pairs
    JOIN sp sa ON doc_a = sa.doc_id
    JOIN sp sb ON doc_b = sb.doc_id
    WHERE sa.split <> sb.split
    GROUP BY sa.split, sb.split
    """.format(theta="{theta}", knuth=_KNUTH, tr=_SPLIT_TRAIN, va=_SPLIT_VAL).replace(
        "{theta}", "0.6"
    ),
)
def etl_split_leakage(t: Tables) -> DataFrame:
    """Train/test contamination via NEAR-duplicates: exact-dup leakage is
    caught by hashing, but a train doc whose 0.6-Jaccard twin sits in
    test leaks the answer anyway — this key counts near-dup pairs that
    CROSS split boundaries, per boundary pair. The canonical training-
    data audit that ties the dedup family to the split family: the fix
    is split-by-cluster (dedup_clusters canonical id), not by doc.

    Reuses the exact shingle-Jaccard pair lineage (inverted index — the
    LSH tier applies at scale) and the deterministic multiplicative-hash
    split; both sides are pure functions of doc_id/text, so the leakage
    report is engine-reproducible."""
    from base_etl_spark.operators.llm_dedup import _shingle_jaccard_pairs

    pairs = _shingle_jaccard_pairs(t).select("doc_a", "doc_b")
    bucket = F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(100))
    split = (
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    sp = t.documents.select("doc_id", split.alias("split"))
    sa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaky_pairs"))
    )


@query(
    "corpus_pipeline_report",
    oracle=f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    near_drops AS (SELECT DISTINCT doc_b FROM pairs),
    s AS (
        SELECT doc_id, n_chars,
               len(string_split(text, ' '))  AS n_tok,
               len(list_filter(string_split(text, ' '), w -> w IN {_STOP_SQL})) AS n_stop,
               len(list_filter(string_split(text, ' '), w -> len(w) >= 8))      AS n_long,
               len(regexp_extract_all(text, '[0-9]'))                           AS n_digit,
               row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id)    AS rn
        FROM documents
    ),
    q AS (
        SELECT doc_id, n_tok, rn,
               n_stop * 1.0 / n_tok AS stop_ratio,
               round(least(n_tok / 50.0, 1.0) * 0.4
                     + least(n_stop * 1.0 / n_tok / 0.1, 1.0) * 0.3
                     + (1.0 - n_digit * 1.0 / n_chars) * 0.2
                     + least(n_long * 1.0 / n_tok / 0.2, 1.0) * 0.1, 6) AS quality
        FROM s
    ),
    v AS (
        SELECT CASE WHEN stop_ratio < {_STOP_MIN} THEN 'lang'
                    WHEN quality < {_Q_MIN}       THEN 'quality'
                    WHEN rn > 1                   THEN 'exact_dup'
                    WHEN doc_id IN (SELECT doc_b FROM near_drops) THEN 'near_dup'
                    ELSE 'keep' END AS verdict
        FROM q
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN verdict = 'lang' THEN 1 ELSE 0 END) AS BIGINT) AS nl,
               CAST(sum(CASE WHEN verdict = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS nq,
               CAST(sum(CASE WHEN verdict = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS nx,
               CAST(sum(CASE WHEN verdict = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS nn
        FROM v
    )
    SELECT * FROM (
        SELECT 1 AS stage_ord, 'lang_filter' AS stage,
               total AS docs_in, nl AS docs_dropped, total - nl AS docs_out FROM c
        UNION ALL SELECT 2, 'quality_filter', total - nl, nq, total - nl - nq FROM c
        UNION ALL SELECT 3, 'exact_dedup', total - nl - nq, nx,
                          total - nl - nq - nx FROM c
        UNION ALL SELECT 4, 'near_dedup', total - nl - nq - nx, nn,
                          total - nl - nq - nx - nn FROM c
    )
    """,
)
def corpus_pipeline_report(t: Tables) -> DataFrame:
    """Capstone funnel report for the training-data pipeline: one row
    per cleaning stage (language filter → quality filter → exact dedup
    → near dedup) with docs in / dropped / surviving — the dashboard
    row every corpus build publishes, and the sanity contract that the
    stages PARTITION the corpus (docs_out of stage k == docs_in of
    stage k+1; final docs_out == keep count). Reuses etl_corpus_clean's
    verdict lineage verbatim, so this report can never disagree with
    the per-document verdicts.

    The heavy work is the verdict computation (one sha256 shuffle +
    shingle key joins, unchanged); the funnel itself is a 1-row
    aggregate unstacked to 4 rows with pure arithmetic — nothing new
    shuffles."""
    v = etl_corpus_clean.tables_fn(t).select("verdict")
    c = v.agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum(F.when(F.col("verdict") == "lang", 1).otherwise(0)).cast("long").alias("nl"),
        F.sum(F.when(F.col("verdict") == "quality", 1).otherwise(0)).cast("long").alias("nq"),
        F.sum(F.when(F.col("verdict") == "exact_dup", 1).otherwise(0)).cast("long").alias("nx"),
        F.sum(F.when(F.col("verdict") == "near_dup", 1).otherwise(0)).cast("long").alias("nn"),
    )
    return c.selectExpr(
        """stack(4,
            1, 'lang_filter',    total,                nl,                total - nl,
            2, 'quality_filter', total - nl,           nq,                total - nl - nq,
            3, 'exact_dedup',    total - nl - nq,      nx,                total - nl - nq - nx,
            4, 'near_dedup',     total - nl - nq - nx, nn,                total - nl - nq - nx - nn
        ) AS (stage_ord, stage, docs_in, docs_dropped, docs_out)"""
    )


@query(
    "etl_split_cluster_safe",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lab) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    canon AS (SELECT node AS doc_id, min(lab) AS canonical FROM reach GROUP BY node),
    assigned AS (
        SELECT d.doc_id,
               COALESCE(c.canonical, d.doc_id) AS canonical,
               CASE WHEN COALESCE(c.canonical, d.doc_id) % 10 < 8
                    THEN 'train' ELSE 'test' END AS split
        FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id
    ),
    leaks AS (
        SELECT CAST(count(*) AS BIGINT) AS n
        FROM pairs p
        JOIN assigned a ON p.doc_a = a.doc_id
        JOIN assigned b ON p.doc_b = b.doc_id
        WHERE a.split <> b.split
    )
    SELECT split,
           CAST(count(*) AS BIGINT)                   AS n_docs,
           CAST(count(DISTINCT canonical) AS BIGINT)  AS n_clusters,
           (SELECT n FROM leaks)                      AS leak_pairs
    FROM assigned GROUP BY split
    """,
)
def etl_split_cluster_safe(t: Tables) -> DataFrame:
    """Leakage-safe train/test split — the REMEDIATION to
    etl_split_leakage's detection: assignment hashes the near-dup
    CLUSTER canonical id (dedup_clusters' connected components over the
    exact Jaccard pair graph), not the doc id, so a near-dup family can
    never straddle the split and contaminate evaluation. Singleton docs
    are their own canonical. The leak_pairs column re-counts cross-split
    near-dup pairs from the same pair set — 0 by CONSTRUCTION, and the
    report carries the proof rather than asserting it silently.

    Plan (r8 VERDICT task 2 — collapsed propagation): labels come from
    collapsed_cluster_labels, whose min-label propagation runs over
    exact-dup-collapsed REPRESENTATIVES — identical-text class members
    collapse to one node, a class-factor^2 edge reduction that takes
    the amplified-corpus quadratic out of the iterate (the old
    full-graph propagation needed a 24g heap at x30; exactness argument
    in the helper's docstring). Assignment is a left join of the doc list onto the
    node-bounded label table; the census is one split-keyed agg. The
    leak count stays EXACT without materializing the expanded pair set:
    an expanded pair crosses splits iff its rep-level pair does (class
    members share a canonical, hence a split; intra-class pairs never
    cross), and each crossing rep pair stands for class_n_a x class_n_b
    expanded pairs — so leak_pairs = sum over crossing rep pairs of the
    class-size product, a rep-bounded join instead of a quadratic
    expansion. At 100 TB the rep pairs come from the MinHash tier's
    verified pairs (dedup_near_minhash) instead of the exact inverted
    index — the split arithmetic is unchanged.

    r11 (guide §1.2 — don't compute things twice): the labels, class
    table, and rep-level pair graph all come from ONE
    _collapsed_labels_parts call, reusing the checkpointed rep_pairs
    frame for the leak census instead of re-running exact_dup_classes
    and the shingle-Jaccard inverted-index self-join a second time."""
    from base_etl_spark.operators.llm_dedup import _collapsed_labels_parts

    labels, _, classes, _, rep_pairs = _collapsed_labels_parts(t.documents)
    assigned = (
        t.documents.select("doc_id")
        .join(labels.withColumnRenamed("canonical_id", "lab"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("lab", F.col("doc_id")).alias("canonical"),
        )
        .withColumn(
            "split",
            F.when(F.pmod("canonical", F.lit(10)) < 8, "train").otherwise("test"),
        )
        .localCheckpoint()
    )
    cls_n = classes.select(F.col("rep_id").alias("doc_id"), "class_n")
    side = assigned.select("doc_id", "split").join(cls_n, "doc_id")
    leaks = (
        rep_pairs.join(
            side.select(
                F.col("doc_id").alias("doc_a"),
                F.col("split").alias("sa"),
                F.col("class_n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            side.select(
                F.col("doc_id").alias("doc_b"),
                F.col("split").alias("sb"),
                F.col("class_n").alias("nb"),
            ),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .agg(
            F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
            .cast("long")
            .alias("n")
        )
    )
    out = (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("canonical").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaks.select(F.col("n").alias("leak_pairs"))))
    )
    return out


@query(
    "sample_repeat_plan",
    oracle=f"""
    WITH s AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(src_tokens) AS total_tokens,
                   count(*) AS n_sources FROM s),
    w AS (
        SELECT source, n_docs,
               (1.0 / n_sources) / (src_tokens * 1.0 / total_tokens) AS wt
        FROM s CROSS JOIN tot
    ),
    per_doc AS (
        SELECT d.source, w.wt,
               CAST(floor(w.wt) AS BIGINT)
             + CASE WHEN (d.doc_id * {_KNUTH}) % 1000
                         < floor((w.wt - floor(w.wt)) * 1000)
                    THEN 1 ELSE 0 END AS repeats
        FROM documents d JOIN w ON d.source = w.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT)      AS n_docs,
           round(max(wt), 6)             AS weight,
           CAST(sum(repeats) AS BIGINT)  AS total_repeats,
           round(sum(repeats) * 1.0 / count(*), 6) AS realized_rate
    FROM per_doc GROUP BY source
    """,
)
def sample_repeat_plan(t: Tables) -> DataFrame:
    """Integer repeat plan realizing corpus_mix_weights' fractional
    upsampling weights: per document, repeats = floor(w) plus one more
    for a deterministic hash-selected fraction of the source (the
    Knuth-bucket arithmetic shared with etl_train_split — NO rand(), so
    the epoch plan is reproducible and stable under corpus growth).
    This is the step that turns a mixing REPORT into the materialized
    duplication list a training pipeline actually consumes; the
    realized_rate column shows how close the integer plan lands to the
    fractional target per source.

    Determinism note: the fractional threshold is floor(frac*1000) of a
    weight computed as a ratio of exact integer token counts — both
    engines evaluate the identical double, and floor (not round) keeps
    the boundary engine-neutral. Plan: one source agg + 1-row totals
    broadcast (the corpus_mix_weights shape), then a pure per-doc
    projection + source re-agg — two tiny shuffles, fact scanned
    twice (once for weights, once for the plan); at 100 TB persist the
    5-row weight table instead."""
    s = t.documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("src_tokens"),
    )
    tot = s.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    w = s.crossJoin(F.broadcast(tot)).select(
        "source",
        (
            (F.lit(1.0) / F.col("n_sources"))
            / (F.col("src_tokens") * F.lit(1.0) / F.col("total_tokens"))
        ).alias("wt"),
    )
    frac_k = F.floor((F.col("wt") - F.floor("wt")) * 1000)
    per_doc = t.documents.join(F.broadcast(w), "source").select(
        "source",
        "wt",
        (
            F.floor("wt").cast("long")
            + F.when(
                F.pmod(F.col("doc_id") * F.lit(_KNUTH), F.lit(1000)) < frac_k, 1
            ).otherwise(0)
        ).alias("repeats"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.max("wt"), 6).alias("weight"),
        F.sum("repeats").cast("long").alias("total_repeats"),
        F.round(F.sum("repeats") * 1.0 / F.count(F.lit(1)), 6).alias("realized_rate"),
    )


_BOOT_B = 32  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds (cumulative pmf; tail capped at 5)
_BOOT_CUM = (0.3678794, 0.7357589, 0.9196986, 0.9810118, 0.9963402)


@query("sample_poisson_bootstrap", oracle=None)  # R: hash-seeded weights
def sample_poisson_bootstrap(t: Tables) -> DataFrame:
    """Poisson bootstrap standard error + percentile CI for the corpus
    mean document length — THE bootstrap at data scale (resampling
    n-out-of-n is impossible distributed; Poisson(1) weights per
    (row, replicate) are i.i.d.-equivalent and embarrassingly
    parallel — public method, e.g. Chamandy et al., 'Estimating
    Uncertainty for Massive Data Streams'). Each row emits its 32
    replicate weights IN-ROW from a seeded xxhash64 (NO rand(): the
    weight of (doc, b) is a pure function of doc_id and b, so results
    are identical across runs, partitionings, and retries — the
    sample_stratified determinism rule); the inverse Poisson CDF is a
    5-threshold CASE. Hash-function-specific => rows-only, with exact
    invariants in tests (determinism, CI brackets the true mean,
    replicate-0 weights match a pure-Python replica).

    Scale: ONE corpus scan; the 32x expansion is in-row and collapses
    map-side into a 32-group weighted-sum agg — bootstrap SE at 100 TB
    costs one aggregation pass, not 32 resamples."""
    b_arr = F.array(*[F.lit(b) for b in range(_BOOT_B)])
    u = (
        F.xxhash64(F.col("doc_id"), F.col("b")).cast("double") / F.lit(2.0**64)
        + F.lit(0.5)
    )
    w = (
        F.when(u < _BOOT_CUM[0], 0)
        .when(u < _BOOT_CUM[1], 1)
        .when(u < _BOOT_CUM[2], 2)
        .when(u < _BOOT_CUM[3], 3)
        .when(u < _BOOT_CUM[4], 4)
        .otherwise(5)
    )
    rep = (
        t.documents.select("doc_id", F.col("n_chars").cast("double").alias("x"))
        .select("doc_id", "x", F.explode(b_arr).alias("b"))
        .select("b", "x", w.alias("w"))
        .groupBy("b")
        .agg(
            (F.sum(F.col("w") * F.col("x")) / F.nullif(F.sum("w"), F.lit(0)))
            .alias("rep_mean")
        )
    )
    truth = t.documents.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.avg("n_chars").alias("point_mean"),
    )
    summary = rep.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.stddev("rep_mean").alias("se_boot"),
        F.percentile("rep_mean", F.lit(0.025)).alias("ci_lo"),
        F.percentile("rep_mean", F.lit(0.975)).alias("ci_hi"),
    )
    return truth.crossJoin(F.broadcast(summary)).select(
        "n_docs",
        F.round("point_mean", 4).alias("point_mean"),
        "n_replicates",
        F.round("se_boot", 4).alias("se_boot"),
        F.round("ci_lo", 4).alias("ci_lo"),
        F.round("ci_hi", 4).alias("ci_hi"),
    )


@query(
    "sample_class_balanced",
    oracle="""
    WITH m AS (
        SELECT CAST(min(cnt) AS BIGINT) AS k
        FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang)
    ),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY hash(CAST(doc_id AS VARCHAR) || '/balance'), doc_id
               ) AS rn
        FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
    FROM ranked CROSS JOIN m
    WHERE rn <= m.k
    GROUP BY lang
    """,
)
def sample_class_balanced(t: Tables) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    min-class-count documents — the TRAINING-SET balancing move (equal
    classes) that sample_stratified (proportional) deliberately is not.
    Selection within a class is by deterministic hash rank (NO rand():
    the same corpus always keeps the same docs — the sample_stratified
    determinism rule), with doc_id as the tie-break. Because the two
    engines hash differently, the driver-checkable CONTRACT is the
    balance property itself (per-class count == global min), not the
    specific ids — so the output aggregates per class; the id-level
    determinism of the xxhash64 ranking is pinned by an explicit
    repeat-run test (same corpus -> identical selected doc_id set)
    rather than the hash gate, which the (lang, k) contract cannot
    distinguish from a broken ranking.

    Scale: one per-class count agg (broadcast scalar), one class-keyed
    rank window (class-bounded partitions)."""
    return (
        class_balanced_selection(t.documents)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
    )


def class_balanced_selection(documents: DataFrame) -> DataFrame:
    """The id-level selection behind sample_class_balanced: (doc_id,
    lang) rows for the per-class min-count keep set, ranked by the
    deterministic xxhash64 of doc_id with doc_id as tie-break. Exposed
    separately so the id-level determinism (same corpus -> identical
    doc_id set, independent of run and fan-out) is directly testable —
    the query's (lang, k) contract alone cannot detect a broken
    ranking."""
    m = documents.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).agg(
        F.min("cnt").cast("long").alias("k")
    )
    ranked = documents.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                F.xxhash64(F.concat(F.col("doc_id").cast("string"), F.lit("/balance"))),
                F.col("doc_id"),
            )
        )
        .alias("rn"),
    )
    return (
        ranked.crossJoin(F.broadcast(m))
        .filter(F.col("rn") <= F.col("k"))
        .select("doc_id", "lang")
    )
