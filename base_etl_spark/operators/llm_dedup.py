"""Deduplication operators for LLM training data (SURVEY §2.10).

Four tiers, all pure DataFrame algebra:

- exact:   sha256(text) group-by. One shuffle on the 32-byte digest —
           THE 100 TB exact-dedup plan (hash first, never shuffle text).
- jaccard: exact 3-word-shingle-set Jaccard >= theta via inverted index.
           O(sum_shingle df^2) — shingle document frequency is ~1 except
           among true near-dups, so this stays near-linear; the small-SF
           oracle for the approximate tiers. (Raw TOKEN sets are useless
           on a tiny-vocabulary corpus: nearly all pairs share most
           tokens — measured 73k of 125k pairs >= 0.6.)
- minhash: MinHash signatures + LSH banding -> candidate pairs ->
           exact-Jaccard verification. The 100 TB near-dup plan: cost is
           linear in corpus + candidates, never all-pairs. Verified
           candidates that pass theta are EXACTLY the jaccard tier's
           pairs whenever banding recall holds (asserted in tests).
- simhash: 64-bit sign-hash fingerprints + 16-bit band join + hamming
           distance filter. Hash-function-specific => rows-only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from base_etl_spark import iterstats
from base_etl_spark.io import Tables, spread
from base_etl_spark.registry import query

THETA = 0.6  # Jaccard threshold shared by the exact and MinHash tiers


_N_HASHES = 32  # MinHash signature length
_N_BANDS = 8  # 8 bands x 4 rows; P(candidate) = 1-(1-j^4)^8: 0.67 at j=.6, 0.97 at j~.77
_SHINGLE = 3  # words per shingle


@query(
    "dedup_exact",
    oracle="""
    SELECT sha256(text)  AS content_hash,
           min(doc_id)   AS keeper_doc_id,
           count(*)      AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_exact(t: Tables) -> DataFrame:
    """Exact dedup by content hash, keep the lowest doc_id.

    Spark's sha2(x, 256) and DuckDB's sha256 emit identical lowercase hex.
    (Non-trivial only at sf0.1+: sf0.01 has zero exact duplicates —
    FIXTURES.md measured.)"""
    return (
        t.documents.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_JACCARD_ORACLE = f"""
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
    )
    SELECT doc_a, doc_b,
           round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE common * 1.0 / (sa.n + sb.n - common) >= {THETA}
"""


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) pairs, re-spread for parallelism."""
    return spread(docs, "doc_id").select(
        "doc_id", F.explode(F.array_distinct(_shingles())).alias("s")
    )


def _jaccard_from_sets(tok: DataFrame, pairs: DataFrame) -> DataFrame:
    """Attach set sizes to common-counts and filter by THETA."""
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("common") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= THETA)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _shingle_jaccard_pairs(t: Tables) -> DataFrame:
    """Exact shingle-Jaccard pairs over the full corpus (Tables entry)."""
    return _shingle_jaccard_pairs_docs(t.documents)


def _shingle_jaccard_pairs_docs(docs: DataFrame) -> DataFrame:
    """Exact 3-word-shingle-set Jaccard pairs >= THETA via inverted index.

    Shingles (unlike raw tokens on this tiny-vocabulary corpus, where
    almost every doc pair shares most tokens) are discriminative: a
    shingle's document frequency is ~1 except for true near-dups, so the
    inverted-index self-join stays near-linear. Takes a bare documents
    frame so cluster-tier callers can run it over exact-dup-collapsed
    REPRESENTATIVES (r8 VERDICT task 2) instead of the full corpus."""
    tok = _shingle_sets(docs)
    a = tok.alias("a")
    b = tok.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_from_sets(tok, pairs)


@query("dedup_near_jaccard", oracle=_JACCARD_ORACLE)
def dedup_near_jaccard(t: Tables) -> DataFrame:
    """Near-duplicate pairs by exact 3-word-shingle Jaccard >= 0.6.

    Exact all-pairs-with-overlap is the small-scale oracle;
    dedup_near_minhash is the 100 TB path (banding bounds candidates
    even when shingle collisions are common)."""
    return _shingle_jaccard_pairs(t)


def _shingles(col: str = "text", k: int = _SHINGLE) -> Column:
    """Contiguous k-word shingles as an array<string> (expression-only).

    Docs with fewer than k tokens yield an EMPTY array (not partial
    shingles) — pinned to match the oracle's lead()-window construction,
    which drops incomplete windows."""
    toks = F.split(col, " ")
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig: array<long>) — sig[i] = min over shingles of a seeded
    64-bit hash (multi-arg xxhash64(seed, shingle_hash): one string hash
    per shingle, then _N_HASHES cheap 64-bit mixes — the two-level hash
    family).

    Shape: explode distinct shingles -> one flat 32-aggregate min per
    doc_id. The explode LOOKS like it should shuffle every (doc, shingle)
    pair, but it doesn't: io.spread already hash-partitioned by doc_id with
    the same partition count, so Catalyst elides the groupBy exchange and
    the explode pipelines map-side into the partial aggregate — the only
    rows that ever cross the wire are the pre-explosion docs. Measured 2x
    faster than the projection form (array_min over 32 F.transform
    lambdas): higher-order functions evaluate their lambda interpreted
    per element, while min(xxhash64(i, h)) aggregates run inside
    whole-stage codegen. Docs with fewer than _SHINGLE tokens have no
    shingles and are dropped (explode of an empty array), matching the
    prior formulation."""
    sh = spread(docs, "doc_id").select(
        "doc_id", F.explode(F.array_distinct(_shingles())).alias("s")
    ).select("doc_id", F.xxhash64("s").alias("h"))
    return sh.groupBy("doc_id").agg(
        F.array(*[F.min(F.xxhash64(F.lit(i), "h")) for i in range(_N_HASHES)]).alias("sig")
    )


def banded_signatures(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bh): each signature exploded into its _N_BANDS
    64-bit band hashes — the shared banding projection behind
    lsh_candidate_pairs and dedup_bucket_stats (in-row explode, no
    shuffle; the bucket shuffle happens in the consumer)."""
    rows_per_band = _N_HASHES // _N_BANDS
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bh"),
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Docs agreeing on any full band become candidates.

    Implemented as groupBy (band, band_hash) + collect the bucket's
    doc_ids + in-row pair expansion — the signature lineage is computed
    ONCE (a self-join evaluates it per side: measured 2x the stage cost,
    and persist-plus-broadcast raced AQE into multi-second stalls). One
    shuffle keyed by the 64-bit bucket hash, then pairs; never all-pairs.

    Skew: a bucket's candidate count is quadratic in its size, so a
    degenerate bucket (giant exact-dup class) concentrates in one task;
    MinHash bucket keys are 1-in-2^64 for non-similar docs, so bucket
    size tracks true dup-group size. Guarded since r8: bucket_pairs caps
    bucket size (skips + counts overflow), and dedup_near_minhash
    pre-collapses exact-dup classes so identical text can never build a
    giant bucket in the first place; dedup_bucket_stats reports the
    observed bucket-size distribution."""
    return bucket_pairs(banded_signatures(sigs), "doc_id", "doc_a", "doc_b")


BUCKET_CAP = 1024  # max ids per LSH bucket before the skew guard fires


def bucket_overflow(banded: DataFrame, id_col: str, cap: int = BUCKET_CAP) -> DataFrame:
    """(band, bh, n_ids) for buckets the cap in bucket_pairs would skip —
    the queryable overflow report: at 100 TB an operator (or its owner)
    counts/logs this frame instead of discovering the skip in a plan."""
    return (
        banded.groupBy("band", "bh")
        .agg(F.countDistinct(id_col).alias("n_ids"))
        .filter(F.col("n_ids") > cap)
    )


def bucket_pairs(
    banded: DataFrame, id_col: str, out_a: str, out_b: str,
    cap: int | None = BUCKET_CAP,
) -> DataFrame:
    """Distinct unordered id pairs sharing any (band, bh) bucket, via
    groupBy + collect + in-row pair expansion.

    Shared by MinHash LSH (llm_dedup) and SRP LSH (llm_vectors): the
    alternative — a banded SELF-join — evaluates the signature lineage
    once PER SIDE (measured 2x the stage cost on both operators). Here
    the lineage runs once; one shuffle keyed by the bucket, then pairs.

    Skew guard (r7 VERDICT task 3): a bucket's pair expansion is
    quadratic in its size, so one degenerate bucket (giant near-identical
    class) concentrates O(n^2) work and memory in ONE task. Buckets
    larger than ``cap`` are SKIPPED, and the skip is counted into the
    plan's observed metrics (name ``lsh_bucket_overflow``, visible to
    QueryExecutionListener / the SQL UI at zero extra cost) — a silent
    cap would read as full recall when it wasn't. ``bucket_overflow``
    returns the same buckets as a queryable frame. MinHash bucket keys
    collide for non-similar docs with P ~ 2^-64, so an overflowing
    bucket almost always means >cap genuinely near-identical docs (the
    exception, a fused-key collision, is described below): exact-dup
    pre-collapse (dedup_near_minhash) removes the identical-text cause;
    what remains above the cap is reported, not exploded. cap=None
    disables the guard (property tests compare against naive all-pairs)."""
    # The bucket exchange keys on ONE 64-bit fuse of (band, bh) instead
    # of the (int, long) pair — 20 % fewer key bytes per row and
    # single-column hashing. Bucket identity changes only on a
    # cross-band xxhash64 collision (P ~ 2^-64 per bucket pair), which
    # MERGES two buckets. A merged bucket that stays under the cap only
    # adds candidates, and every candidate is exact-verified downstream.
    # But a collision can also remove candidates: two buckets that are
    # each under the cap can merge into one over it, which the cap
    # filter below then drops, losing the pairs of both. That case is
    # counted by this fused-grain ``lsh_bucket_overflow``
    # ``overflow_buckets`` observe, NOT by the (band, bh)-grain
    # ``bucket_overflow`` frame (nor dedup_bucket_stats), which see two
    # under-cap buckets. Those two keep the explicit (band, bh) grain —
    # they REPORT buckets per band and never shuffle doc-pair volumes.
    buckets = (
        banded.groupBy(F.xxhash64("band", "bh").alias("bkey"))
        # collect_set, not collect_list: a duplicate (id, band, bh) row
        # would otherwise pair an id with itself (found by property test)
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if cap is not None:
        buckets = buckets.observe(
            "lsh_bucket_overflow",
            F.sum((F.size("ids") > cap).cast("long")).alias("overflow_buckets"),
            F.max(F.size("ids")).alias("max_bucket"),
        ).filter(F.size("ids") <= cap)
    # (element, index) two-arg lambda: pair ids[i] with every later id
    pair_structs = F.flatten(
        F.transform(
            "ids",
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda b: F.struct(a.alias("pa"), b.alias("pb")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.pa").alias(out_a), F.col("p.pb").alias(out_b))
        .distinct()
    )


_COLLAPSE_MIN_CLASS = 8  # engage exact-dup pre-collapse at this max class size


def exact_dup_classes(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Exact-dup content classes via a plain hash agg on the 8-byte
    xxhash64(text) digest — the shared pre-collapse substrate for the
    minhash and cluster tiers (never a window over (chash, text): the
    window form shuffles full document text and re-evaluates per
    consumer — measured r8 bench regression).

    Returns (tagged, classes): tagged = (chash, doc_id, rep_id,
    class_n) one row per doc; classes = (chash, rep_id, class_n) one
    row per distinct content, rep_id = min doc_id of the class."""
    chash_docs = documents.select("doc_id", F.xxhash64("text").alias("chash"))
    classes = chash_docs.groupBy("chash").agg(
        F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("class_n")
    )
    tagged = chash_docs.join(classes, "chash")
    return tagged, classes


def _verify_candidates(docs: DataFrame, cands: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs against the
    given corpus: (doc_a, doc_b, jaccard) for candidates >= THETA.

    Per-candidate array_intersect over in-row distinct-shingle arrays;
    the shingle lineage is scanned ONCE (candidates explode into
    (doc_id, side) membership rows, join the corpus a single time,
    regroup per pair). The membership join is MERGE-pinned: the
    candidate side scales with near-dup density, not corpus size — on a
    100x-amplified corpus the planner's broadcast choice died with 'Not
    enough memory to build and broadcast the table'
    (tools/scale_stress.py --amp 100, 2026-08-14)."""
    shs = spread(docs, "doc_id").select("doc_id", F.array_distinct(_shingles()).alias("sh"))
    sides = cands.select(
        "doc_a",
        "doc_b",
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("doc_id"), F.lit("a").alias("side")),
                F.struct(F.col("doc_b").alias("doc_id"), F.lit("b").alias("side")),
            )
        ).alias("m"),
    ).select(
        "doc_a", "doc_b", F.col("m.doc_id").alias("doc_id"), F.col("m.side").alias("side")
    )
    pairs = (
        shs.join(sides.hint("merge"), "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first(F.when(F.col("side") == "a", F.col("sh")), ignorenulls=True).alias("sh_a"),
            F.first(F.when(F.col("side") == "b", F.col("sh")), ignorenulls=True).alias("sh_b"),
        )
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common * F.lit(1.0) / (F.size("sh_a") + F.size("sh_b") - common)
    return pairs.filter(jac >= THETA).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


@query("dedup_near_minhash", oracle=_JACCARD_ORACLE)
def dedup_near_minhash(t: Tables) -> DataFrame:
    """MinHash+LSH near-dup: signatures -> banded candidates -> exact
    shingle-Jaccard verification of CANDIDATES ONLY.

    100 TB plan: linear scans + shuffles on (band hash) and (doc_id);
    verification cost is candidates x shingles, never the all-pairs
    join (which is quadratic in token collision classes and already
    dominates at sf0.1). Hash-checked against the EXACT Jaccard oracle:
    verified candidates equal the exact tier whenever banding recall
    holds, and recall is DETERMINISTIC here — xxhash64 seeds are fixed,
    so the banding outcome on a given corpus never varies run to run
    (equality also asserted against dedup_near_jaccard in tests).

    Recall margin, MEASURED on the fixtures (2026-08-13): every true
    pair has Jaccard >= 0.9 at sf0.01 / >= 0.8 at sf0.1, above the 0.6
    threshold. 8x4 banding recalls a pair of Jaccard j with probability
    1-(1-j^4)^8: 0.67 at j = 0.6, 0.985 at 0.8, 0.9998 at 0.9. That is
    a per-pair figure, so a corpus of many pairs loses some: sf0.01
    amplified x10 misses 11 of its 25,000 exact pairs. The
    oracle contract is therefore corpus-dependent by design: a
    REGENERATED corpus would re-roll those dice. The safety net is the
    local strict gate (tools/check.py runs this key against the exact
    oracle every round) — a recall break surfaces there first, and the
    key then demotes to rows-only with the tests' equality self-check
    rather than shipping a red driver row.

    EXACT-DUP PRE-COLLAPSE (r7 VERDICT task 4), GATED (r8 VERDICT task
    3): identical-text docs are collapsed to one representative (min
    doc_id per xxhash64(text) class) BEFORE signatures, and pairs
    re-expand afterwards. Identical docs land in identical buckets in
    every band, so a giant exact-dup class used to concentrate O(n^2)
    in-row pair expansion in one LSH task (the documented 100 TB skew
    risk); after collapse, bucket sizes are bounded by DISTINCT-content
    class counts and the bucket cap (bucket_pairs) rarely fires.
    Re-expansion is exact, not heuristic: J(x, y) = J(rep(x), rep(y))
    when text is identical, so cross-class pairs inherit the verified
    rep jaccard, and intra-class pairs are jaccard 1.0 by construction
    (classes whose text has < _SHINGLE tokens are excluded — empty
    shingle sets never pair in the oracle). The intra-class pair output
    is quadratic in class size, but that is the OUTPUT's own size (the
    oracle emits those pairs too) — the collapse removes the quadratic
    from the shuffle/compute stages, not from the answer.

    THE GATE: the collapse + re-expansion legs cost ~0.6 s of joins at
    sf0.1 and buy nothing on a corpus whose largest identical-text
    class is small (the r8 bench paid 19% on a fixture with 8 exact
    dups). One scalar read of max(class_n) over the already-computed
    digest classes decides: below _COLLAPSE_MIN_CLASS (8 — far under
    BUCKET_CAP=1024, so the ungated path can never lose intra pairs to
    the cap, and a sub-8 class is <= 8^2 x 8 bands = 512 in-row
    expansions, trivially task-safe) the pipeline runs directly over
    the corpus exactly as the r7 shape did; at or above it the collapse
    engages and the skew guard story is unchanged. On the amplified
    scale fixtures, class sizes are ~amp/10 (copies carry a cycling
    c0-c9 prefix), so x100 (10-member classes) exercises the collapse
    path while x10/x30 and the bench fixture take the gated fast
    path."""
    # No persists, no self-joins: the signature lineage runs exactly once
    # (bucket-collect candidate generation, see lsh_candidate_pairs), so
    # there is nothing to cache. Round 1 persisted two mid-plan
    # intermediates and still paid for double lineage evaluation plus
    # AQE/cache contention (6.6 s at sf0.1; this shape runs ~3 s).
    # Verification (shared _verify_candidates): merge-pinned single-scan
    # shingle membership join — see the helper's docstring for the
    # measured broadcast-OOM and shuffle_hash-stall history.
    # The gate scalar is recomputed on EVERY call (r11: an earlier
    # draft memoized it on the session-cached documents frame, which
    # let warm bench attempts skip a real ~0.6 s scan — cross-run
    # result caching, removed). The read is a PRUNED projection: the
    # gate only needs per-chash counts, so it scans text alone (no
    # doc_id, no min-rep agg) — the scan job the collapse decision
    # fundamentally requires and nothing more.
    # r11 drift triage: the r6 anchor (2.23 s) predates this gate; the
    # isolated quiet-box key is 2.68 s (1.20x) and the in-bench excess
    # to ~4 s is long-session JVM state, not plan regression.
    docs = t.documents
    tagged, classes = exact_dup_classes(docs)
    max_class = (
        docs.select(F.xxhash64("text").alias("chash"))
        .groupBy("chash")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m"))
        .first()["m"]
        or 0
    )
    if max_class < _COLLAPSE_MIN_CLASS:
        sigs = minhash_signatures(docs)
        return _verify_candidates(docs, lsh_candidate_pairs(sigs))

    reps = t.documents.join(
        classes.select(F.col("rep_id").alias("doc_id")), "doc_id"
    ).select("doc_id", "text")
    sigs = minhash_signatures(reps)
    rep_pairs = _verify_candidates(reps, lsh_candidate_pairs(sigs))

    # Re-expansion. Cross-class: every member of class(doc_a) pairs with
    # every member of class(doc_b) at the verified rep jaccard; the two
    # membership joins key on rep_id — rep_pairs scales with near-dup
    # density (no static bound), so the joins stay merge-pinned like the
    # verification join above (broadcast died at x100 amplification).
    members = tagged.select("chash", "doc_id", "rep_id", "class_n")
    m_a = members.select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("ma"))
    m_b = members.select(F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("mb"))
    cross = (
        rep_pairs.hint("merge")
        .join(m_a, "doc_a")
        .join(m_b, "doc_b")
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "jaccard",
        )
    )
    # Intra-class: all pairs inside each exact-dup class, jaccard 1.0.
    # Filter to class_n > 1 BEFORE the self-join (classes of size 1 — the
    # overwhelming majority — never reach the shuffle) and to docs with
    # at least one shingle (empty shingle sets never pair in the oracle).
    # the shingle-bearing gate needs text length: key the filter on the
    # class REPRESENTATIVE's text (identical text across the class) via
    # the reps projection, then attach members by chash
    shingled_reps = reps.filter(F.size(F.split("text", " ")) >= _SHINGLE).select(
        F.col("doc_id").alias("rep_id")
    )
    dups = (
        tagged.filter(F.col("class_n") > 1)
        .join(shingled_reps, "rep_id")
        .select("chash", "doc_id")
    )
    a, b = dups.alias("a"), dups.alias("b")
    intra = (
        a.join(b, (F.col("a.chash") == F.col("b.chash")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


@query("dedup_simhash", oracle=None)  # R: murmur-specific fingerprints
def dedup_simhash(t: Tables) -> DataFrame:
    """SimHash near-dup: 64-bit sign-aggregated token fingerprints,
    16-bit band join, hamming distance <= 3.

    Output: (doc_a, doc_b, hamming). Fingerprints depend on Spark's
    xxhash64 => rows-only; tests pin the fingerprint algebra instead."""
    fp = simhash_fingerprints(t.documents)
    banded = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bh"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(ham <= 3)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"), ham.alias("hamming"))
        .distinct()
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash int64): per token a 64-bit hash votes +1/-1 on
    each bit position; the sign of each bit-sum becomes the bit."""
    tok = spread(docs, "doc_id").select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    h = F.xxhash64("w")
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned(h, bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{bit}")
        for bit in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    simhash = reduce(
        lambda acc, bit: acc.bitwiseOR(
            F.when(F.col(f"b{bit}") > 0, F.shiftleft(F.lit(1).cast("long"), bit)).otherwise(
                F.lit(0).cast("long")
            )
        ),
        range(64),
        F.lit(0).cast("long"),
    )
    return agg.select("doc_id", simhash.alias("simhash"))


def _propagate_min_labels(pairs: DataFrame, what: str = "min-label propagation") -> DataFrame:
    """(node, lab) min-label propagation over an undirected pair graph:
    each round applies two hops (every node adopts the minimum label
    among itself and its neighbours) and then one Spark job that
    materializes the lazily checkpointed round and sums its moved flags;
    the labels converge to each component's minimum node in
    O(component diameter) rounds. The intermediate hop is not
    checkpointed: both of the second hop's references to it shuffle on
    the same key, so ReuseExchange evaluates it once. The round count
    is recorded in ``iterstats`` under ``what``. Runaway guard: a graph
    still moving after max(100, node count) rounds raises instead of
    returning non-converged labels; the node count bounds the diameter
    and is read only if round 100 is reached."""
    edges = (
        pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .persist()
    )

    def _hop(lbl: DataFrame) -> DataFrame:
        neigh = (
            edges.join(lbl, edges.src == lbl.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lab").alias("nlab"))
        )
        return lbl.join(neigh, "node", "left").select(
            "node",
            F.least("lab", F.coalesce("nlab", "lab")).alias("lab"),
            (F.coalesce("nlab", "lab") < F.col("lab")).alias("moved"),
        )

    # the seed frame is checkpointed eagerly: round 1's plan reads it twice
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
        .localCheckpoint()
    )
    cap = 100
    changed = -1
    rnd = 0
    while changed != 0:
        if rnd == 100:
            # labels holds every node each round: count the cached frame
            cap = max(100, labels.count())
        if rnd >= cap:
            break
        new_labels = _hop(_hop(labels).select("node", "lab")).localCheckpoint(eager=False)
        changed = new_labels.agg(
            F.coalesce(F.sum(F.col("moved").cast("long")), F.lit(0))
        ).first()[0]
        labels = new_labels.select("node", "lab")
        rnd += 1
    edges.unpersist()
    iterstats.record(what, rnd)
    if changed != 0:
        raise RuntimeError(
            f"{what}: did not converge within {cap} rounds — graph has a "
            f"longer chain than expected"
        )
    return labels


def collapsed_cluster_labels(documents: DataFrame) -> DataFrame:
    """(doc_id, canonical_id) connected-component labels over the exact
    near-dup pair graph, computed WITHOUT ever materializing that graph:
    the min-label propagation runs over exact-dup-collapsed
    REPRESENTATIVES (r8 VERDICT task 2 — the pair-tier un-excusal).

    Why this is exact, not an approximation: identical-text docs pair
    with exactly the docs their representative pairs with (J(x, y) =
    J(rep(x), rep(y))) and with each other at jaccard 1.0, so every
    member of a class belongs to its rep's component and the component
    min over FULL doc_ids equals the min over rep_ids (each rep IS its
    class minimum). Membership in the output (= appears in the pair
    graph) expands to: (a) every member of a class whose rep has a
    cross-class pair, and (b) every member of a shingle-bearing class
    of size > 1 (intra pairs at jaccard 1.0; sub-_SHINGLE-token classes
    have empty shingle sets and never pair in the oracle).

    Scale: the propagation graph shrinks from expanded pairs (quadratic
    in duplicate density — the x30-amplified corpus's ~2.4M edges
    GC-thrashed a 24g heap, measured 2026-08-16) to DISTINCT-CONTENT
    pairs — a class-factor^2 reduction (the amplified fixtures carry
    ~amp/10-member identical classes via their cycling c0-c9 copy
    prefix, so ~9x fewer edges at x30, ~100x at x100; a real corpus's
    giant identical-text families collapse to single nodes outright).
    Expansion is one chash-keyed join against class labels, linear in
    docs."""
    labels, _, _, _, _ = _collapsed_labels_parts(documents)
    return labels


def _collapsed_labels_parts(
    documents: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """collapsed_cluster_labels plus its intermediates — (labels,
    tagged, classes, reps, rep_pairs) — so consumers that need BOTH the
    labels and the rep-level pair graph (etl_split_cluster_safe's leak
    census) reuse the one materialized rep_pairs frame instead of
    re-running the shingle-Jaccard inverted-index self-join a second
    time (r11, guide §1.2: don't compute things twice)."""
    tagged, classes = exact_dup_classes(documents)
    reps = documents.join(
        classes.select(F.col("rep_id").alias("doc_id")), "doc_id"
    ).select("doc_id", "text")
    rep_pairs = (
        _shingle_jaccard_pairs_docs(reps).select("doc_a", "doc_b").localCheckpoint()
    )
    rep_labels = _propagate_min_labels(rep_pairs, what="collapsed_cluster_labels")
    shingled = reps.filter(F.size(F.split("text", " ")) >= _SHINGLE).select(
        F.col("doc_id").alias("rep_id")
    )
    multi = (
        classes.filter(F.col("class_n") > 1)
        .join(shingled, "rep_id")
        .select("rep_id", F.lit(True).alias("is_multi"))
    )
    class_labels = (
        classes.select("chash", "rep_id")
        .join(rep_labels.select(F.col("node").alias("rep_id"), "lab"), "rep_id", "left")
        .join(multi, "rep_id", "left")
        .filter(F.col("lab").isNotNull() | F.col("is_multi").isNotNull())
        .select("chash", F.coalesce("lab", "rep_id").alias("canonical_id"))
    )
    labels = tagged.join(class_labels, "chash").select("doc_id", "canonical_id")
    return labels, tagged, classes, reps, rep_pairs


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lab) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(lab) AS canonical_id
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(t: Tables) -> DataFrame:
    """Connected components over the exact near-dup pair graph: every doc
    in a near-dup cluster maps to the cluster's minimum doc_id (the
    keeper). This is the step that turns pairwise dedup output into an
    actionable keep/drop list.

    Iterative min-label propagation over exact-dup-COLLAPSED
    representatives (collapsed_cluster_labels — exactness argument and
    the measured x30 pair-graph blowup it removes are documented
    there); converges in O(cluster diameter) rounds — the standard
    Spark shape for bounded-diameter graph algorithms without
    GraphFrames. The DuckDB oracle is a recursive-CTE transitive
    closure of the UNcollapsed edge set — the hash gate certifies the
    collapse-expand equivalence every round, not just the derivation.

    The loop runs until changed == 0; the round cap is a runaway guard
    that RAISES instead of returning non-converged labels (a silent cap
    would emit wrong canonical ids for a cluster whose min-label distance
    exceeds it)."""
    return collapsed_cluster_labels(t.documents)


@query(
    "dedup_containment",
    oracle="""
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
        SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer, count(*) AS common
        FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_inner, doc_outer,
           round(common * 1.0 / sa.n, 6) AS containment
    FROM pairs JOIN sizes sa ON doc_inner = sa.doc_id
    WHERE common * 1.0 / sa.n >= 0.8
    """,
)
def dedup_containment(t: Tables) -> DataFrame:
    """Directed containment near-dup pairs: C(A→B) = |sh(A)∩sh(B)| /
    |sh(A)| >= 0.8 — the asymmetric companion to Jaccard that catches a
    SHORT document embedded inside a longer one (quote, boilerplate
    wrapper, excerpt), which symmetric Jaccard dilutes below any usable
    threshold. Broder's containment measure, standard in crawl dedup.

    Same inverted-index shape as dedup_near_jaccard (shingle equi-join,
    near-linear because shingle document frequency ~1 off the dup
    classes); directed pairs, so both (a in b) and (b in a) can appear.
    The LSH scale tier applies unchanged — containment candidates are a
    superset-filtered view of the same banding buckets."""
    tok = _shingle_sets(t.documents)
    a = tok.alias("a")
    b = tok.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_inner"), F.col("b.doc_id").alias("doc_outer"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_inner"), F.col("n").alias("na"))
    cont = F.col("common") * F.lit(1.0) / F.col("na")
    return (
        pairs.join(F.broadcast(sa), "doc_inner")
        .filter(cont >= 0.8)
        .select("doc_inner", "doc_outer", F.round(cont, 6).alias("containment"))
    )


@query("dedup_minhash_estimate", oracle=None)  # R: estimates are hash-seed-specific
def dedup_minhash_estimate(t: Tables) -> DataFrame:
    """Estimator-quality report for the MinHash tier: per LSH candidate
    pair, the signature-agreement Jaccard ESTIMATE (matching minhash
    positions / 32) next to the EXACT shingle Jaccard — the measurement
    that justifies (or indicts) the sketch parameters before anyone
    trusts the scale tier. Rows-only (estimates depend on the hash
    seeds); the self-check holds every estimate within the binomial
    bound of its exact value (se = sqrt(j(1-j)/32), |est-exact| < 4·se
    + rounding) and the mean signed error near zero.

    One signature computation feeds both banding (candidates) and the
    estimate (position agreement via zip_with); the exact side reuses
    the inverted-index pair lineage."""
    sigs = minhash_signatures(t.documents)
    cands = lsh_candidate_pairs(sigs)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(
                    F.filter(
                        F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                        lambda b: b,
                    )
                )
                / F.lit(float(_N_HASHES))
            ).alias("jaccard_est"),
        )
    )
    exact = _shingle_jaccard_pairs(t).select(
        "doc_a", "doc_b", F.col("jaccard").alias("jaccard_exact")
    )
    return (
        est.join(exact, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.round("jaccard_est", 6).alias("jaccard_est"),
            "jaccard_exact",
        )
    )


@query(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lab) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, min(lab) AS canonical_id FROM reach GROUP BY node),
    sizes AS (SELECT canonical_id, count(*) AS cluster_size
              FROM comp GROUP BY canonical_id)
    SELECT CAST(cluster_size AS BIGINT)  AS cluster_size,
           CAST(count(*) AS BIGINT)      AS n_clusters,
           CAST(sum(cluster_size - 1) AS BIGINT) AS docs_dropped
    FROM sizes GROUP BY cluster_size
    """,
)
def dedup_cluster_sizes(t: Tables) -> DataFrame:
    """Cluster-size histogram over the near-dup components — the dedup
    REPORT row a corpus build publishes: how many pair-clusters vs
    long-chain clusters exist, and how many documents the keep-one-per-
    cluster policy drops at each size (a sudden fat tail of giant
    clusters means a template flood, not organic duplication). Reuses
    dedup_clusters' converged component labels verbatim, so the report
    and the keep/drop list always agree.

    Cost on top of the propagation: one groupBy on canonical_id (tiny —
    clustered docs only) plus a histogram agg over the size domain."""
    comp = dedup_clusters.tables_fn(t)
    sizes = comp.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("docs_dropped"),
    ).select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters",
        "docs_dropped",
    )


@query(
    "dedup_url_canonical",
    oracle="""
    WITH k AS (
        SELECT doc_id, doc_id % 149 AS ck FROM documents
    ),
    canon AS (
        -- the oracle derives the canonical form in CLOSED FORM from the
        -- recipe (the mm-codec oracle pattern); Spark must PARSE its way
        -- to the same string through parse_url + normalization rules
        SELECT doc_id,
               (CASE WHEN ck % 2 = 1 THEN 'https' ELSE 'http' END
                || '://site' || (ck % 41) || '.example.com/p/' || ck
                || '?id=' || ck || '&v=1') AS canonical
        FROM k
    ),
    rep AS (
        SELECT canonical, min(doc_id) AS rep_doc_id,
               CAST(count(*) AS BIGINT) AS n_members
        FROM canon GROUP BY canonical
    )
    SELECT c.doc_id, c.canonical, r.rep_doc_id, r.n_members,
           c.doc_id <> r.rep_doc_id AS is_dup
    FROM canon c JOIN rep r ON c.canonical = r.canonical
    """,
)
def dedup_url_canonical(t: Tables) -> DataFrame:
    """URL-canonicalization dedup — the cheapest, highest-yield dedup
    pass in a web-crawl training pipeline (run BEFORE content hashing:
    the same page refetched under tracking params / www / case / slash
    variants collapses without touching the payload). Per document a
    deterministic DIRTY url (canonical key ck = doc_id % 149; six
    planted variation dims keyed by doc_id: scheme/host CASE, a www.
    prefix, utm_* tracking params, kept-param ORDER, a #fragment, a
    trailing slash) is normalized with the standard public rules —
    lowercase scheme+host, strip www., drop utm_*, sort surviving query
    params, drop the fragment, strip the trailing slash — and documents
    group by the canonical string (min-doc_id representative, the
    dedup_exact shape).

    The Spark side must genuinely PARSE (parse_url PROTOCOL/HOST/PATH/
    QUERY, then array ops on the param list); the oracle never parses —
    it recomputes the canonical directly from the recipe (the codec-
    oracle pattern), so a wrong normalization rule, a fragment leaking
    into QUERY, or an unsorted param list flips the hash. Scale: dirty
    URL synthesis and normalization are pure projections; the only
    shuffle is the canonical-key hash agg + rep join-back — linear at
    any corpus size, the same plan as dedup_exact."""
    ck = F.col("doc_id") % 149
    scheme_real = F.when(ck % 2 == 1, F.lit("https")).otherwise(F.lit("http"))
    # doc_id%5==0 upper-cases the scheme; keep the underlying scheme tied
    # to ck so case is the only thing normalization must undo
    scheme_dirty = F.when(
        F.col("doc_id") % 5 == 0, F.upper(scheme_real)
    ).otherwise(scheme_real)
    host_body = F.concat(F.lit("site"), (ck % 41).cast("string"), F.lit(".example.com"))
    host_dirty = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.upper(host_body)).otherwise(host_body),
    )
    path_dirty = F.concat(
        F.lit("/p/"), ck.cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    params_dirty = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("utm_source=x&utm_campaign=y&")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit("v=1&id="), ck.cast("string")),
        ).otherwise(F.concat(F.lit("id="), ck.cast("string"), F.lit("&v=1"))),
    )
    frag_dirty = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.lit("#sec"), F.col("doc_id").cast("string")),
    ).otherwise(F.lit(""))
    dirty = F.concat(
        scheme_dirty, F.lit("://"), host_dirty, path_dirty, F.lit("?"),
        params_dirty, frag_dirty,
    )
    u = t.documents.select("doc_id", dirty.alias("u"))
    scheme = F.lower(F.parse_url("u", F.lit("PROTOCOL")))
    host = F.regexp_replace(F.lower(F.parse_url("u", F.lit("HOST"))), "^www\\.", "")
    path = F.regexp_replace(F.parse_url("u", F.lit("PATH")), "/$", "")
    q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.parse_url("u", F.lit("QUERY")), "&"),
                lambda p: ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    canon = u.select(
        "doc_id",
        F.concat(scheme, F.lit("://"), host, path, F.lit("?"), q).alias("canonical"),
    )
    rep = canon.groupBy("canonical").agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    return canon.join(rep, "canonical").select(
        "doc_id",
        "canonical",
        "rep_doc_id",
        "n_members",
        (F.col("doc_id") != F.col("rep_doc_id")).alias("is_dup"),
    )


@query(
    "dedup_spans",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               array_to_string(
                   ws[(CAST(i AS BIGINT)*8+1):(CAST(i AS BIGINT)*8+8)],
                   ' ') AS chunk
        FROM w, unnest(range(COALESCE(len(ws) // 8, 0))) AS u(i)
    ),
    cnt AS (SELECT chunk, count(*) AS n_occ FROM chunks GROUP BY chunk),
    per AS (
        SELECT c.doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_chunks
        FROM chunks c JOIN cnt USING (chunk) GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_chunks, CAST(0 AS BIGINT)) AS n_chunks,
           COALESCE(p.n_dup_chunks, CAST(0 AS BIGINT)) AS n_dup_chunks,
           round(COALESCE(p.n_dup_chunks / nullif(p.n_chunks, 0), 0.0),
                 6) AS dup_chunk_ratio,
           COALESCE(p.n_dup_chunks / nullif(p.n_chunks, 0), 0.0) <= 0.5
               AS keep
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
)
def dedup_spans(t: Tables) -> DataFrame:
    """Span-level (chunk) dedup — the C4/RefinedWeb-style pass one tier
    BELOW document dedup: a page that is 60% boilerplate shared with
    thousands of siblings survives whole-document hashing (the unique
    40% changes the hash) but is caught here. Each document is cut into
    consecutive non-overlapping 8-word chunks (partial tail ignored — a
    stable, tokenizer-free span unit); a chunk occurrence is duplicated
    when its exact text occurs >= 2 times corpus-wide (within- and
    cross-document repeats both count, like the n_occ >= 2 rule of the
    public C4 three-sentence-span dedup). Per document: full-chunk
    count, duplicated-occurrence count, their ratio, and the keep
    verdict (ratio <= 0.5) — fixture has both classes (sf0.001: 456
    keep / 44 drop, the drop set dominated by the planted exact-dup
    families whose every chunk collides).

    Plan: chunking is IN-ROW (one transform over the split array — no
    word-level explode, so the explode that follows is bounded by
    n_words/8 per doc); corpus-wide occurrence counts come from ONE
    window over the chunk hash partition (count over partitionBy(chunk)
    — same shuffle a groupBy would need but without the join-back), then
    one doc_id hash agg. Documents with fewer than 8 words NEVER enter
    the chunk shuffle: they are unioned back as literal zero rows (an
    explode_outer + NULL-partition window would funnel every short doc
    into ONE task — the exact skew this avoids). At 100 TB the chunk
    shuffle is the declared cost (it IS span dedup); chunk keys are
    near-unique so no salting is needed, and the 8-word strings can be
    swapped for xxhash64 keys to cut shuffle bytes (collision posture:
    64-bit over ~1e12 chunks needs the sha256 escalation dedup_exact
    documents)."""
    from pyspark.sql import Window

    docs = t.documents.select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    long_docs = docs.filter(F.coalesce(F.size("ws"), F.lit(0)) >= 8)
    chunks = long_docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) div 8 - 1),"
                " i -> array_join(slice(ws, CAST(i*8+1 AS INT), 8), ' '))"
            )
        ).alias("chunk"),
    )
    occ = chunks.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("chunk"))
    )
    per = occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("n_occ") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_chunks"),
    )
    short = docs.filter(F.coalesce(F.size("ws"), F.lit(0)) < 8).select(
        "doc_id",
        F.lit(0).cast("long").alias("n_chunks"),
        F.lit(0).cast("long").alias("n_dup_chunks"),
    )
    both = per.unionByName(short)
    ratio = F.when(
        F.col("n_chunks") > 0, F.col("n_dup_chunks") / F.col("n_chunks")
    ).otherwise(F.lit(0.0))
    return both.select(
        "doc_id",
        "n_chunks",
        "n_dup_chunks",
        F.round(ratio, 6).alias("dup_chunk_ratio"),
        (ratio <= 0.5).alias("keep"),
    )


@query(
    "dedup_exact_normalized",
    oracle="""
    WITH n AS (
        SELECT doc_id, text,
               trim(regexp_replace(
                   lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')),
                   ' +', ' ', 'g')) AS norm
        FROM documents
    )
    SELECT sha256(norm) AS norm_hash,
           min(doc_id) AS keeper_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT text) AS BIGINT) AS n_raw_variants
    FROM n GROUP BY sha256(norm)
    """,
)
def dedup_exact_normalized(t: Tables) -> DataFrame:
    """Normalization-aware exact dedup — the C4-style 'fuzzy-exact'
    tier between dedup_exact (byte-identical only) and the shingle
    near-dup family: text is lowercased, stripped to [a-z0-9 ], and
    whitespace-collapsed BEFORE hashing, so case/punctuation/spacing
    reposts collapse into one group. n_raw_variants per group is the
    dividend report: groups with n_raw_variants > 1 are exactly the
    duplicates byte-hashing missed.

    Plan: identical to dedup_exact — normalization is a pure in-scan
    projection (lower + two regexp_replace, codegen), one hash-keyed
    shuffle. Spark's regexp_replace is global by default; the oracle
    needs DuckDB's explicit 'g' flag (probed) — a missed flag leaves
    first-match-only normalization and flips the hash.

    Order pins cross-engine determinism (ADVICE r7): the ASCII strip
    runs BEFORE lower(), so lower() only ever sees [A-Za-z0-9 ] — JVM
    and DuckDB lowercase some non-ASCII uppercase differently ('İ' →
    'i'+U+0307 vs 'i', final sigma), which would flip norm hashes on a
    non-ASCII corpus if lower() ran first. The cost: a non-ASCII
    uppercase whose lowercase IS ascii (e.g. Kelvin 'K' → 'k') no
    longer folds in — dropped instead, deterministically in both
    engines."""
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")),
            " +",
            " ",
        )
    )
    return (
        t.documents.select("doc_id", "text", F.sha2(norm, 256).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct("text").cast("long").alias("n_raw_variants"),
        )
    )


@query(
    "dedup_span_scrub",
    oracle="""
    WITH w AS (
        SELECT doc_id, text, string_split(text, ' ') AS ws,
               COALESCE(len(string_split(text, ' ')) // 8, 0) AS nch
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               array_to_string(
                   ws[(CAST(i AS BIGINT)*8+1):(CAST(i AS BIGINT)*8+8)],
                   ' ') AS chunk
        FROM w, unnest(range(nch)) AS u(i)
    ),
    cnt AS (SELECT chunk, count(*) AS n_occ FROM chunks GROUP BY chunk),
    per AS (
        SELECT c.doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_removed,
               string_agg(CASE WHEN n_occ < 2 THEN c.chunk END,
                          ' ' ORDER BY c.i) AS kept_txt
        FROM chunks c JOIN cnt USING (chunk) GROUP BY c.doc_id
    )
    SELECT w.doc_id,
           COALESCE(p.n_chunks, CAST(0 AS BIGINT)) AS n_chunks,
           COALESCE(p.n_removed, CAST(0 AS BIGINT)) AS n_removed,
           CASE WHEN w.text IS NULL THEN NULL
                ELSE concat_ws(' ', p.kept_txt,
                               nullif(array_to_string(
                                   ws[(nch*8+1):len(ws)], ' '), ''))
           END AS cleaned_text
    FROM w LEFT JOIN per p USING (doc_id)
    """,
)
def dedup_span_scrub(t: Tables) -> DataFrame:
    """The ACTION half of dedup_spans (C4-style): duplicated 8-word
    chunks (corpus-wide occurrence >= 2) are REMOVED from each
    document and the text is reassembled from the surviving chunks plus
    the partial tail — the rewrite a cleaning pipeline actually applies,
    where dedup_spans only reports. split('text')/array_to_string(' ')
    round-trips are lossless (empty tokens survive inside chunks), so a
    document with nothing removed reassembles BYTE-IDENTICAL — pinned in
    the planted test. Docs under 8 words pass through unchanged (and
    never enter the chunk shuffle — the dedup_spans skew rule); NULL
    text stays NULL on both engines.

    Plan: dedup_spans' exact chunk lineage (in-row chunking, ONE window
    over the chunk partition) plus an ordered in-row reassembly
    (collect filtered (i, chunk) structs, array_sort, array_join — the
    events_session_paths per-group ordering pattern, never a global
    sort); the per-doc tail is carried as a projected column so the
    fact table is scanned once."""
    from pyspark.sql import Window

    nch = F.expr("COALESCE(size(ws) div 8, 0)")
    docs = t.documents.select(
        "doc_id",
        "text",
        F.split(F.col("text"), " ").alias("ws"),
    ).select(
        "doc_id",
        "text",
        "ws",
        nch.alias("nch"),
        F.expr(
            "array_join(slice(ws, nch*8+1, greatest(size(ws) - nch*8, 0)), ' ')"
        ).alias("tail"),
    )
    long_docs = docs.filter(F.col("nch") >= 1)
    chunks = long_docs.select(
        "doc_id",
        "tail",
        F.posexplode(
            F.expr(
                "transform(sequence(0, nch - 1),"
                " i -> array_join(slice(ws, CAST(i*8+1 AS INT), 8), ' '))"
            )
        ).alias("i", "chunk"),
    )
    occ = chunks.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("chunk"))
    )
    per = occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("n_occ") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.expr(
            "array_join(transform(array_sort("
            " collect_list(CASE WHEN n_occ < 2 THEN struct(i, chunk) END)),"
            " p -> p.chunk), ' ')"
        ).alias("kept_txt"),
        F.first("tail").alias("tail"),
    )
    short = docs.filter(F.col("nch") < 1).select(
        "doc_id",
        F.lit(0).cast("long").alias("n_chunks"),
        F.lit(0).cast("long").alias("n_removed"),
        F.col("text").alias("cleaned_text"),
    )
    cleaned = F.concat_ws(
        " ",
        F.nullif(F.col("kept_txt"), F.lit("")),
        F.nullif(F.col("tail"), F.lit("")),
    )
    return per.select(
        "doc_id", "n_chunks", "n_removed", cleaned.alias("cleaned_text")
    ).unionByName(short)


def _funnel_oracle() -> str:
    """Composes the funnel oracle from the SIBLING KEYS' own oracle
    strings (the sim_recall_at_k pattern) so the report can never
    drift from what the parent keys certify."""
    from base_etl_spark.registry import REGISTRY

    spans_sql = REGISTRY["dedup_spans"].oracle
    return f"""
    WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
    ex AS (
        SELECT CAST(count(DISTINCT sha256(text)) AS BIGINT) AS kept
        FROM documents
    ),
    nrm AS (
        SELECT CAST(count(DISTINCT sha256(
                   trim(regexp_replace(
                       regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                       ' +', ' ', 'g')))) AS BIGINT) AS kept
        FROM documents
    ),
    sp AS (
        SELECT CAST(count(*) AS BIGINT) AS kept
        FROM ({spans_sql}) WHERE keep
    ),
    legs AS (
        SELECT 0 AS stage_ord, 'raw' AS stage, total AS docs_kept FROM tot
        UNION ALL SELECT 1, 'exact', kept FROM ex
        UNION ALL SELECT 2, 'exact_normalized', kept FROM nrm
        UNION ALL SELECT 3, 'span', kept FROM sp
    )
    SELECT stage_ord, stage, docs_kept,
           tot.total - docs_kept AS docs_removed,
           round(docs_kept * 1.0 / nullif(tot.total, 0), 6) AS pct_kept
    FROM legs CROSS JOIN tot
    """


@query("dedup_funnel_report", oracle=_funnel_oracle())
def dedup_funnel_report(t: Tables) -> DataFrame:
    """The dedup-family capstone: one funnel table showing how many
    documents each INDEPENDENT dedup tier would keep over the full
    corpus — raw count, exact (sha256), normalization-aware exact
    (dedup_exact_normalized's recipe), and span-level keep verdicts
    (dedup_spans' ratio <= 0.5 rule) — the one-page report a corpus
    owner reads before choosing which tiers to run in sequence. Tiers
    are measured independently (not chained), so each row answers
    'what does this tier alone buy'; the Spark span leg REUSES
    dedup_spans' registered body and the oracle nests that key's own
    oracle string (the sim_recall_at_k composition pattern), so the
    report cannot disagree with the keys it summarizes.

    Plan: three independent 1-row aggregates (two distinct-hash counts,
    one span-verdict count over the dedup_spans lineage) unioned with
    the raw count and joined to the 1-row total (broadcast combine, the
    events_ab_test allowlisted shape). Each leg is the SAME plan its
    parent key ships; nothing new shuffles."""
    from base_etl_spark.registry import REGISTRY

    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    tot = t.documents.agg(F.count(F.lit(1)).cast("long").alias("total"))
    ex = t.documents.agg(
        F.countDistinct(F.sha2("text", 256)).cast("long").alias("kept")
    )
    nrm = t.documents.agg(
        F.countDistinct(F.sha2(norm, 256)).cast("long").alias("kept")
    )
    sp = REGISTRY["dedup_spans"].fn.tables_fn(t).agg(
        # coalesce: sum over an EMPTY corpus is NULL where the oracle's
        # count(*) is 0 — found by the empty-tier sweep pre-commit
        F.coalesce(F.sum(F.when(F.col("keep"), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("kept")
    )

    def leg(df, ord_, name):
        return df.select(
            F.lit(ord_).alias("stage_ord"),
            F.lit(name).alias("stage"),
            F.col(df.columns[0]).alias("docs_kept"),
        )

    legs = (
        leg(tot, 0, "raw")
        .unionByName(leg(ex, 1, "exact"))
        .unionByName(leg(nrm, 2, "exact_normalized"))
        .unionByName(leg(sp, 3, "span"))
    )
    return legs.crossJoin(F.broadcast(tot)).select(
        "stage_ord",
        "stage",
        "docs_kept",
        (F.col("total") - F.col("docs_kept")).alias("docs_removed"),
        F.round(
            F.col("docs_kept") * 1.0 / F.nullif(F.col("total"), F.lit(0)), 6
        ).alias("pct_kept"),
    )


@query("dedup_bucket_stats", oracle=None)  # R: xxhash64-seeded bucket keys
def dedup_bucket_stats(t: Tables) -> DataFrame:
    """LSH bucket-size distribution per band — the observability face of
    the r8 skew guard (bucket_pairs' cap): per band, how many buckets
    have >1 member (candidate-producing), the largest bucket, the total
    pair expansion the band will emit, and how many buckets exceed
    BUCKET_CAP (the count the cap would skip). On a healthy corpus
    n_overflow is 0 everywhere; a nonzero row is the early warning that
    a dup-class explosion (or a banding bug) is about to concentrate
    quadratic work — read this BEFORE dedup_near_minhash at a new scale.

    Plan: the banding projection is in-row; ONE shuffle keyed by
    (band, bh) sizes every bucket, then an 8-row re-agg per band. The
    pair-expansion column is Σ n·(n−1)/2 over buckets — computed from
    SIZES, never by materializing pairs. Rows-only (bucket keys are
    Spark-xxhash64-specific); self-checked in tests against
    bucket_overflow and the fixture's known dup structure."""
    sizes = (
        banded_signatures(minhash_signatures(t.documents))
        .groupBy("band", "bh")
        .agg(F.countDistinct("doc_id").alias("n"))
        .filter(F.col("n") > 1)
    )
    return (
        sizes.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_multi_buckets"),
            F.max("n").cast("long").alias("max_bucket"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_pairs"),
            F.sum((F.col("n") > BUCKET_CAP).cast("long")).alias("n_overflow"),
        )
        .orderBy("band")
    )


_PREFIX_TOKENS = 4  # fixture-calibrated (vocab 31: 4-token prefixes
# collide ~20x per corpus); real crawls use 16-32 token prefixes — the
# constant is the ONLY thing that changes


@query(
    "dedup_prefix_cluster",
    oracle=f"""
    WITH p AS (
        SELECT doc_id,
               sha256(array_to_string(string_split(text, ' ')[1:{_PREFIX_TOKENS}], ' '))
                   AS prefix_hash,
               sha256(text) AS full_hash
        FROM documents
    )
    SELECT prefix_hash,
           CAST(count(*) AS BIGINT)                    AS n_docs,
           CAST(count(DISTINCT full_hash) AS BIGINT)   AS n_distinct_texts,
           CAST(min(doc_id) AS BIGINT)                 AS keep_doc_id
    FROM p
    GROUP BY prefix_hash
    HAVING count(*) > 1
    """,
)
def dedup_prefix_cluster(t: Tables) -> DataFrame:
    """Prefix-hash clustering — the cheapest member of the dedup
    ladder (below exact-normalized and far below MinHash): documents
    sharing their first-N-token prefix are one cluster, catching
    templated openings, mirrored articles with appended footers, and
    truncation variants for the price of ONE projection + ONE hash
    shuffle. n_distinct_texts separates pure exact-dup clusters
    (== 1, already handled by dedup_exact) from the interesting
    prefix-collides-but-body-differs clusters a reviewer samples.
    keep_doc_id is the deterministic survivor under a keep-first
    policy (min doc_id — the dedup_exact convention).

    Scale: the shuffle key is the 32-byte prefix digest, never the
    text (the dedup_exact lesson); clusters are emitted only above
    size 1, so output is collision-bounded. Real pipelines raise
    _PREFIX_TOKENS to 16-32; the plan is unchanged."""
    p = t.documents.select(
        "doc_id",
        F.sha2(
            F.array_join(F.slice(F.split("text", " "), 1, _PREFIX_TOKENS), " "), 256
        ).alias("prefix_hash"),
        F.sha2("text", 256).alias("full_hash"),
    )
    return (
        p.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("full_hash").cast("long").alias("n_distinct_texts"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _source_matrix_oracle() -> str:
    """Composed from dedup_near_jaccard's oracle string (the exact tier
    dedup_near_minhash is certified against), so the matrix can never
    disagree with what the pair keys certify."""
    from base_etl_spark.registry import REGISTRY

    pairs = REGISTRY["dedup_near_jaccard"].oracle
    return f"""
    WITH p AS (SELECT * FROM ({pairs}) x)
    SELECT least(da.source, db.source)    AS source_lo,
           greatest(da.source, db.source) AS source_hi,
           CAST(count(*) AS BIGINT)       AS n_pairs,
           round(avg(p.jaccard), 6)       AS avg_jaccard
    FROM p
    JOIN documents da ON p.doc_a = da.doc_id
    JOIN documents db ON p.doc_b = db.doc_id
    GROUP BY source_lo, source_hi
    """


@query("dedup_source_matrix", oracle=_source_matrix_oracle())
def dedup_source_matrix(t: Tables) -> DataFrame:
    """Cross-source near-duplicate matrix: verified near-dup pairs
    rolled up by (source, source) — the mirror-site detector and the
    number that decides which crawl source to DROP when two sources
    keep duplicating each other (off-diagonal mass = cross-source
    contamination; diagonal = within-source redundancy). Source pairs
    are canonicalized (least/greatest) so the matrix is the upper
    triangle. Pairs come from dedup_near_minhash's verified tier (the
    100 TB path); the oracle composes the exact-Jaccard tier those
    pairs are certified against, so this report cannot drift from the
    pair keys.

    Scale: the pair frame is near-dup-bounded (not corpus-bounded);
    two doc_id-keyed joins attach sources, then one hash agg to
    source-pair cardinality (~sources² rows)."""
    from base_etl_spark.registry import REGISTRY

    pairs = REGISTRY["dedup_near_minhash"].fn.tables_fn(t)
    docs = t.documents.select("doc_id", "source")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )

