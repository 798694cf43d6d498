"""Deduplication operators for training-data pipelines (SURVEY.md
§7.5): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Scale design: every method is join/aggregate-shaped —

* exact: hash-groupBy on a content digest; one shuffle on the digest.
* n-gram Jaccard: inverted-index self-join on shingles (explode →
  join on shingle → per-pair intersection counts) — never an O(n²)
  cross join; the shingle index shards the pair space.
* MinHash+LSH: signatures are per-row expressions (transform/
  array_min over shingles — JVM codegen, no UDF); banding hashes
  signature slices so only same-bucket rows join (the classic
  sub-quadratic near-dup path at 100 TB).
* SimHash: 64-bit sign-aggregated word-hash, hamming-distance check
  within LSH buckets of bit-prefixes.
* embedding cosine: normalized dot products, either brute top-k for
  small query sets or bucketed via random hyperplanes (similarity.py).

Hashing: operators whose DIGEST VALUES reach the output or a
persisted index (exact dedup, the streaming digest index) use md5 so
DuckDB reproduces the digests; operators where only digest EQUALITY
matters use JVM ``xxhash64`` longs — ~20× cheaper than md5 and 8
bytes instead of 32 chars through every shuffle.  The sketch
operators (minhash, simhash) also use ``xxhash64``, reproduced
bit-exactly in SQL by ``queries/xxh64_sql.py`` for their full
hash-matched oracles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from fastmlframework_spark.core import checkpoints

def _spread(df: DataFrame) -> DataFrame:
    """Repartition across all cores.  Small parquet inputs arrive as
    1-2 splits; the sketch computations (per-row hash arrays) are
    CPU-bound, so an up-front round-robin shuffle of the (tiny) rows
    buys full parallelism.  Routed through ``fan_out`` (OPTIMIZATION
    r14) so it really IS a no-op at real scale — the previous
    unconditional ``repartition`` would have round-robin-shuffled a
    100 TB corpus that already carried thousands of splits."""
    from fastmlframework_spark.core.tables import fan_out

    return fan_out(df)


def _materialize_release(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Eagerly materialize a compact pair output via localCheckpoint,
    then release the cached intermediates backing its lineage.  The
    shingle/signature caches are reused by 2-4 branches of one plan;
    without this, repeated dedup calls in a long session accumulate
    executor storage (ADVICE r3 — same leak class as the fixed
    pq_topk cache).  Values and schema are unchanged; the trade is
    eager execution at call time, consistent with
    ``connected_components``/``semantic_dedup`` in this module.

    The checkpointed handle's explain() shows only `Scan ExistingRDD`,
    so the un-checkpointed frame rides along as ``_plan_evidence`` —
    the plan that actually executed during materialization — for
    tools/plan_report.py and plan tests.

    Caller contract: the checkpoint RDD stays pinned in executor
    storage until released — when done with the result, call
    ``release_checkpoint(result)``.
    On a real cluster localCheckpoint data is NOT recoverable after
    executor loss (unlike a reliable checkpoint); callers running
    long multi-stage jobs on preemptible nodes should write/read an
    explicit parquet intermediate instead.  ``_plan_evidence`` is a
    Python-side attribute: it survives only on this exact handle and
    silently disappears after any further DataFrame transformation."""
    ckpt = checkpoints.checkpoint(out, eager=True)
    for c in cached:
        c.unpersist()
    ckpt._plan_evidence = out
    return ckpt


def release_checkpoint(df: DataFrame) -> None:
    """Free the executor storage pinned by a ``_materialize_release``
    result once the caller is done with it.  A no-op on frames whose
    checkpoint ``core.checkpoints`` did not create.

    VERDICT r13 #1: the old ``df.rdd.unpersist()`` form never freed
    anything — ``.rdd`` wraps the persisted internal RDD in a fresh
    unpersisted MapPartitionsRDD — so this now routes through
    ``core.checkpoints.release``, which unpersists the ``LogicalRDD``
    node's RDD (the one actually holding the blocks)."""
    checkpoints.release(df)


def exact_dedup(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: survivors = min key per content digest →
    [key, n_copies].  Grouping on the md5 digest, not the full text,
    keeps shuffle rows small at scale."""
    return (
        df.withColumn("__digest", F.md5(F.col(text_col)))
        .groupBy("__digest")
        .agg(
            F.min(key_col).alias(key_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__digest")
    )


def shingle_sets(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    words: bool = True,
) -> DataFrame:
    """Distinct n-gram shingle DIGEST set per document → [key,
    shingle_set: array<long>, n_sh: int], ONE row per document, with
    each shingle an 8-byte ``xxhash64`` long.  Word shingles by
    default (reference-free extension; char shingles via words=False).

    Every consumer (Jaccard inverted-index joins, PPJoin prefixes,
    contamination containment) uses shingles only for EQUALITY, so
    the digest replaces the string everywhere: joins, groupBys and
    collect_lists move 8-byte longs instead of ~(5·n)-char strings,
    and the word path never materializes a window string at all —
    the split array is projected once per doc (inlining it into the
    transform lambda re-evaluates the split per window, O(len²) per
    doc), each word is hashed once, and each window digests as an
    ``xxhash64`` chain over its n word-hash longs.  The chain is
    injective on token tuples exactly like a single-space join
    (tokens cannot contain whitespace), so equality classes — and
    every downstream oracle-checked count — are unchanged up to
    64-bit collisions (~n²/2⁶⁵, the family's standing budget).

    The ARRAY form is the cache/materialization unit for the pair
    joins: one compact row per doc (vs ~|doc| exploded rows), and the
    set size is carried map-side as ``n_sh`` — consumers never need a
    per-key count aggregation (a corpus-wide shuffle) to learn |A|."""
    if words:
        hargs = ", ".join(
            f"try_element_at(__wa, __i + {k})" for k in range(n)
        )
        # The whole set is ONE let-bound expression — the word-hash
        # array binds as `transform(array(<expr>), __wa -> ...)[0]`
        # (the Spark-side twin of xxh64_sql's let idiom) instead of a
        # separate projection.  A projected __wa column survives only
        # until an optimizer collapse: under explode()/Generate
        # consumers CollapseProject inlines it into every chain slot,
        # re-evaluating split+hash per window — the O(len²) trap this
        # docstring warns about, measured LIVE at 13.2 s vs 1.4 s for
        # the sf0.1 documents explode (r7).  The let form is immune in
        # every consumer, cached or not.
        arr = F.expr(
            f"transform(array(transform(split({text_col}, '\\\\s+'),"
            " __w -> xxhash64(__w))),"
            " __wa -> array_distinct("
            f"transform(sequence(1, greatest(size(__wa) - {n - 1}, 1)),"
            f" __i -> xxhash64({hargs}))))[0]"
        )
        base = _spread(df).select(F.col(key_col), F.col(text_col))
    else:
        base = _spread(df).select(F.col(key_col), F.col(text_col))
        arr = F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
                f" i -> xxhash64(substring({text_col}, i, {n})))"
            )
        )
    return base.select(
        F.col(key_col), arr.alias("shingle_set")
    ).withColumn("n_sh", F.size("shingle_set"))


def shingles(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    words: bool = True,
) -> DataFrame:
    """Exploded view of ``shingle_sets`` → [key, shingle], one row per
    distinct (doc, shingle).  The inverted-index building block for
    consumers that don't need the per-doc array (containment joins)."""
    return shingle_sets(df, key_col, text_col, n, words).select(
        F.col(key_col), F.explode("shingle_set").alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via inverted-index self-join →
    [key_a, key_b, jaccard] with key_a < key_b.

    |A∩B| from the shingle-equi-join, |A∪B| = |A|+|B|−|A∩B|; only
    pairs sharing ≥1 shingle are ever materialized.

    Set sizes ride the exploded index rows (+8 bytes/row through the
    self-join shuffle) so |A| and |B| come out of the SAME aggregation
    as |A∩B| — no per-key count shuffle, no corpus-sized size joins
    after the pair aggregate (they were 2 of this operator's 3
    shuffle stages beyond the self-join, for data already known
    map-side)."""
    sets = shingle_sets(df, key_col, text_col, n).cache()
    ex = sets.select(
        F.col(key_col), "n_sh", F.explode("shingle_set").alias("shingle")
    )
    a = ex.select(
        F.col(key_col).alias("key_a"), F.col("n_sh").alias("na"), "shingle"
    )
    b = ex.select(
        F.col(key_col).alias("key_b"), F.col("n_sh").alias("nb"), "shingle"
    )
    out = (
        a.join(b, on="shingle")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        # Threshold the UNROUNDED ratio (matching the SQL oracle);
        # rounding only in the final projection.  Filtering the rounded
        # value would keep pairs that round up across the threshold
        # (e.g. true jaccard 0.5999996 at threshold 0.6).
        .withColumn(
            "__jacc",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("__jacc") >= threshold)
        .select("key_a", "key_b", F.round("__jacc", 6).alias("jaccard"))
    )
    return _materialize_release(out, sets)


def containment_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Shingle CONTAINMENT near-dup pairs → [key_a, key_b, containment]
    with key_a < key_b and containment = |A∩B| / min(|A|, |B|).

    Symmetric Jaccard misses subset-duplicates: a document fully
    embedded in a 5×-longer one has J = |A|/|B| ≈ 0.2 but containment
    1.0 — the truncation/quote/boilerplate-wrap duplicates a crawl
    actually contains (Broder's resemblance-vs-containment split).
    Same inverted-index self-join as ``ngram_jaccard_pairs`` — set
    sizes ride the index rows, one aggregation, no post-joins — only
    the denominator differs.  The equi-join still requires ≥1 shared
    shingle, so the pair space stays output-bounded, and the
    UNROUNDED ratio is thresholded to match the SQL twin."""
    sets = shingle_sets(df, key_col, text_col, n).cache()
    ex = sets.select(
        F.col(key_col), "n_sh", F.explode("shingle_set").alias("shingle")
    )
    a = ex.select(
        F.col(key_col).alias("key_a"), F.col("n_sh").alias("na"), "shingle"
    )
    b = ex.select(
        F.col(key_col).alias("key_b"), F.col("n_sh").alias("nb"), "shingle"
    )
    out = (
        a.join(b, on="shingle")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .withColumn(
            "__cont", F.col("common") / F.least(F.col("na"), F.col("nb"))
        )
        .filter(F.col("__cont") >= threshold)
        .select("key_a", "key_b", F.round("__cont", 6).alias("containment"))
    )
    return _materialize_release(out, sets)


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    sort_prefix_chars: int = 24,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs → [key_a, key_b, jaccard]
    (key_a < key_b): sort the corpus on a normalized text prefix,
    compare each document ONLY against its ``window - 1`` successors
    in the sort order, verify with exact shingle-set Jaccard
    (Hernández & Stolfo's SNM, the classic blocking alternative to
    LSH banding).

    Complement, not replacement, of ``minhash_lsh_pairs``: SNM
    catches prefix-sharing duplicates (truncations, boilerplate
    headers, re-crawls) in O(N·w) candidate pairs with ONE sort and
    no signature computation — but misses duplicates whose difference
    falls inside the sort key.  Production pipelines run several
    cheap keys; the key here is the first ``sort_prefix_chars`` chars
    of whitespace-collapsed lowercase text.

    Scale shape: the global order comes from ``curation.global_rank``
    (range-partitioned distributed sort — no single-partition
    window); neighbor candidates come from a BLOCK equi-join, not a
    rank range-join: rows land in fixed blocks of ``window`` ranks,
    side B is additionally emitted to the previous block, and pairs
    join on equal block id with a rank-distance filter — every pair
    with rank distance < window co-occurs in exactly one group
    (a's own block), each group holds ≤ 3·window rows, so the join is
    skew-free by construction.  Digest shingle-sets ride the block
    shuffle as compact arrays; Jaccard is per-row array arithmetic —
    no pair aggregation shuffle at all (contrast with the
    inverted-index path, which explodes to shingle rows)."""
    from fastmlframework_spark.extensions.curation import global_rank

    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    sk = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "),
        1,
        sort_prefix_chars,
    )
    ranked = global_rank(
        df.select(key_col, text_col).withColumn("__sk", sk),
        order_cols=["__sk", key_col],
        keep_cols=[key_col],
        rank_col="__rank",
    )
    sets = shingle_sets(df, key_col, text_col, n)
    r = (
        ranked.join(sets, on=key_col)
        .withColumn(
            "__blk", F.floor((F.col("__rank") - 1) / window).cast("long")
        )
        .cache()
    )
    a = r.select(
        F.col(key_col).alias("__ka"),
        F.col("__rank").alias("__ra"),
        F.col("shingle_set").alias("__sa"),
        F.col("n_sh").alias("__na"),
        F.col("__blk").alias("__g"),
    )
    b = r.select(
        F.col(key_col).alias("__kb"),
        F.col("__rank").alias("__rb"),
        F.col("shingle_set").alias("__sb"),
        F.col("n_sh").alias("__nb"),
        F.explode(
            F.array(F.col("__blk"), F.col("__blk") - F.lit(1))
        ).alias("__g"),
    ).filter(F.col("__g") >= 0)
    inter = F.size(F.array_intersect("__sa", "__sb"))
    out = (
        a.join(b, on="__g")
        .filter(
            (F.col("__rb") - F.col("__ra")).between(1, window - 1)
        )
        .withColumn("__c", inter)
        .withColumn(
            "__jacc",
            F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c")),
        )
        .filter(F.col("__jacc") >= threshold)
        .select(
            F.least("__ka", "__kb").alias("key_a"),
            F.greatest("__ka", "__kb").alias("key_b"),
            F.round("__jacc", 6).alias("jaccard"),
        )
    )
    return _materialize_release(out, r)


# Universal-hash constants: h_j(x) = a_j*x31 + b_j where x31 is the
# base hash masked to 31 bits — products stay < 2^62, so the
# arithmetic is ANSI-mode safe (Spark 4 throws on bigint overflow;
# the driver's session runs ANSI on).  The a_j must be INDEPENDENT
# random odd values: near-identical multipliers would give all hashes
# the same argmin element and destroy the Jaccard-estimator property.
def _mh_constants(seed: int, num_hashes: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(1_000_003 * seed + 7)
    return [
        (rng.randrange(1, 1 << 31) | 1, rng.randrange(0, 1 << 31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures → [key, mh_0..mh_{H-1}].

    One ``xxhash64`` pass over the shingle array (materialized once),
    then each of the ``num_hashes`` minhashes is an ``array_min`` over
    a cheap universal rehash ``a_j*h + b_j`` of that SAME array — the
    classic one-base-hash scheme.  Everything is a per-row JVM
    expression: zero shuffles, zero Python, and the costly string hash
    runs once per shingle instead of once per (shingle, hash).

    The split array is PROJECTED before the window transform —
    referencing ``split()`` inside the slice lambda re-evaluates it
    per window (O(len²) per doc; the trap measured at 2-3× total cost
    in ``repetition_signals``/``_span_windows``).  The shingle STRING
    itself must stay (unlike the digest-only ``shingles``): the
    bit-exact DuckDB twin (``queries/xxh64_sql.py``) reproduces
    ``xxhash64(shingle_string, seed)`` byte-for-byte, which is what
    makes the minhash/simhash oracles full hash matches."""
    shingle_arr = (
        f"transform(sequence(1, greatest(size(__wsm) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice(__wsm, i, {n})))"
    )
    base = (
        _spread(df)
        .select(
            key_col,
            F.expr(f"split({text_col}, '\\\\s+')").alias("__wsm"),
        )
        .select(
            key_col,
            F.expr(
                f"transform({shingle_arr}, s -> xxhash64(s, {seed}) & 2147483647L)"
            ).alias("__h"),
        )
    )
    consts = _mh_constants(seed, num_hashes)
    # Carter-Wegman: (a*h + b) mod p, p = 2^31-1 (Mersenne prime).
    # The mod is essential — without it the map is monotone in h and
    # every hash would share one argmin.  Products stay < 2^62 (ANSI-safe).
    cols = {
        f"mh_{j}": F.expr(
            f"array_min(transform(__h, h -> pmod(h * {a}L + {b}L, 2147483647L)))"
        )
        for j, (a, b) in enumerate(consts)
    }
    return base.withColumns(cols).drop("__h")


def _banded(
    sig: DataFrame, key_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """[key, band, band_digest] from a signature frame: each band's
    slot-concatenation hashed to one 64-bit digest (the LSH bucket
    key).  One explode over an inline (band, digest) struct array —
    a single pass over ``sig``, so the signatures are computed ONCE
    even when ``sig`` is not cached (a 4-way union of selects would
    re-derive the per-shingle hashing per band)."""
    rows_per_band = num_hashes // bands
    entries = []
    for b in range(bands):
        slots = [f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)]
        digest = F.xxhash64(*[F.col(s) for s in slots])
        entries.append(F.struct(F.lit(b).alias("band"), digest.alias("band_digest")))
    return sig.select(
        F.col(key_col), F.explode(F.array(*entries)).alias("__bd")
    ).select(key_col, "__bd.band", "__bd.band_digest")


def minhash_band_index(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """The persisted LSH index of a corpus → [key, band, band_digest]
    (``bands`` rows per document).  Production pipelines materialize
    this once and probe it at ingest time
    (``incremental_minhash_dedup``) — 8-16 bytes/row × bands, never
    recomputed from text.

    NULL-text docs are excluded: their minhash slots would all be
    NULL and ``xxhash64`` over all-NULL slots is one CONSTANT digest,
    so every contentless doc in the corpus would share a single LSH
    bucket — index pollution, and a semantics mismatch with the SQL
    twin where NULL signatures never join-equal."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    sig = minhash_signatures(
        df.filter(F.col(text_col).isNotNull()),
        key_col, text_col, n, num_hashes, seed,
    )
    return _banded(sig, key_col, num_hashes, bands)


def incremental_minhash_dedup(
    new_batch: DataFrame,
    corpus_index: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    seed: int = 42,
    precomputed_bands: DataFrame | None = None,
) -> DataFrame:
    """Ingest-time NEAR-dup screen of a new batch against the corpus
    LSH index → [key, n_corpus_matches] for every batch document
    (0 = novel, survivors of a drop-matches policy).

    The near-dup twin of ``incremental_exact_dedup`` with the same
    scale contract: ``corpus_index`` (bands rows per corpus doc, built
    once by ``minhash_band_index``) is the HUGE side and is scanned
    ONCE with a BROADCAST probe of the small batch's band digests —
    the index is never shuffled, no signature recomputation for the
    corpus, and the candidate count per batch doc is exact band-
    collision fan-in.

    NULL-text batch docs have no content to collide on and come back
    with 0 matches (novel), keeping the one-row-per-batch-document
    contract — and matching the SQL twin's LEFT JOIN, which reports
    them as zero rather than dropping them.

    ``precomputed_bands`` lets a caller that already built the batch's
    band rows (the streaming ingest path, which also self-probes and
    index-appends them) skip the second signature computation — it
    must be the ``minhash_band_index`` layout for the same
    (n, num_hashes, bands, seed)."""
    if precomputed_bands is not None:
        batch_bands = precomputed_bands.select(
            F.col(key_col).alias("__bk"), "band", "band_digest"
        )
    else:
        with_text = new_batch.filter(F.col(text_col).isNotNull())
        batch_bands = minhash_band_index(
            with_text, key_col, text_col, n, num_hashes, bands, seed
        ).select(
            F.col(key_col).alias("__bk"), "band", "band_digest"
        )
    matches = (
        corpus_index.join(
            F.broadcast(batch_bands), on=["band", "band_digest"]
        )
        .select("__bk", F.col(key_col).alias("__ck"))
        .distinct()
        .groupBy("__bk")
        .agg(F.count(F.lit(1)).alias("n_corpus_matches"))
    )
    keys = new_batch.select(F.col(key_col).alias("__bk")).distinct()
    return (
        keys.join(F.broadcast(matches), on="__bk", how="left")
        .select(
            F.col("__bk").alias(key_col),
            F.coalesce("n_corpus_matches", F.lit(0)).alias(
                "n_corpus_matches"
            ),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    seed: int = 42,
    verify_threshold: float | None = 0.6,
) -> DataFrame:
    """MinHash+LSH candidate pairs → [key_a, key_b, sig_agreement].

    Banding: ``bands`` groups of ``num_hashes/bands`` signature slots;
    a pair is a candidate iff some band's slot-concatenation hashes
    equal (join on (band, band_digest)) — the sub-quadratic path.
    ``verify_threshold`` keeps candidates whose full-signature
    agreement fraction (Jaccard estimate) clears it.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    sig = minhash_signatures(df, key_col, text_col, n, num_hashes, seed).cache()
    banded = _banded(sig, key_col, num_hashes, bands)
    left = banded.select(F.col(key_col).alias("key_a"), "band", "band_digest")
    right = banded.select(F.col(key_col).alias("key_b"), "band", "band_digest")
    cand = (
        left.join(right, on=["band", "band_digest"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )

    sig_a = sig.select(
        F.col(key_col).alias("key_a"),
        *[F.col(f"mh_{j}").alias(f"a_{j}") for j in range(num_hashes)],
    )
    sig_b = sig.select(
        F.col(key_col).alias("key_b"),
        *[F.col(f"mh_{j}").alias(f"b_{j}") for j in range(num_hashes)],
    )
    agree = sum(
        F.when(F.col(f"a_{j}") == F.col(f"b_{j}"), 1).otherwise(0)
        for j in range(num_hashes)
    ) / F.lit(float(num_hashes))
    out = (
        cand.join(sig_a, on="key_a")
        .join(sig_b, on="key_b")
        .withColumn("sig_agreement", F.round(agree, 6))
        .select("key_a", "key_b", "sig_agreement")
    )
    if verify_threshold is not None:
        out = out.filter(F.col("sig_agreement") >= verify_threshold)
    return _materialize_release(out, sig)


def simhash(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """SimHash → [key, simhash]: per-bit sign of the summed ±1
    contributions of word hashes.

    Entirely per-row: the distinct-word ``xxhash64`` array is
    materialized once, then ALL ``bits`` ±1 bit-sums accumulate in ONE
    ``aggregate`` pass with an array accumulator (``zip_with`` over the
    bit positions) — NO explode, NO shuffle, a pure map at any scale.
    One pass beats per-bit ``aggregate`` expressions ~6× (measured at
    sf0.1): the word-hash array is traversed once instead of ``bits``
    times, and the whole fold stays a single codegen expression.
    64 bits by default: at 64 bits random texts essentially never land
    within small hamming distance, so pair output stays proportional
    to true near-dups."""
    if not 1 <= bits <= 64:
        raise ValueError("bits must be in [1, 64]")
    base = _spread(df).select(
        F.col(key_col),
        F.expr(
            f"transform(array_distinct(split({text_col}, '\\\\s+')),"
            " w -> xxhash64(w))"
        ).alias("__h"),
    )
    sums = (
        f"aggregate(__h, array_repeat(0, {bits}), (acc, h) -> "
        f"zip_with(acc, sequence(0, {bits - 1}), "
        "(a, b) -> a + if((shiftright(h, b) & 1L) = 1L, 1, -1)))"
    )
    # Bit 63 is the sign bit: 1<<63 as signed long is LONG_MIN;
    # adding it to the (< 2^63) partial sum cannot overflow.
    fingerprint = (
        f"aggregate(zip_with({sums}, sequence(0, {bits - 1}), (s, b) -> "
        "if(s > 0, if(b = 63, -9223372036854775808L, shiftleft(1L, b)), 0L)),"
        " 0L, (a, v) -> a + v)"
    )
    return base.select(F.col(key_col), F.expr(fingerprint).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    max_hamming: int = 3,
    prefix_bits: int | None = None,  # kept for API compat; unused
) -> DataFrame:
    """SimHash near-dup pairs → [key_a, key_b, hamming], EXACT for
    hamming ≤ ``max_hamming``.

    Pigeonhole block-LSH: split the fingerprint into ``max_hamming+1``
    bit blocks — any pair within the hamming budget must agree on at
    least one whole block, so the self-join on (block_idx, block_value)
    finds every qualifying pair while keeping the join block-local
    (the sub-quadratic candidate structure at 100 TB).  Candidates are
    verified with ``bit_count(xor)``."""
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    # The fingerprint table is tiny (key + 8 bytes/row) but costly to
    # compute — cache it so the n_blocks×2 join branches reuse one pass.
    sh = simhash(df, key_col, text_col, bits).cache()
    blocks = []
    for i in range(n_blocks):
        width = bits - i * block_bits if i == n_blocks - 1 else block_bits
        mask = (1 << width) - 1
        blocks.append(
            sh.select(
                F.col(key_col),
                F.col("simhash"),
                F.lit(i).alias("blk"),
                F.expr(
                    f"shiftright(simhash, {i * block_bits}) & {_s64(mask)}L"
                ).alias("blk_val"),
            )
        )
    from functools import reduce

    banded = reduce(lambda x, y: x.unionByName(y), blocks)
    a = banded.select(
        F.col(key_col).alias("key_a"), F.col("simhash").alias("ha"),
        "blk", "blk_val",
    )
    b = banded.select(
        F.col(key_col).alias("key_b"), F.col("simhash").alias("hb"),
        "blk", "blk_val",
    )
    # Verify (bit_count on the xor — pure codegen, no state) BEFORE
    # deduplicating across blocks: template-heavy corpora make block
    # collisions far denser than true near-dups, and running distinct
    # on raw candidates shuffles the whole candidate volume.  Filtering
    # first means the distinct only carries pairs that actually pass
    # the hamming budget.
    out = (
        a.join(b, on=["blk", "blk_val"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("hamming", F.bit_count(F.expr("ha ^ hb")))
        .filter(F.col("hamming") <= max_hamming)
        .select("key_a", "key_b", "hamming")
        .distinct()
    )
    return _materialize_release(out, sh)


def _s64(v: int) -> int:
    """Two's-complement signed view of a 64-bit value (legal literal)."""
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= 1 << 63 else v


def connected_components(
    edges: DataFrame,
    src: str = "key_a",
    dst: str = "key_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list →
    [node, component] where component = min node id of the component.

    Iterative min-label propagation: every node starts labeled with
    itself; each round pulls the minimum label across neighbors; stop
    when no label changes.  Each round is one join + one groupBy —
    all-distributed, converging in O(component diameter) rounds
    (duplicate clusters are near-cliques: 2-3 rounds).  This is the
    dedup-clustering step that turns near-dup PAIRS into groups with
    one canonical survivor each.
    """
    both = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).cache()
    nodes = both.select(F.col("u").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node"))
    prev = None
    for _ in range(max_iter):
        neighbor_min = (
            labels.join(both, labels["node"] == both["u"])
            .select(F.col("v").alias("node"), "component")
            .groupBy("node")
            .agg(F.min("component").alias("__nmin"))
        )
        updated = (
            labels.join(neighbor_min, on="node", how="left")
            .withColumn(
                "__new", F.least(F.col("component"), F.col("__nmin"))
            )
            .select(
                "node",
                F.coalesce("__new", "component").alias("component"),
                (F.coalesce("__new", "component") != F.col("component"))
                .cast("int")
                .alias("__chg"),
            )
        ).cache()
        changed = updated.agg(F.sum("__chg")).first()[0] or 0
        if prev is not None:
            prev.unpersist()  # keep at most one cached iteration live
        prev = updated
        labels = updated.drop("__chg")
        if changed == 0:
            break
    else:
        # Silent non-convergence would hand back wrong component ids
        # for any component with diameter > max_iter.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing); raise "
            "max_iter (rounds needed = component diameter)"
        )
    both.unpersist()
    # Truncate the iterative lineage (one join+agg layer per round):
    # downstream plans embedding it can grow until plan construction
    # itself exhausts driver memory.  The frame is label-table-sized
    # and the loop already materialized it, so the checkpoint is a
    # cheap copy.  Tracked so the session owner can release it; the
    # final iteration's cache is dead once the checkpoint holds the
    # rows, so drop it here instead of leaving it to clearCache().
    out = checkpoints.checkpoint(labels, eager=True)
    if prev is not None:
        prev.unpersist()
    return out


#: Hard ceiling for the exact all-pairs path.  Above this the O(n²)
#: cross join is a cartesian scale-killer; use ``lsh_dup_pairs``.
MAX_EXACT_ROWS = 100_000


def embedding_dup_pairs(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_rows: int | None = MAX_EXACT_ROWS,
) -> DataFrame:
    """Embedding-cosine near-dup pairs → [key_a, key_b, cosine].

    Exact all-pairs self-join, engineered for the nested-loop scan:

    * cosine = dot/(|a||b|) with per-row scalar norms (arrays stay the
      parquet-primitive floats — no boxed transform arrays in the hot
      loop);
    * an exact-safe Cauchy-Schwarz prefilter: partial_dot(prefix) +
      |a_tail|*|b_tail| >= t*|a||b| is NECESSARY for cosine >= t, so
      the full-width dot only runs on survivors (no false negatives);
    * streamed side repartitioned over all cores (small inputs arrive
      as 1-2 parquet splits).

    This is the ORACLE path only (recall ground truth for the LSH
    variant) and is size-guarded: above ``max_rows`` rows it raises
    instead of launching a cartesian join that cannot finish at scale.
    The sub-quadratic path for 100 TB is ``lsh_dup_pairs`` /
    similarity.lsh_topk (same verify expression); pass
    ``max_rows=None`` to bypass the guard deliberately."""
    from fastmlframework_spark.extensions.similarity import vec_dim

    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"embedding_dup_pairs is the exact O(n²) oracle path; "
                f"input has {n} rows > max_rows={max_rows}. Use "
                "lsh_dup_pairs (sub-quadratic) or pass max_rows=None."
            )

    dim = vec_dim(df, vec_col)
    prefix = min(16, dim)
    norm = (
        f"sqrt(aggregate({vec_col}, 0.0D, (a, v) -> a + cast(v as double)*v))"
    )
    tail = (
        f"sqrt(aggregate(slice({vec_col}, {prefix + 1}, {dim - prefix}),"
        " 0.0D, (a, v) -> a + cast(v as double)*v))"
        if prefix < dim
        else "0.0D"
    )

    def side(tag: str, key_alias: str) -> DataFrame:
        return df.select(
            F.col(key_col).alias(key_alias),
            F.col(vec_col).alias(f"e{tag}"),
            F.expr(norm).alias(f"n{tag}"),
            F.expr(tail).alias(f"t{tag}"),
        )

    par = df.sparkSession.sparkContext.defaultParallelism
    a = side("a", "key_a").repartition(par)
    b = side("b", "key_b")
    pdot = " + ".join(
        f"cast(ea[{i}] as double) * eb[{i}]" for i in range(prefix)
    )
    fdot = " + ".join(
        f"cast(ea[{i}] as double) * eb[{i}]" for i in range(dim)
    )
    return (
        a.crossJoin(b)
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(F.expr(f"({pdot}) + ta * tb >= {threshold!r}D * na * nb"))
        .withColumn("cosine", F.round(F.expr(f"({fdot}) / (na * nb)"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("key_a", "key_b", "cosine")
    )


def adaptive_n_planes(n: int, rows_per_bucket: int = 128) -> int:
    """Plane count for constant expected bucket occupancy —
    ``max(4, ceil(log2(n / rows_per_bucket)))``.  One definition
    shared by ``lsh_dup_pairs``'s default and the oracle generators
    that must inline the plane count for a known corpus size."""
    import math

    return max(4, math.ceil(math.log2(max(2.0, n / rows_per_bucket))))


def lsh_dup_pairs(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = None,
    seed: int = 7,
    rows_per_bucket: int = 128,
) -> DataFrame:
    """Sub-quadratic embedding near-dup pairs → [key_a, key_b, cosine]:
    hyperplane-sign buckets shard the pair space (same-bucket join
    only), exact cosine verification inside buckets.  The 100 TB path
    that ``embedding_dup_pairs`` (exact all-pairs) is the oracle for:
    identical vectors always share a bucket (recall 1.0 on true
    duplicates); near-dups below cosine 1.0 may straddle a plane —
    raise recall with fewer planes or multi-probe unions.

    ``n_planes`` defaults to ``adaptive_n_planes(count)`` — with a
    FIXED plane count bucket occupancy grows linearly in the corpus
    and the within-bucket verify turns quadratic (sf1 probe:
    top-decade b = 0.78 and climbing at pinned 6 planes); constant
    expected occupancy keeps it linear.  A pinned-plane oracle twin
    must inline ``adaptive_n_planes`` of the oracle-scale corpus size
    (same function — see ``queries/dedup.py``) or pass ``n_planes``
    explicitly."""
    from fastmlframework_spark.extensions.similarity import (
        hyperplanes,
        vec_dim,
        with_lsh_bucket,
    )

    dim = vec_dim(df, vec_col)
    if n_planes is None:
        n_planes = adaptive_n_planes(df.count(), rows_per_bucket)
    planes = hyperplanes(dim, n_planes, seed)
    norm = (
        f"sqrt(aggregate({vec_col}, 0.0D, (a, v) -> a + cast(v as double)*v))"
    )
    base = with_lsh_bucket(
        df.select(
            key_col,
            F.col(vec_col),
            F.expr(norm).alias("__norm"),
        ),
        vec_col,
        planes,
    )
    a = base.select(
        F.col(key_col).alias("key_a"),
        F.col(vec_col).alias("ea"),
        F.col("__norm").alias("na"),
        "bucket",
    )
    b = base.select(
        F.col(key_col).alias("key_b"),
        F.col(vec_col).alias("eb"),
        F.col("__norm").alias("nb"),
        "bucket",
    )
    # HOF form (see similarity.dot_expr): same left-to-right order as
    # the unrolled cast-first sum, 3× faster on Spark 4.1
    dot = (
        "aggregate(zip_with(ea, eb, (x, y) -> cast(x as double) * y), "
        "0.0D, (a, v) -> a + v)"
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("cosine", F.round(F.expr(f"({dot}) / (na * nb)"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("key_a", "key_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.999,
    n_clusters: int | None = None,
    seed: int = 7,
    max_iter: int = 3,
    rows_per_cell: int = 256,
) -> DataFrame:
    """SemDeDup-style semantic dedup over an embedding column →
    surviving keys [key].

    Pipeline: (1) coarse KMeans cells partition the corpus — the
    candidate space is cell-local, O(Σ cell²) instead of O(n²);
    (2) exact cosine verification joins only within a cell;
    (3) connected components over the ≥-threshold pairs; (4) the
    minimum key per component survives, all other members drop.
    Identical vectors always land in the same cell (assignment is a
    pure argmin over shared centroids), so TRUE duplicates are never
    missed; near-dups straddling a cell boundary can escape — raise
    ``n_clusters`` probes/recall via the LSH path if that matters.

    ``n_clusters`` defaults to ``max(8, n / rows_per_cell)`` — a
    FIXED cluster count makes cell size grow with the corpus and the
    verify stage quadratic again (the sf1 scale probe measured
    top-decade b = 1.08 with the old pinned 8); constant cell SIZE
    (the actual SemDeDup recipe) keeps the verify linear in n until
    the fit-sample cap (64k) bounds the cluster count.

    At 100 TB: the quantizer fits driver-side from a deterministic
    ≤64k hash-sample (``similarity.lloyd_centers`` — one scan, no
    MLlib jobs) and assignment is a literal-center argmin row map;
    cells keep the quadratic verify bounded by the largest cell, and
    components converge in O(dup-cluster diameter) rounds
    (near-cliques: 2-3).
    """
    from fastmlframework_spark.extensions.similarity import (
        dot_expr,
        hash_sample_rows,
        lloyd_centers,
        normalize,
        with_cells,
    )

    dim = None  # dot_expr ignores it; the vec_dim .first() was a dead job
    c = normalize(df, vec_col, "cv").select(key_col, "cv")
    n = c.count()
    if n_clusters is None:
        n_clusters = max(8, n // rows_per_cell)
    centers = lloyd_centers(
        hash_sample_rows(c, key_col, "cv", seed=seed, n=n),
        n_clusters,
        seed=seed,
        max_iter=max_iter,
    )
    # cached: the cell-local self-join reads it twice (a/b branches)
    assigned = with_cells(c, "cv", [("cell", centers, 0)]).cache()
    a = assigned.select(
        F.col(key_col).alias("key_a"), F.col("cv").alias("ea"), "cell"
    )
    b = assigned.select(
        F.col(key_col).alias("key_b"), F.col("cv").alias("eb"), "cell"
    )
    pairs = (
        a.join(b, on="cell")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(F.expr(dot_expr("ea", "eb", dim)) >= threshold)
        .select("key_a", "key_b")
    )
    # Materialize + truncate before the component loop: the loop's
    # u/v mirror union would otherwise evaluate the quadratic verify
    # twice, and every iteration would re-analyze its lineage.  The
    # pair list is near-dup-sized (tiny), so the checkpoint is cheap.
    pairs = checkpoints.checkpoint(pairs, eager=True)
    assigned.unpersist()
    comp = connected_components(pairs)
    dropped = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(key_col)
    )
    return df.select(key_col).join(dropped, on=key_col, how="left_anti")


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Prefix-filtered set-similarity join (PPJoin-style) →
    [key_a, key_b, jaccard], IDENTICAL results to
    ``ngram_jaccard_pairs`` with far fewer candidates.

    Theorem (prefix filtering): order every document's shingles by one
    GLOBAL order (rarest-first by document frequency, ties by value);
    with prefix length |s| − ⌈t·|s|⌉ + 1 on both sides, any pair with
    Jaccard ≥ t MUST share a prefix shingle.  The inverted index is
    built over prefixes only — the candidate space shrinks by ~(1−t)²
    and, because prefixes hold the RAREST shingles, the high-df
    stop-shingles that dominate the full index's join fan-out never
    generate candidates at all (the 100 TB win).  Candidates verify
    exactly via array intersection of the full shingle sets.

    The per-doc shingle ARRAY (``shingle_sets``) is the cached unit:
    set sizes come map-side from the array (no per-key count shuffle),
    the verify step joins candidates straight to the cached arrays (no
    collect_list re-aggregation of exploded rows), and only the
    document-frequency count and the per-doc rarity ranking — the two
    genuinely relational steps of prefix filtering — shuffle at all."""
    sets = shingle_sets(df, key_col, text_col, n).cache()
    ex = sets.select(
        F.col(key_col), "n_sh", F.explode("shingle_set").alias("shingle")
    )
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    wpos = Window.partitionBy(key_col).orderBy("__df", "shingle")
    prefix_len = F.col("n_sh") - F.ceil(threshold * F.col("n_sh")) + 1
    prefix = (
        ex.join(dfreq, on="shingle")
        .withColumn("__pos", F.row_number().over(wpos))
        .filter(F.col("__pos") <= prefix_len)
        .select(key_col, "n_sh", "__pos", "shingle")
    )
    # Size and prefix-position ride the index rows so the two PPJoin
    # prunes run INSIDE the candidate join, before the distinct and
    # the array-intersect verify (r10; measured 38%+ candidate cut on
    # the sf1 replica).  Both are exactness-preserving in reals:
    #   length:     J ≤ min/max, so J ≥ t ⟹ min ≥ t·max;
    #   positional: both docs list shingles in the SAME global order,
    #     so common ≤ min(pa−1, pb−1) + 1 + min(na−pa, nb−pb), while
    #     J ≥ t forces common ≥ t/(1+t)·(na+nb).
    # The 1e-9 slack keeps double rounding from pruning an exactly-
    # boundary pair (0.4·5 > 2 in doubles); extra admits only cost a
    # verify, never correctness.
    alpha = (threshold / (1.0 + threshold)) * (F.col("na") + F.col("nb"))
    ubound = (
        F.least(F.col("__pa") - 1, F.col("__pb") - 1)
        + 1
        + F.least(
            F.col("na") - F.col("__pa"), F.col("nb") - F.col("__pb")
        )
    )
    cand = (
        prefix.select(
            F.col(key_col).alias("key_a"),
            F.col("n_sh").alias("na"),
            F.col("__pos").alias("__pa"),
            "shingle",
        )
        .join(
            prefix.select(
                F.col(key_col).alias("key_b"),
                F.col("n_sh").alias("nb"),
                F.col("__pos").alias("__pb"),
                "shingle",
            ),
            on="shingle",
        )
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(
            F.least("na", "nb") + F.lit(1e-9)
            >= threshold * F.greatest("na", "nb")
        )
        .filter(ubound + F.lit(1e-9) >= alpha)
        .select("key_a", "key_b")
        .distinct()
    )
    out = (
        cand.join(
            sets.select(
                F.col(key_col).alias("key_a"),
                F.col("shingle_set").alias("__aa"),
                F.col("n_sh").alias("na"),
            ),
            on="key_a",
        )
        .join(
            sets.select(
                F.col(key_col).alias("key_b"),
                F.col("shingle_set").alias("__ab"),
                F.col("n_sh").alias("nb"),
            ),
            on="key_b",
        )
        .withColumn(
            "__common", F.size(F.array_intersect("__aa", "__ab"))
        )
        .withColumn(
            "__jacc",
            F.col("__common")
            / (F.col("na") + F.col("nb") - F.col("__common")),
        )
        .filter(F.col("__jacc") >= threshold)
        .select("key_a", "key_b", F.round("__jacc", 6).alias("jaccard"))
    )
    return _materialize_release(out, sets)


def incremental_exact_dedup(
    new_batch: DataFrame,
    seen_digests: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    digest_col: str = "digest",
) -> DataFrame:
    """Ingest-time dedup of a NEW batch against the digest index of
    everything already ingested → surviving batch rows
    [key, n_copies]: within-batch duplicates collapse to the min key
    (as ``exact_dedup``), and any digest already present in
    ``seen_digests`` drops entirely.

    The scale contract is the join direction: the index is the HUGE
    side (one 16-byte digest per corpus document ever ingested), the
    batch is small, so collisions are found by scanning the index ONCE
    with a BROADCAST probe of the batch digests — the index is never
    shuffled, and the subsequent anti-join runs against the (tiny)
    collision set.  A naive batch-anti-join-index plan would shuffle
    the full index on every ingest.

    NULL-text rows are dropped up front: they have no content to
    dedup, and their NULL digest would otherwise behave differently in
    the anti-join (null never matches → always "survives") than in a
    SQL ``NOT IN`` twin (NULL NOT IN → filtered) — an engine-dependent
    ambiguity this contract refuses to carry.
    """
    bd = (
        new_batch.filter(F.col(text_col).isNotNull())
        .withColumn("__d", F.md5(F.col(text_col)))
        .groupBy("__d")
        .agg(
            F.min(key_col).alias(key_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    collisions = seen_digests.join(
        F.broadcast(bd.select("__d")),
        on=seen_digests[digest_col] == F.col("__d"),
        how="left_semi",
    ).select(F.col(digest_col).alias("__d"))
    return bd.join(F.broadcast(collisions), on="__d", how="left_anti").drop(
        "__d"
    )


def _span_words_expr(text_col: str) -> str:
    return f"filter(split({text_col}, '\\\\s+'), __x -> __x != '')"


def _span_windows(
    df: DataFrame, key_col: str, text_col: str, n: int
) -> DataFrame:
    """Stride-1 word n-gram window digests → [key, n_words, pos, __dg]
    — the shared front end of ``duplicate_spans`` (report) and
    ``remove_duplicate_spans`` (rewrite), kept in ONE place so the
    tokenization/fallback rules cannot diverge between the twins.

    Digests are JVM ``xxhash64`` LONGS, not md5 strings: the window
    explode is the heaviest row stream in the family (~doc_len rows
    per doc) and everything downstream — the count groupBy, the
    dup-digest join, the ownership windows — shuffles on the digest,
    so 8-byte longs instead of 32-char strings cut both hash cost and
    shuffle width (VERDICT r5 #3).  The digest never reaches any
    output (only equality classes matter), so the DuckDB twins keep
    their own digest function.  64-bit birthday math: ~10¹² windows
    (a 100 TB corpus) expects ~0.03 colliding PAIRS per 5×10⁴
    distinct-window squared… i.e. n²/2⁶⁵ ≈ 27 k spurious duplicate
    windows at 10¹² — a 10⁻⁸ false-positive rate on par with the
    MinHash band noise this family already accepts.

    Cost shape: the split array and the per-word hashes are each
    projected ONCE per document before the window transform —
    inlining the split into the lambda re-evaluates it per window
    (O(len²) per doc, the trap ``repetition_signals`` measured at 2×
    its whole cost), and building a per-window string re-allocates
    ~n·word bytes per position.  Hashing the window as
    ``xxhash64(wh[i], …, wh[i+n-1])`` over the word-hash longs keeps
    the per-window work at n array probes + an n·8-byte hash chain —
    no string materialization on the hot path.  ``try_element_at``
    (NULL past the end, hash-chain skips NULLs) serves the <n-word
    fallback window without an ANSI out-of-bounds error.

    Zero-word documents (empty or whitespace-only text) emit NO
    windows: the hash-of-empty fallback digest would otherwise
    declare every empty doc a duplicate passage of every other, and
    the rewrite path would index into an empty word array."""
    words = _span_words_expr(text_col)
    hargs = ", ".join(f"try_element_at(__wh, __i + {k})" for k in range(n))
    # Word-hash array LET-BOUND inside the window expression
    # (`transform(array(<wh>), __wh -> ...)[0]`) rather than projected:
    # a projected __wh gets inlined into the posexplode generator by
    # CollapseProject, re-evaluating the per-word hash pass per
    # consumer — measured 1.7 s → 0.92 s on the sf0.1 corpus explode
    # (r7; same fix class as ``shingle_sets``).
    arr = (
        "transform(array(transform(__ws, __w -> xxhash64(__w))),"
        f" __wh -> transform(sequence(1, greatest(size(__wh) - {n - 1}, 1)),"
        f" __i -> xxhash64({hargs})))[0]"
    )
    return (
        _spread(df.filter(F.col(text_col).isNotNull()))
        .select(F.col(key_col), F.expr(words).alias("__ws"))
        .filter(F.size("__ws") > 0)
        .select(
            F.col(key_col),
            F.size("__ws").cast("long").alias("n_words"),
            F.posexplode(F.expr(arr)).alias("__p0", "__dg"),
        )
        .select(key_col, "n_words", (F.col("__p0") + 1).alias("pos"), "__dg")
    )


def duplicate_spans(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicate-passage detection → per-document report
    [key, n_words, n_dup_windows, n_spans, dup_words, dup_frac]
    for every document containing at least one duplicated passage.

    The substring-dedup shape of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") re-expressed for
    Spark: instead of a corpus-global suffix array, every stride-1
    word ``n``-gram window is digested, windows whose digest occurs
    ``min_count``+ times corpus-wide are duplicated passages, and a
    per-document ordered merge collapses overlapping/adjacent window
    positions (gap ≤ n, all intervals length n) into maximal spans —
    ``dup_words`` is the exact word coverage of those spans.

    Plan at scale: the window explode is ~doc_len rows/doc (what the
    suffix array costs too); the digest groupBy is map-side combined;
    the join back carries only duplicated digests; the span merge is
    a per-document ordered window — everything linear, no pairwise
    comparison anywhere (the classic pair-join substring approach is
    quadratic in duplicate-cluster size).  Documents shorter than
    ``n`` words fall back to one whole-document window, so tiny exact
    dups still surface (zero-word documents emit no windows —
    see ``_span_windows``)."""
    wins = _span_windows(df, key_col, text_col, n)
    dup_digests = (
        wins.groupBy("__dg")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= min_count)
        .select("__dg")
    )
    dup = wins.join(dup_digests, on="__dg")
    w = Window.partitionBy(key_col).orderBy("pos")
    spans = (
        dup.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__brk",
            (F.col("__prev").isNull() | (F.col("pos") - F.col("__prev") > n))
            .cast("long"),
        )
        .withColumn(
            "__span",
            F.sum("__brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(key_col, "n_words", "__span")
        .agg(
            F.count(F.lit(1)).alias("__nw"),
            F.min("pos").alias("__lo"),
            F.max("pos").alias("__hi"),
        )
    )
    return (
        spans.groupBy(key_col, "n_words")
        .agg(
            F.sum("__nw").alias("n_dup_windows"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.least(
                    F.col("__hi") - F.col("__lo") + n, F.col("n_words")
                )
            ).alias("dup_words"),
        )
        .withColumn(
            "dup_frac",
            F.round(
                F.least(
                    F.col("dup_words") / F.col("n_words"), F.lit(1.0)
                ),
                6,
            ),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Rewrite the corpus with duplicated passages REMOVED → [key,
    clean_text, n_words, n_removed]: the transform stage of Lee et
    al. 2022 substring dedup (``duplicate_spans`` is its report twin).

    Ownership: for every duplicated window digest the globally first
    occurrence — smallest (key, pos), computed as ONE min-struct
    aggregate per digest — is canonical and stays; every other
    occurrence is foreign.  A document drops exactly the word
    positions covered by its foreign windows (merged to maximal
    spans, clamped to the document).

    The canonical pick is deliberately an AGGREGATE, not a
    row_number window over digest partitions: the window form sorts
    the ENTIRE window stream (~doc_len rows per doc) by digest —
    measured super-linear at the fifth probe decade (sf1→sf10
    exponent 1.59, 125 s, sort spill), while min_by combines
    map-side and joins back hash-keyed — same semantics, no global
    sort (re-measured 0.9/decade after the rewrite).

    Guarantee (greedy, per-window): every duplicated WINDOW keeps
    exactly its canonical occurrence.  That is weaker than "one
    intact copy of every maximal passage survives": when a removed
    foreign span overlaps positions the same document owns
    canonically through OTHER windows (overlapping distinct passages,
    or within-document tiling of a repeat), the span removal can cut
    into those canonically-owned positions and no contiguous copy of
    that larger passage remains.  This is the same greedy trade Lee
    et al.'s implementation makes; rare in prose, visible in highly
    self-repetitive documents.

    Rebuilt documents are single-space joined (the whitespace-token
    model this family already normalizes to); documents with nothing
    to remove keep their text byte-identical.  Plan: the window
    explode + two digest-partitioned windows + a per-document ordered
    merge — linear end-to-end, no pair join, same scale shape as
    ``duplicate_spans``."""
    words = _span_words_expr(text_col)
    wins = _span_windows(df, key_col, text_col, n).withColumnRenamed(
        "n_words", "__nw"
    )
    canon = (
        wins.groupBy("__dg")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(F.struct(F.col(key_col), F.col("pos"))).alias("__c"),
        )
        .filter(F.col("__cnt") >= min_count)
        .select("__dg", "__c")
    )
    foreign = (
        wins.join(canon, on="__dg")
        .filter(
            ~(
                (F.col(key_col) == F.col("__c")[key_col])
                & (F.col("pos") == F.col("__c")["pos"])
            )
        )
        .select(key_col, "__nw", "pos")
    )
    w = Window.partitionBy(key_col).orderBy("pos")
    spans = (
        foreign.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__brk",
            (F.col("__prev").isNull() | (F.col("pos") - F.col("__prev") > n))
            .cast("long"),
        )
        .withColumn(
            "__span",
            F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(key_col, "__span")
        .agg(
            F.min("pos").alias("lo"),
            F.least(
                F.max("pos") + F.lit(n - 1), F.max("__nw")
            ).alias("hi"),
        )
        .groupBy(key_col)
        .agg(F.collect_list(F.struct("lo", "hi")).alias("__spans"))
    )
    out = df.join(spans, on=key_col, how="left")
    kept = (
        f"filter(sequence(1, size({words})), __p -> "
        "NOT exists(__spans, __s -> __p >= __s.lo AND __p <= __s.hi))"
    )
    rebuilt = (
        f"concat_ws(' ', transform({kept}, "
        f"__p -> element_at({words}, CAST(__p AS INT))))"
    )
    return out.select(
        F.col(key_col),
        F.when(F.col("__spans").isNull(), F.col(text_col))
        .otherwise(F.expr(rebuilt))
        .alias("clean_text"),
        F.expr(f"size({words})").cast("long").alias("n_words"),
        F.when(F.col("__spans").isNull(), F.lit(0).cast("long"))
        .otherwise(
            (F.expr(f"size({words})") - F.expr(f"size({kept})")).cast("long")
        )
        .alias("n_removed"),
    )


def best_representative(
    df: DataFrame,
    dup_pairs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-duplicate-cluster survivor selection → [cluster, best_key,
    best_len, n_members]: connected components over ``dup_pairs``
    turn near-dup PAIRS into clusters, and each cluster keeps its
    highest-quality member — longest text, ties to the smallest key.
    Singletons are their own cluster and survive unchanged.

    This is the selection step real pipelines run after near-dedup
    (RefinedWeb / Lee et al. keep one representative per cluster);
    picking the LONGEST member instead of an arbitrary one retains
    the untruncated original when a cluster mixes a page and its
    clipped mirror.  Beyond-reference operator; the reference's
    pandas layer has no dedup at all.

    Plan: components are O(diameter) label-propagation rounds
    (near-dup clusters are near-cliques: 2-3 rounds), the label table
    joins back once (AQE picks the strategy from the actual duplicate
    fraction), and the argmax is ONE struct-max aggregate — no window
    over the corpus, no sort.  Everything after the pair list is
    linear in the corpus."""
    comp = connected_components(dup_pairs)
    labeled = df.join(
        comp.withColumnRenamed("node", key_col), on=key_col, how="left"
    ).withColumn("cluster", F.coalesce("component", F.col(key_col)))
    # min_by over struct(-len, key): the struct orders longest text
    # first, ties to the smallest key, with the key compared DIRECTLY
    # (length is always numeric so negating it is safe; negating the
    # key is not — string doc ids would go NULL/error under ANSI).
    order = F.struct(
        (-F.length(text_col)).alias("neglen"), F.col(key_col).alias("k")
    )
    return labeled.groupBy("cluster").agg(
        F.min_by(F.col(key_col), order).alias("best_key"),
        F.max(F.length(text_col)).cast("long").alias("best_len"),
        F.count(F.lit(1)).alias("n_members"),
    )


def cluster_size_histogram(
    components: DataFrame,
    universe: DataFrame,
    key_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-cluster size distribution → [cluster_size,
    n_clusters, n_docs]: how many clusters of each multiplicity the
    corpus contains, and how many documents they absorb — the
    duplication-profile figure dedup papers lead with (most of a web
    corpus's duplicate MASS sits in a few huge clusters; the long
    tail is pairs).  ``components`` is a [node, component] frame from
    :func:`connected_components`; ``universe`` supplies every corpus
    key so never-duplicated documents are reported as size-1
    clusters instead of silently vanishing.

    Plan: the components frame (only docs that HAVE a duplicate)
    collapses to per-component counts, then to a ≤|max size|-row
    histogram; singletons come from one anti-join + 1-row count —
    nothing beyond the components step itself touches corpus-scale
    data more than once."""
    sizes = components.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    multi = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    single = (
        universe.select(key_col)
        .join(
            components.select(F.col("node").alias(key_col)),
            on=key_col,
            how="left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.lit(1).cast("long").alias("cluster_size"), "n_clusters"
        )
    )
    return (
        multi.unionByName(single)
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )
