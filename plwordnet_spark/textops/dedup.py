"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference deduplicates by exact pair-key sets held in Python dicts
(embedder-dataset-dedupliactor.py:55-145, A8 unique-text sets); a
100 TB training-data pipeline needs the full near-dup family. All
signature computation is JVM-side (xxhash64 + higher-order functions) —
no Python in any hot path; duplicate *clusters* are closed transitively
with this engine's own connected-components job, and each cluster keeps
its minimum id (deterministic canonical representative).

Scale shapes:

* exact: one hash groupBy (min-id per normalized-text hash),
* MinHash: shingle explode → P min-aggregations (one shuffle) → band
  explode → bucket self-join (candidates only meet in buckets; hot
  buckets are capped) → signature-similarity verify → CC,
* SimHash: per-bit weighted sums over word hashes (64 agg columns, one
  shuffle), 16-bit band index for candidate generation, bit_count
  hamming verify,
* n-gram Jaccard: inverted-index join with a max-document-frequency cap
  on hot shingles (the classic skew guard for common n-grams).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plwordnet_spark.cache import CacheScope

__all__ = [
    "normalize_text_expr",
    "exact_dedup",
    "word_shingles_expr",
    "minhash_signatures",
    "minhash_candidate_pairs",
    "minhash_lsh_dedup",
    "simhash_fingerprints",
    "simhash_near_dup_pairs",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "exact_jaccard_for_pairs",
    "edit_distance_pairs",
]


def normalize_text_expr(text_col):
    """Dedup normalization: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " "))


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the minimum-id document per normalized text (deterministic
    first-of-group, reference A9 semantics)."""
    keyed = docs.withColumn("_k", F.xxhash64(normalize_text_expr(F.col(text_col))))
    keep = keyed.groupBy("_k").agg(F.min(id_col).alias(id_col))
    return keyed.join(keep, ["_k", id_col], "left_semi").drop("_k")


def word_shingles_expr(text_col, n: int = 3):
    """array of word n-grams (distinct), via sequence+slice — JVM-only."""
    words = F.split(normalize_text_expr(text_col), " ")
    ngrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    return F.array_distinct(F.filter(ngrams, lambda s: F.length(s) > 0))


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, h0..h{P-1}) MinHash signature: min over shingles of P seeded
    hash values — P min-aggregations in a single groupBy.

    Each shingle STRING is hashed once; the P per-permutation values are
    derived by re-hashing the resulting 64-bit long (xxhash64(h, p)).
    Long re-hash is ~constant-time vs P full string hashes — measured
    ~30% off the signature stage at sf0.1 — with the same independence
    guarantees (seeded xxhash64 over a 64-bit key)."""
    shingled = docs.select(
        F.col(id_col),
        F.explode(word_shingles_expr(F.col(text_col), shingle_n)).alias("sh"),
    ).select(F.col(id_col), F.xxhash64("sh").alias("_h"))
    aggs = [
        F.min(F.xxhash64("_h", F.lit(p))).alias(f"h{p}") for p in range(n_hashes)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def _band_table(sig: DataFrame, id_col: str, n_hashes: int, n_bands: int) -> DataFrame:
    rows = n_hashes // n_bands
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[f"h{b * rows + r}" for r in range(rows)]).alias("code"),
        )
        for b in range(n_bands)
    ]
    return sig.select(
        id_col, F.explode(F.array(*bands)).alias("_b")
    ).select(id_col, F.col("_b.band").alias("band"), F.col("_b.code").alias("code"))


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    n_bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """(id_a, id_b) candidate pairs sharing ≥1 LSH band bucket — the
    candidate-generation stage alone, for pipelines that verify with
    exact similarity (:func:`exact_jaccard_for_pairs`) instead of the
    signature estimate. Default 16 bands × 2 rows biases to recall
    (collision probability ≈ 1 at Jaccard 0.8) since the exact verify
    restores precision."""
    sig = minhash_signatures(docs, id_col, text_col, n_hashes, shingle_n)
    bands = _band_table(sig, id_col, n_hashes, n_bands)
    sizes = bands.groupBy("band", "code").agg(F.count(F.lit(1)).alias("n"))
    bands = bands.join(
        sizes.filter(F.col("n") <= max_bucket).select("band", "code"),
        ["band", "code"],
        "left_semi",
    )
    a = bands.select("band", "code", F.col(id_col).alias("id_a"))
    b = bands.select("band", "code", F.col(id_col).alias("id_b"))
    return (
        a.join(b, ["band", "code"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_dedup(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    scope: CacheScope | None = None,
) -> tuple[DataFrame, DataFrame]:
    """→ (kept_docs, dup_pairs).

    Candidates share an LSH band bucket; similarity is estimated as the
    fraction of equal signature components (unbiased Jaccard estimate);
    pairs ≥ threshold are closed into clusters with connected
    components; each cluster keeps min(id). Buckets larger than
    ``max_bucket`` are dropped (boilerplate shingles — the documented
    skew guard; such docs still pair through their other bands).

    The returned ``dup_pairs`` is cache()d (the CC closure consumes it
    here AND the caller reads it); pass a
    :class:`~plwordnet_spark.cache.CacheScope` to own its release after
    consuming both outputs — without one it stays cached for the
    returned plans' lifetime.
    """
    sig = minhash_signatures(docs, id_col, text_col, n_hashes, shingle_n).cache()
    bands = _band_table(sig, id_col, n_hashes, n_bands)
    sizes = bands.groupBy("band", "code").agg(F.count(F.lit(1)).alias("n"))
    bands = bands.join(
        sizes.filter(F.col("n") <= max_bucket).select("band", "code"),
        ["band", "code"],
        "left_semi",
    )
    a = bands.select("band", "code", F.col(id_col).alias("id_a"))
    b = bands.select("band", "code", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["band", "code"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_a = sig.select(*([F.col(id_col).alias("id_a")] + [F.col(f"h{p}").alias(f"a{p}") for p in range(n_hashes)]))
    sig_b = sig.select(*([F.col(id_col).alias("id_b")] + [F.col(f"h{p}").alias(f"b{p}") for p in range(n_hashes)]))
    matches = reduce(
        lambda acc, p: acc + F.when(F.col(f"a{p}") == F.col(f"b{p}"), 1).otherwise(0),
        range(1, n_hashes),
        F.when(F.col("a0") == F.col("b0"), 1).otherwise(0),
    )
    dup_pairs = (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", matches / F.lit(float(n_hashes)))
        .filter(F.col("est_jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "est_jaccard")
    ).cache()  # consumed by CC iteration AND returned to the caller —
    # without this every consumer re-runs the signature pipeline
    if scope is not None:
        scope.own(dup_pairs)
    # transitive closure with our own CC job; keep min-id per cluster.
    # CC runs ONLY over ids that appear in dup_pairs — every other doc is
    # its own component by construction, so at 10^10 docs the iterated CC
    # state covers just the (typically ≪1%) dup-participating ids instead
    # of the full document universe.
    from plwordnet_spark.graph.components import connected_components

    edges = dup_pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    assign = connected_components(spark, edges).state
    drop = assign.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    kept = docs.join(drop, id_col, "left_anti")
    sig.unpersist()
    return kept, dup_pairs


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 64,
) -> DataFrame:
    """(id, simhash) — per-bit sign of term-frequency-weighted word-hash
    bit sums. One explode + one groupBy with n_bits conditional sums."""
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(normalize_text_expr(F.col(text_col)), " ")).alias("w"),
    ).filter(F.length("w") > 0)
    counted = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("tf"))
    h = F.xxhash64("w")
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.col("tf")).otherwise(
                -F.col("tf")
            )
        ).alias(f"b{b}")
        for b in range(n_bits)
    ]
    sums = counted.groupBy(id_col).agg(*bit_aggs)
    fingerprint = reduce(
        lambda acc, b: acc.bitwiseOR(
            F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        ),
        range(1, n_bits),
        F.when(F.col("b0") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
    )
    return sums.select(id_col, fingerprint.alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with distance ≤ max_hamming.

    Candidates match on any of ``max_hamming + 1`` bit chunks
    (pigeonhole: ≤ max_hamming differing bits leave at least one chunk
    equal — full recall by construction); verify with bit_count(xor).
    More chunks = wider candidate fan-out, so high max_hamming trades
    join cost for the guarantee."""
    n_chunks = max_hamming + 1
    if n_chunks > 16:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_chunks} chunks; 64-bit "
            "fingerprints support at most 16 (4-bit chunks)"
        )
    width = 64 // n_chunks
    mask = (1 << width) - 1
    fp = simhash_fingerprints(docs, id_col, text_col)
    chunks = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask)).alias("code"),
        )
        for c in range(n_chunks)
    ]
    banded = fp.select(
        id_col, "simhash", F.explode(F.array(*chunks)).alias("_c")
    ).select(id_col, "simhash", F.col("_c.chunk").alias("chunk"), F.col("_c.code").alias("code"))
    a = banded.select("chunk", "code", F.col(id_col).alias("id_a"), F.col("simhash").alias("fa"))
    b = banded.select("chunk", "code", F.col(id_col).alias("id_b"), F.col("simhash").alias("fb"))
    return (
        a.join(b, ["chunk", "code"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= F.lit(max_hamming))
    )


def exact_jaccard_for_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_broadcast_ids: int = 4_000_000,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard for an explicit candidate-pair table.

    ``pairs``: (id_a, id_b). Returns (id_a, id_b, jaccard) — the verify
    stage of a production near-dup pipeline: cheap hash-based candidate
    generation (MinHash bands / SimHash chunks) followed by exact set
    similarity only on the candidates. Pairs sharing zero shingles are
    dropped (their Jaccard is 0 — below any useful threshold).

    Scale shape: the shingle table is first cut to candidate ids with a
    broadcast semi-join (candidates are ≪ corpus by construction), so
    the full docs×shingles table is never shuffled — only the candidate
    slice moves. The hint is SIZE-CONDITIONAL via a cheap upper bound:
    distinct candidate ids ≤ 2·|pairs|, and counting ``pairs`` is a
    scan with no shuffle (counting the distinct id set itself would run
    the union+distinct twice — once discarded, once inside the join).
    Broadcast applies only when the bound is under ``max_broadcast_ids``
    (default 4M ids ≈ 32 MB serialized); above it, the plain semi-join
    shuffles instead of OOMing the driver on collect-for-broadcast.

    Caching contract: an unmaterialized ``pairs`` plan is persist()ed
    here (the size-check count materializes it; the joins reuse it).
    Pass a :class:`~plwordnet_spark.cache.CacheScope` to own its release
    after consuming the result; without one it stays cached for the
    lifetime of the returned plan (callers may also ``pairs.unpersist()``
    themselves, or pass an already-cached frame they manage).
    """
    # the size check below counts ``pairs`` and the joins re-read it; for
    # an unmaterialized expensive plan (e.g. fresh MinHash candidate
    # output) that would execute the whole upstream pipeline twice —
    # persist it so the count materializes the cache the joins then reuse
    # (left cached for the lifetime of the returned plan, which still
    # references it; callers that pre-cached see a no-op)
    from pyspark import StorageLevel

    if pairs.storageLevel == StorageLevel.NONE:
        pairs = pairs.persist()
        if scope is not None:
            scope.own(pairs)
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if 2 * pairs.count() <= max_broadcast_ids:
        cand_ids = F.broadcast(cand_ids)
    shingled = docs.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col),
        F.explode(word_shingles_expr(F.col(text_col), shingle_n)).alias("sh"),
    )
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sh_a = shingled.select(F.col(id_col).alias("id_a"), "sh")
    sh_b = shingled.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        pairs.select("id_a", "id_b")
        .join(sh_a, "id_a")
        .join(sh_b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("size_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets via inverted-index self-join.

    Shingles occurring in more than ``max_df`` docs are excluded from
    candidate generation (hot-key guard) but still count in set sizes,
    making the reported jaccard a tight lower bound for pathological
    boilerplate and exact otherwise at test scale.
    """
    shingled = docs.select(
        F.col(id_col),
        F.explode(word_shingles_expr(F.col(text_col), shingle_n)).alias("sh"),
    )
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    df_counts = shingled.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    filtered = shingled.join(
        df_counts.filter(F.col("df") <= max_df).select("sh"), "sh", "left_semi"
    )
    a = filtered.select(F.col(id_col).alias("id_a"), "sh")
    b = filtered.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment per pair.

    containment(A in B) = |A ∩ B| / |A| (Broder 1997's second resemblance
    measure). Jaccard misses quote-and-extend pages — a page wrapping a
    short document in boilerplate has low Jaccard but containment ≈ 1
    for the short side — so production webtext dedup checks BOTH
    (jaccard for mirrors, containment for wrappers/quotes).

    Returns (id_a, id_b, cont_a, cont_b) for id_a < id_b where
    max(cont_a, cont_b) >= threshold: cont_a = common/|A| is how much
    of A sits inside B, and vice versa.

    Same inverted-index shape and hot-shingle ``max_df`` guard as
    :func:`ngram_jaccard_pairs` (shingles above the df cap are excluded
    from candidate generation but still count in set sizes, so reported
    containments are tight lower bounds under pathological boilerplate
    and exact otherwise).
    """
    shingled = docs.select(
        F.col(id_col),
        F.explode(word_shingles_expr(F.col(text_col), shingle_n)).alias("sh"),
    )
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    df_counts = shingled.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    filtered = shingled.join(
        df_counts.filter(F.col("df") <= max_df).select("sh"), "sh", "left_semi"
    )
    a = filtered.select(F.col(id_col).alias("id_a"), "sh")
    b = filtered.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("cont_a", F.col("common") / F.col("size_a"))
        .withColumn("cont_b", F.col("common") / F.col("size_b"))
        .filter(F.greatest("cont_a", "cont_b") >= F.lit(threshold))
        .select("id_a", "id_b", "cont_a", "cont_b")
    )


def edit_distance_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
    block_ngram: int = 3,
    max_block: int = 10_000,
) -> DataFrame:
    """Blocked Levenshtein join: (id_a, id_b, dist) for pairs whose
    strings are within ``max_dist`` edits — typo-squat hostnames,
    near-identical titles, OCR'd duplicates: the record-linkage cousin
    of the token-set dedups above, sensitive to single-character edits
    Jaccard shingles dilute.

    All-pairs Levenshtein is O(n²·len²); the standard q-gram filter
    bounds it: strings within d edits share at least one character
    ``block_ngram``-gram whenever min_len ≥ q·(d+1) (Gravano et al.,
    VLDB 2001 — count filtering, applied here at its coarsest), so
    candidates = pairs sharing ≥1 gram. Grams in more than
    ``max_block`` strings are dropped from BLOCKING only (the hot-key
    guard of the inverted-index joins in this module — stop-grams pair
    everything with everything); distances stay exact on surviving
    candidates via the JVM ``levenshtein`` — no Python in the loop, and
    the whole plan replays in SQL (DuckDB ships the same metric).

    Shorter strings than q·(d+1) may be missed by blocking — the
    documented recall contract of every q-gram filter; lower
    ``block_ngram`` for very short keys.
    """
    base = df.select(
        F.col(id_col).alias("_id"), F.lower(F.col(col)).alias("_s")
    ).distinct()
    grams = base.select(
        "_id",
        "_s",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(length(_s) - {block_ngram - 1}, 1)),"
                f" i -> substring(_s, i, {block_ngram}))"
            )
        ).alias("g"),
    ).distinct()
    hot = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_block)
        .select("g")
    )
    grams = grams.join(hot, "g", "left_anti")
    a = grams.select(
        "g", F.col("_id").alias("id_a"), F.col("_s").alias("sa")
    )
    b = grams.select(
        "g", F.col("_id").alias("id_b"), F.col("_s").alias("sb")
    )
    cand = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sa", "sb")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("sa", "sb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )
