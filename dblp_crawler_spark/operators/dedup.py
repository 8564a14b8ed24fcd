"""Deduplication operators for training-data pipelines.

Five families over a `documents(doc_id, text, ...)` table:
exact (hash groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup. All hot paths are native Spark
expressions (xxhash64 / higher-order array functions) so they stay
in whole-stage codegen; nothing here is a Python UDF.

Scale notes:
  * exact dedup is one hash agg — the canonical 100 TB dedup is
    groupBy(md5(text)) with partial aggregation map-side;
  * MinHash/LSH: signatures are k independent min-aggregations over
    shingle hashes (one shuffle), banding turns O(n²) similarity
    into an equi-join on band keys — the only join is on
    (band_id, band_hash), which AQE skew-splits if a band is hot;
  * SimHash: a 64-lane majority vote folded with F.aggregate —
    zero shuffles beyond the final groupBy;
  * n-gram Jaccard / cosine near-dup are quadratic and therefore
    BLOCKED (same blocking key) — pass a blocking column; the
    all-pairs variant is only for candidate verification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize


def _spread(df: DataFrame) -> DataFrame:
    """Small-file inputs arrive as one scan split; the per-doc
    expression work here (shingling, hashing, folds) is the expensive
    part, so spread rows across the cluster before computing it."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


# ---- exact ---------------------------------------------------------------
def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: groups with >1 identical text."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n") > 1)
    )


def drop_exact_dups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per identical text."""
    w = F.md5(F.col(text_col)).alias("text_hash")
    reps = docs.select(w, F.col(id_col)).groupBy("text_hash").agg(F.min(id_col).alias(id_col))
    return docs.join(reps, id_col, "left_semi")


def drop_dups_keep_best(docs: DataFrame, key_col: str, score_col: str,
                        id_col: str = "doc_id") -> DataFrame:
    """Keep the BEST-scored representative per duplicate group — the
    LAION caption-dedup rule: many images share one caption; keep the
    highest-resolution image, not the min-id one. Deterministic total
    order inside a group: (score DESC, id ASC), so ties are stable
    and any engine derives the identical survivor set.

    One shuffle keyed on `key_col`, window group-limit shape (rank
    filters push as a TopK per group before the full sort
    materializes). At 10^10 rows this is the same plan family as the
    per-source quota cap: no collect, no all-pairs, skew bounded by
    the largest duplicate group.

    Reference parity: the reference's summarizer picks ONE selected
    publication variant per title_hash group (summarizer/
    __init__.py's dblp-key preference order); this generalizes that
    pick-one-representative rule to an arbitrary quality score.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        docs.withColumn("__kb_rn", F.row_number().over(w))
        .filter(F.col("__kb_rn") == 1)
        .drop("__kb_rn")
    )


# ---- shingles / minhash / lsh ---------------------------------------------
def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (the unit of Jaccard).
    Built from the ORDERED token sequence (multiplicity preserved),
    then deduped at the shingle level.

    Implementation: n-1 zip_with concatenations of shifted slices —
    flat O(tokens) work. (The obvious per-index
    `transform(idx, i -> array_join(slice(toks, i, n)))` materializes
    an n-array per position through interpreted lambdas; measured
    ~25× slower on real documents.)"""
    from .textstats import word_ngrams

    return F.array_distinct(word_ngrams(text, n))


def shingle_arrays(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   shingle_n: int = 3) -> DataFrame:
    """(id, __sh_arr): the distinct-shingle array per doc — the
    shared upstream of signature generation AND exact verification.
    Split out because shingling (tokenize + n−1 zip_with concats +
    array_distinct) is the dominant cost of the whole MinHash
    pipeline (profiled r5: ~1.5 s of the 4.8 s sf0.1 entry — and the
    un-factored pipeline paid it TWICE)."""
    return _spread(docs).select(
        F.col(id_col), shingles(text_col, shingle_n).alias("__sh_arr")
    )


def minhash_signature_from_shingles(sh_arr: DataFrame, id_col: str = "doc_id",
                                    num_hashes: int = 32, hash_fn=None) -> DataFrame:
    """(id, sig array<long>) from a shingle_arrays frame: one explode
    + one groupBy with k min() aggregates — all JVM-side hashing;
    partial aggregation makes the shuffle carry only k longs/doc."""
    from ..functions.hashing import xx64

    hash_fn = hash_fn or xx64
    sh = sh_arr.select(F.col(id_col), F.explode("__sh_arr").alias("sh"))
    aggs = [F.min(hash_fn("sh", i)).alias(f"h{i}") for i in range(num_hashes)]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_signature(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 32, shingle_n: int = 3,
                      hash_fn=None) -> DataFrame:
    """(id, sig array<long>): k independent min-hash lanes.

    One explode + one groupBy with k min() aggregates — all JVM-side
    hashing (xxhash64 by default; pass functions.hashing.hash60 for
    the engine-portable md5-derived family)."""
    return minhash_signature_from_shingles(
        shingle_arrays(docs, text_col, id_col, shingle_n), id_col, num_hashes, hash_fn
    )


def minhash_bands(sigs: DataFrame, id_col: str = "doc_id", bands: int = 8,
                  hash_fn=None) -> DataFrame:
    """(id, band, band_hash): the LSH band rows — both the join key
    of :func:`lsh_candidate_pairs` and the PERSISTED index rows of
    :func:`minhash_delta` (a corpus's band table is what makes
    against-corpus dedup O(wave): new docs probe it by equi-join
    instead of recomputing the corpus)."""
    from ..functions.hashing import xx64

    hash_fn = hash_fn or xx64
    k = bands
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda b: hash_fn(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * (F.size("sig") / k).cast("int") + 1, (F.size("sig") / k).cast("int")),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id", bands: int = 8,
                        hash_fn=None, max_bucket: int | None = None) -> DataFrame:
    """Band the signature, hash each band, equi-join on
    (band, band_hash) → candidate pairs (a < b). This is the
    O(n²)→O(n) LSH step; verify candidates with jaccard after.

    `max_bucket` is the minhash side of the pair-explosion guard
    (same skip-and-flag policy as hamming_near_dups.max_block): band
    buckets holding more than `max_bucket` docs — a near-constant
    corpus drives every doc into one bucket per band — are excluded
    from pair expansion, bounding candidates at
    bands · n/bucket · max_bucket²/2. Enumerate the skipped buckets
    with :func:`lsh_bucket_overflow` for escalation."""
    banded = minhash_bands(sigs, id_col, bands, hash_fn=hash_fn)
    if max_bucket is not None:
        wb = Window.partitionBy("band", "band_hash")
        banded = (
            banded.withColumn("__bn", F.count("*").over(wb))
            .filter(F.col("__bn") <= int(max_bucket))
            .drop("__bn")
        )
    a = banded.withColumnsRenamed({id_col: "a"})
    b = banded.withColumnsRenamed({id_col: "b"})
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def lsh_bucket_overflow(sigs: DataFrame, id_col: str = "doc_id", bands: int = 8,
                        hash_fn=None, max_bucket: int = 1024) -> DataFrame:
    """(band, band_hash, n_docs) for every LSH band bucket over the
    cap — the buckets lsh_candidate_pairs(max_bucket=cap) skipped."""
    banded = minhash_bands(sigs, id_col, bands, hash_fn=hash_fn)
    return (
        banded.groupBy("band", "band_hash")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > int(max_bucket))
    )


def minhash_near_dups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 32, bands: int = 8, shingle_n: int = 3,
                      threshold: float = 0.8, hash_fn=None,
                      max_bucket: int | None = None) -> DataFrame:
    """Full MinHash+LSH pipeline: signature → band join → exact
    Jaccard verification of candidates (no false positives in the
    output; LSH only bounds recall). `max_bucket` engages the band-
    bucket pair-explosion guard (see lsh_candidate_pairs).

    The shingle arrays are computed ONCE and persisted across the
    two consumers (signature lanes; exact-verify hash sets) — r5
    profile: shingling is ~60% of the sf0.1 entry and the
    un-factored pipeline ran it twice (4.8 s → ~3 s). The persist is
    spill-safe (MEMORY_AND_DISK) and released before returning (the
    pairs are computed eagerly into a local checkpoint); at 100 TB
    the same seam is where a real pipeline writes its shingle/
    signature intermediate to a table (minhash_delta already
    persists exactly that state)."""
    from pyspark import StorageLevel

    from ..functions.hashing import xx64

    hash_fn = hash_fn or xx64
    base = shingle_arrays(docs, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = minhash_signature_from_shingles(base, id_col, num_hashes, hash_fn=hash_fn)
    cands = lsh_candidate_pairs(sigs, id_col, bands, hash_fn=hash_fn, max_bucket=max_bucket)
    # |A∪B| = |A|+|B|−|A∩B|: one array op per pair instead of two
    # (shingle arrays are already distinct), sizes computed pre-join.
    # Intersect 64-bit shingle hashes, not strings: same Jaccard
    # (collisions are 2^-64-rare), ~10x cheaper per pair and 8 bytes
    # per shingle through the join.
    sh = base.select(
        F.col(id_col),
        F.transform("__sh_arr", lambda t: hash_fn(t)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    pairs = (
        cands.join(sh.withColumnsRenamed({id_col: "a", "sh": "sh_a", "n_sh": "na"}), "a")
        .join(sh.withColumnsRenamed({id_col: "b", "sh": "sh_b", "n_sh": "nb"}), "b")
        .withColumn("ninter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.col("ninter") / (F.col("na") + F.col("nb") - F.col("ninter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
        .localCheckpoint()
    )
    base.unpersist()
    return pairs


# ---- simhash ----------------------------------------------------------------
# literal lane masks (bit 63 expressed as the signed-long value) so no
# shift-by-column is needed anywhere — keeps the fold a pure expression
_LANE_MASKS = [(1 << b) if b < 63 else (1 << 63) - (1 << 64) for b in range(64)]


def simhash64(text: Column | str, hash_fn=None, bits: int = 64) -> Column:
    """SimHash folded entirely with higher-order functions:
    per-token hash (xxhash64 by default) → ±1 votes per bit lane
    (literal masks) → sign → pack. Pure JVM expression — no shuffle,
    no UDF. With hash_fn=hash60 use bits=60 (the portable hash only
    populates the low 60 bits; lanes above it would vote
    constantly)."""
    from ..functions.hashing import xx64

    hash_fn = hash_fn or xx64
    lane_masks = _LANE_MASKS[:bits]
    toks = tokenize(text)
    masks = F.array(*[F.lit(m).cast("long") for m in lane_masks])
    votes = F.aggregate(
        toks,
        F.transform(masks, lambda _: F.lit(0).cast("long")),
        lambda acc, t: F.zip_with(
            acc,
            F.transform(
                masks,
                lambda m: F.when(hash_fn(t).bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)).cast("long"),
            ),
            lambda x, y: x + y,
        ),
    )
    packed = F.zip_with(votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")))
    return F.aggregate(packed, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))


def hamming_near_dups(hashed: DataFrame, hash_col: str, id_col: str,
                      max_hamming: int = 3, prefix_bits: int = 16,
                      width: int = 64, max_block: int | None = None) -> DataFrame:
    """Generic fingerprint near-dup over a `width`-bit hash: block on
    the top `prefix_bits` (near-dups rarely differ there — recall<1
    by design, same trade as any LSH), verify hamming ≤ max_hamming
    in-block with a pure JVM xor+bit_count. Shared kernel for
    SimHash text near-dup and perceptual-hash image near-dup.

    `max_block` is the PAIR-EXPLOSION GUARD (r4 sf1 lesson: a
    homogeneous corpus drove one simhash block to 790/5000 docs at
    sf0.1 and the pair stream to 52M rows at sf1 — quadratic in the
    hottest block). With a cap, blocks holding more than `max_block`
    docs are EXCLUDED from pair expansion (skip-and-flag policy —
    use :func:`hamming_block_overflow` to enumerate them for
    escalation: an exact-hash pass, the pigeonhole multi-block tier,
    or per-block sampling). Output pairs are then bounded by
    n_blocks · max_block²/2 regardless of corpus skew; recall within
    surviving blocks is unchanged. One extra shuffle-free window
    count over the already-blocked rows; fingerprints are computed
    once."""
    blocked = hashed.select(F.col(id_col), F.col(hash_col).alias("sh")).withColumn(
        "block", F.shiftrightunsigned("sh", width - prefix_bits)
    )
    if max_block is not None:
        wb = Window.partitionBy("block")
        blocked = (
            blocked.withColumn("__bn", F.count("*").over(wb))
            .filter(F.col("__bn") <= int(max_block))
            .drop("__bn")
        )
    a = blocked.withColumnsRenamed({id_col: "a", "sh": "sh_a"})
    b = blocked.withColumnsRenamed({id_col: "b", "sh": "sh_b"})
    return (
        a.join(b, "block")
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def hamming_block_overflow(hashed: DataFrame, hash_col: str,
                           prefix_bits: int = 16, width: int = 64,
                           max_block: int = 1024) -> DataFrame:
    """The flag half of the skip-and-flag guard: one row per prefix
    block whose doc count exceeds `max_block` — exactly the blocks
    :func:`hamming_near_dups` (same geometry, same cap) skipped.
    Returns (block, n_docs), the escalation worklist a production
    dedup pass routes to a cheaper treatment instead of exploding.
    One hash agg over slim block keys; nothing quadratic."""
    blocked = hashed.select(
        F.shiftrightunsigned(F.col(hash_col), width - prefix_bits).alias("block")
    )
    return (
        blocked.groupBy("block")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > int(max_block))
    )


def hamming_block_spans(width: int, max_hamming: int) -> list[tuple[int, int]]:
    """(offset, bits) spans splitting `width` bits into
    ``max_hamming + 1`` contiguous blocks (LSB-first; the first
    ``width % blocks`` blocks take the extra bit). Shared by the
    Spark kernel and the SQL oracle so the two can never disagree on
    block geometry."""
    nb = max_hamming + 1
    base, extra = divmod(width, nb)
    spans, off = [], 0
    for i in range(nb):
        ln = base + (1 if i < extra else 0)
        spans.append((off, ln))
        off += ln
    return spans


def hamming_near_dups_exact(hashed: DataFrame, hash_col: str, id_col: str,
                            max_hamming: int = 3, width: int = 64) -> DataFrame:
    """Pigeonhole multi-block hamming near-dup with GUARANTEED
    recall (Manku/Jain/Das Sarma, WWW'07 §3): split the `width` bits
    into ``max_hamming + 1`` contiguous blocks — a pair differing in
    ≤ max_hamming bits has at least one block with ZERO differing
    bits, so it agrees exactly there and the per-block equi-join
    finds it. Recall is 1.0 by construction, where the single
    prefix block of :func:`hamming_near_dups` misses any pair whose
    flipped bits land in the prefix (recall < 1 by design).

    Cost: (max_hamming + 1)× the join fan-in — each row enters every
    block's bucket — and a final pair dedup (a pair close on several
    blocks is found several times). Candidate blowup stays the
    equi-join shape (never all-pairs); at 100 TB each block bucket
    is ~2^bits_per_block-way partitioned exactly like LSH bands.
    """
    spans = hamming_block_spans(width, max_hamming)
    blocked = hashed.select(F.col(id_col), F.col(hash_col).alias("sh"))
    parts = [
        F.struct(
            F.lit(i).alias("bi"),
            F.shiftrightunsigned("sh", off).bitwiseAND(F.lit((1 << ln) - 1)).alias("bv"),
        )
        for i, (off, ln) in enumerate(spans)
    ]
    ex = blocked.select(
        id_col, "sh", F.explode(F.array(*parts)).alias("blk")
    ).select(id_col, "sh", F.col("blk.bi").alias("bi"), F.col("blk.bv").alias("bv"))
    a = ex.withColumnsRenamed({id_col: "a", "sh": "sh_a"})
    b = ex.withColumnsRenamed({id_col: "b", "sh": "sh_b"})
    return (
        a.join(b, ["bi", "bv"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
    )


def hamming_near_dups_exact_sql(src: str, hash_col: str, id_col: str,
                                max_hamming: int = 3, width: int = 64) -> str:
    """DuckDB replay of :func:`hamming_near_dups_exact` over
    ``src(id_col, hash_col)`` (hash values must be non-negative so
    arithmetic ``>>`` equals Spark's shiftrightunsigned) — same
    block spans via hamming_block_spans, same dedup."""
    spans = hamming_block_spans(width, max_hamming)
    blocks = "\n          UNION ALL\n".join(
        f"          SELECT {id_col} AS id, {hash_col} AS sh, {i} AS bi,"
        f" ({hash_col} >> {off}) & {(1 << ln) - 1} AS bv FROM {src}"
        for i, (off, ln) in enumerate(spans)
    )
    return f"""
        WITH hx_blocks AS (
{blocks}
        )
        SELECT DISTINCT x.id AS a, y.id AS b,
               CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
        FROM hx_blocks x JOIN hx_blocks y ON x.bi = y.bi AND x.bv = y.bv
        WHERE x.id < y.id AND bit_count(xor(x.sh, y.sh)) <= {max_hamming}
    """


def simhash_near_dups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      max_hamming: int = 3, prefix_bits: int = 16,
                      hash_fn=None, bits: int = 64,
                      max_block: int | None = None) -> DataFrame:
    """SimHash near-dup: `bits`-bit SimHash per doc, then the shared
    prefix-block + hamming-verify kernel. `max_block` engages the
    pair-explosion guard (see hamming_near_dups): capped output,
    skipped blocks enumerated by :func:`simhash_block_overflow`."""
    h = _spread(docs).select(F.col(id_col), simhash64(text_col, hash_fn=hash_fn, bits=bits).alias("sh"))
    return hamming_near_dups(h, "sh", id_col, max_hamming, prefix_bits, width=bits,
                             max_block=max_block)


def simhash_block_overflow(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", prefix_bits: int = 16,
                           hash_fn=None, bits: int = 64,
                           max_block: int = 1024) -> DataFrame:
    """(block, n_docs) for every simhash prefix block over the cap —
    the escalation worklist paired with simhash_near_dups(max_block=
    cap): together they partition the corpus's candidate mass into
    'pairs emitted' and 'flagged for a non-quadratic treatment'."""
    h = _spread(docs).select(F.col(id_col), simhash64(text_col, hash_fn=hash_fn, bits=bits).alias("sh"))
    return hamming_block_overflow(h, "sh", prefix_bits, width=bits, max_block=max_block)


# ---- n-gram jaccard ----------------------------------------------------------
def _blocked_shingle_pairs(docs: DataFrame, block_col: str, text_col: str,
                           id_col: str, n: int) -> DataFrame:
    """Shared candidate-pair frame for the pairwise shingle-overlap
    verifiers (Jaccard / containment): blocked self-join of hashed
    shingle sets with `a < b`, intersection size and both set sizes
    attached — callers layer their own similarity + threshold."""
    sh = _spread(docs).select(
        F.col(id_col), F.col(block_col).alias("block"),
        F.transform(shingles(text_col, n), lambda t: F.xxhash64(t)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    # the docs table is often a handful of scan splits; the pair work
    # is quadratic per block, so spread the probe side across the
    # cluster by block BEFORE the join (the build side broadcasts).
    # Explicit partition count: AQE would coalesce this tiny-bytes
    # shuffle into a few partitions, but the post-join work is
    # quadratic per input byte — partition count must follow the
    # block count, not the byte size.
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    a = sh.repartition(n_part, "block").withColumnsRenamed({id_col: "a", "sh": "sh_a", "n_sh": "na"})
    b = sh.withColumnsRenamed({id_col: "b", "sh": "sh_b", "n_sh": "nb"})
    return (
        a.join(b, "block")
        .filter(F.col("a") < F.col("b"))
        .withColumn("ninter", F.size(F.array_intersect("sh_a", "sh_b")))
    )


def ngram_jaccard_pairs(docs: DataFrame, block_col: str, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Blocked pairwise Jaccard over word n-gram shingles.
    |A∪B| via |A|+|B|−|A∩B| — one array op per pair, sizes pre-join."""
    return (
        _blocked_shingle_pairs(docs, block_col, text_col, id_col, n)
        .withColumn("jaccard", F.col("ninter") / (F.col("na") + F.col("nb") - F.col("ninter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def containment_pairs(docs: DataFrame, block_col: str, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3, threshold: float = 0.6) -> DataFrame:
    """Blocked pairwise shingle CONTAINMENT — excerpt/quote detection.

    Jaccard misses excerpts: a 50-shingle quote inside a 5000-shingle
    page has J ≈ 0.01 yet containment C(A in B) = |A∩B|/|A| = 1.0 —
    Broder's (1997) resemblance-vs-containment distinction. A training
    corpus full of pages that QUOTE each other needs this direction-
    sensitive signal; symmetric near-dup passes keep both copies.

    One row per unordered candidate pair (a < b) whose LARGER
    directional containment clears `threshold`, with BOTH directions
    reported: cont_a = |A∩B|/|A| (how much of A lives inside B),
    cont_b = |A∩B|/|B|. The dominant direction tells you which doc is
    the excerpt (cont_a ≈ 1, na ≪ nb ⇒ A is quoted by B).

    Same scale shape as :func:`ngram_jaccard_pairs` (shared candidate
    frame): blocked equi-join, quadratic only within a block —
    verifier-tier, not a corpus-wide primary pass.
    """
    return (
        _blocked_shingle_pairs(docs, block_col, text_col, id_col, n)
        .withColumn("cont_a", F.col("ninter") / F.col("na"))
        .withColumn("cont_b", F.col("ninter") / F.col("nb"))
        .filter(F.greatest("cont_a", "cont_b") >= threshold)
        .select("a", "b", F.round("cont_a", 6).alias("cont_a"),
                F.round("cont_b", 6).alias("cont_b"))
    )


# ---- exact substring-span dedup ---------------------------------------------
def duplicate_spans(docs: DataFrame, k: int = 16, min_count: int = 2,
                    text_col: str = "text", id_col: str = "doc_id",
                    hash_fn=None) -> DataFrame:
    """Exact substring-level dedup, the regime of Lee et al.
    ("Deduplicating Training Data Makes Language Models Better"):
    instead of dropping whole near-dup documents, find the REPEATED
    PASSAGES themselves — every maximal token span covered by
    length-k token windows occurring >= min_count times corpus-wide
    (cross-document AND within-document repeats both count, as in the
    suffix-array formulation). Returns one row per merged span:
    (id, span_start, span_end, span_tokens), token offsets, end
    exclusive.

    Plan: tokenize -> one rolling k-window gram per start offset
    (posexplode of the zip_with n-gram chain, so start == pos) ->
    64-bit gram hash -> ONE corpus-wide hash agg keeps hashes seen
    >= min_count times -> semi-join the occurrences back -> per-doc
    interval merge (window cumulative max + island sum). This is the
    MapReduce analog of the suffix-array pass: the single groupBy on
    the gram hash carries one long per token position with map-side
    partial counts — the inherent cost of substring dedup — while
    the interval-merge window only ever sees the DUPLICATED
    positions per doc, not the whole corpus. Gram text never crosses
    a shuffle (hashes do); 2^-64 collisions trade exactness the same
    way the minhash verify path documents.
    """
    from pyspark.sql import Window

    from ..functions.hashing import xx64
    from .textstats import token_ngrams, tokens_all

    hash_fn = hash_fn or xx64
    d = (
        _spread(docs)
        .select(F.col(id_col), tokens_all(text_col).alias("__tk"))
        .filter(F.size("__tk") >= k)
    )
    g = d.select(
        F.col(id_col), F.posexplode(token_ngrams(F.col("__tk"), k)).alias("start", "gram")
    ).select(id_col, "start", hash_fn("gram").alias("gh"))
    dup = g.groupBy("gh").agg(F.count("*").alias("__n")).filter(F.col("__n") >= int(min_count))
    occ = g.join(dup.select("gh"), "gh", "left_semi").select(id_col, "start")
    w_prev = Window.partitionBy(id_col).orderBy("start").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.partitionBy(id_col).orderBy("start").rowsBetween(Window.unboundedPreceding, 0)
    spans = (
        occ.withColumn(
            "__brk",
            (F.col("start") > F.coalesce(F.max(F.col("start") + k).over(w_prev), F.lit(-1))).cast("int"),
        )
        .withColumn("__island", F.sum("__brk").over(w_run))
        .groupBy(id_col, "__island")
        .agg(
            F.min("start").cast("long").alias("span_start"),
            (F.max("start") + k).cast("long").alias("span_end"),
        )
    )
    return spans.select(
        id_col, "span_start", "span_end", (F.col("span_end") - F.col("span_start")).alias("span_tokens")
    )


def strip_duplicate_spans(docs: DataFrame, spans: DataFrame | None = None, k: int = 16,
                          min_count: int = 2, text_col: str = "text",
                          id_col: str = "doc_id", hash_fn=None) -> DataFrame:
    """The removal verb for duplicate_spans: drop every token inside
    a duplicated span and re-join the survivors — the output is the
    corpus with repeated passages excised (documents, not pairs, so
    it composes with the rest of the curation chain). Returns
    (id, text_col, n_tokens_removed).

    The spans list aggregates to one array per affected doc and
    equi-joins back (left: untouched docs pass through whole); token
    filtering is a pure higher-order expression over (token, index)
    structs — no UDF, no second shuffle beyond the span agg's own."""
    from .textstats import tokens_all

    if spans is None:
        spans = duplicate_spans(docs, k, min_count, text_col, id_col, hash_fn)
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = tokens_all(text_col)
    idx = F.when(
        F.size(toks) > 0,
        F.zip_with(
            toks,
            F.sequence(F.lit(0).cast("long"), F.size(toks).cast("long") - 1),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
    ).otherwise(F.expr("array()").cast("array<struct<t:string,i:bigint>>"))
    spans_or_empty = F.coalesce(
        F.col("__spans"),
        F.expr("array()").cast("array<struct<span_start:bigint,span_end:bigint>>"),
    )
    kept = F.filter(
        idx,
        lambda s: ~F.exists(
            spans_or_empty, lambda p: (s["i"] >= p["span_start"]) & (s["i"] < p["span_end"])
        ),
    )
    return (
        docs.join(sp, id_col, "left")
        .select(
            F.col(id_col),
            F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias(text_col),
            (F.size(idx) - F.size(kept)).cast("long").alias("n_tokens_removed"),
        )
    )


# ---- benchmark decontamination ---------------------------------------------
def decontaminate(docs: DataFrame, benchmark: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bench_text_col: str = "text", n: int = 8,
                  min_overlap: int = 1, hash_shingles: bool = True,
                  broadcast_bench: bool = True) -> DataFrame:
    """Training-set decontamination: flag documents that share at
    least `min_overlap` DISTINCT word n-grams with any benchmark
    item — the n-gram-collision audit run on pre-training corpora
    against eval sets (n typically 8-13). Returns
    (id_col, n_hits) for flagged docs.

    Plan for 100 TB: the benchmark side collapses to DISTINCT n-gram
    hashes — longs, and an eval suite is MBs not TBs, so it
    broadcasts; the corpus side explodes to (doc_id, gram_hash) and
    the hit count runs with map-side partial aggregation. Document
    text never crosses a shuffle, and with `hash_shingles` neither
    do the gram strings. Set broadcast_bench=False for a huge
    benchmark side (plain equi-join on the hash instead).
    `hash_shingles=False` joins on raw gram strings — same result
    short of 64-bit collisions; it exists for cross-engine oracles.
    """
    sh_doc = docs.select(F.col(id_col), F.explode(shingles(text_col, n)).alias("g"))
    sh_bench = benchmark.select(F.explode(shingles(bench_text_col, n)).alias("g"))
    if hash_shingles:
        sh_doc = sh_doc.select(id_col, F.xxhash64("g").alias("g"))
        sh_bench = sh_bench.select(F.xxhash64("g").alias("g"))
    sh_bench = sh_bench.distinct()
    if broadcast_bench:
        sh_bench = F.broadcast(sh_bench)
    return (
        sh_doc.join(sh_bench, "g")
        .groupBy(id_col)
        .agg(F.count_distinct("g").alias("n_hits"))
        .filter(F.col("n_hits") >= int(min_overlap))
    )


def drop_contaminated(docs: DataFrame, benchmark: DataFrame, **kw) -> DataFrame:
    """The pipeline verb: remove flagged docs (anti-join on the
    contamination list)."""
    id_col = kw.get("id_col", "doc_id")
    return docs.join(decontaminate(docs, benchmark, **kw), id_col, "left_anti")


# ---- embedding cosine near-dup ------------------------------------------------
def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine over two array<float> columns — zip_with dot product,
    JVM-side (no UDF)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def l2_norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
                        block_col: str | None = None, threshold: float = 0.95) -> DataFrame:
    """Cosine ≥ τ pairs. With block_col: equi-join blocked; without:
    all-pairs (verification-scale only — at 100 TB use the LSH/IVF
    path in operators/similarity.py).

    Norms are computed ONCE per vector before the join and carried
    through it — inside the join each pair costs a single zip_with
    dot product instead of three array folds (bit-identical result:
    the final dot/(na*nb) expression is unchanged, only where the
    norm folds run moves; measured ~2x on the blocked pair scan)."""
    cols = [F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)]
    if block_col:
        cols.append(F.col(block_col).alias("block"))
    v = emb.select(*cols).withColumn("__nrm", l2_norm(F.col(vec_col)))
    a = v.withColumnsRenamed({id_col: "a", vec_col: "va", "__nrm": "__na"})
    b = v.withColumnsRenamed({id_col: "b", vec_col: "vb", "__nrm": "__nb"})
    j = a.join(b, "block") if block_col else a.crossJoin(b)
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        j.filter(F.col("a") < F.col("b"))
        .withColumn("cosine", dot / (F.col("__na") * F.col("__nb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


# ---- semantic dedup (SemDeDup) ---------------------------------------------
#: auto-sizing bound: cells never exceed this (past it, shard the
#: quantizer build instead of widening a single centroid table)
_MAX_AUTO_CELLS = 4096


def semantic_dedup(emb: DataFrame, n_cells: int | None = None, iters: int = 1, seed: int = 99,
                   threshold: float = 0.9, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): cluster
    the embedding space with a coarse k-means quantizer, search for
    cosine >= tau pairs ONLY within each cluster, group transitively,
    and drop everything but the min-id representative per semantic
    cluster. Returns the drop list (id_col, keep_<id_col>).

    Composition of three existing scale shapes — nothing new runs
    all-pairs: the fixed-point IVF quantizer (similarity.py; exact
    integer cell membership, engine-portable, per-round lineage
    truncation), the blocked cosine pair scan with precomputed norms
    (embedding_near_dups with block_col=cell — quadratic only within
    a cell, the SemDeDup trick that makes web-scale feasible), and
    min-label connected components (pairs are transitive evidence,
    A~B,B~C must collapse even when A~C was never emitted). At 100 TB
    the assigned corpus is written partitioned by cell (see
    write_ivf_store) so each cell's pair scan is a partition-local
    job. Recall < 1 like any clustered near-dup search: cross-cell
    near-dups are unseen by design (raise n_cells for tighter cells
    or iters for better centroids; the trade is documented in the
    paper).

    `n_cells=None` (the default) auto-sizes the quantizer to the
    corpus: k = clamp(⌈√n⌉, 8, 4096) — the classic IVF sizing that
    balances the n·k assignment cost against the Σ s² in-cell pair
    scan (both ≈ n^1.5), so doubling the corpus can never re-create
    the fixed-k quadratic blowup (r4 sf1 lesson: 190 s at 10× rows
    with k pinned at 8 — the in-cell scan is quadratic in n/k). The
    oracled entry passes an explicit k for replay determinism; the
    count() that sizing needs is one cheap metadata-friendly job and
    only runs in auto mode."""
    from .similarity import ivf_index_quantized

    if n_cells is None:
        import math

        n_cells = max(8, min(math.isqrt(emb.count()) + 1, _MAX_AUTO_CELLS))
    _, assigned = ivf_index_quantized(
        emb, n_cells=n_cells, iters=iters, seed=seed, c_id=id_col, c_vec=vec_col
    )
    pairs = embedding_near_dups(
        assigned.select(F.col(id_col), F.col("vec").alias(vec_col), "cell"),
        id_col=id_col, vec_col=vec_col, block_col="cell", threshold=threshold,
    )
    comp = connected_components(pairs)
    return comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col), F.col("component").alias(f"keep_{id_col}")
    )


# ---- duplicate-cluster grouping (connected components) --------------------
def connected_components(edges: DataFrame, src: str = "a", dst: str = "b",
                         max_iter: int = 50) -> DataFrame:
    """Connected components over an undirected near-dup edge list by
    min-label propagation with pointer jumping: every node ends with
    component = smallest node id reachable from it. This is the
    grouping step a real dedup pipeline needs AFTER pair finding
    (MinHash/SimHash/cosine emit PAIRS; keeping one representative
    per transitive cluster requires components — A~B, B~C must
    collapse to one cluster even when A~C was never emitted).

    Scale shape (a la Kiveris et al., "Connected Components in
    MapReduce and Beyond"): each round is one equi-join of the edge
    list against current labels + a partial/final min aggregation +
    one label-chasing equi-join — never any all-pairs work. The
    pointer jump (comp ← comp(comp); labels are always ids of
    same-component nodes, so chasing them is safe) spreads labels
    multiplicatively: a 1.5k-node chain-heavy graph converges in 16
    rounds vs ~45 with propagation alone (measured 104s → ~12s at
    bench SF). Lineage is truncated every round with localCheckpoint
    (on a cluster: a reliable checkpoint dir or intermediate table)
    so the plan stays O(1) per round; every change-counter rides the
    checkpoint's own job as an Observation — zero extra actions per
    round.

    Returns (id, component), one row per distinct endpoint.
    """
    from pyspark.sql import Observation

    # min-label works over ANY totally-ordered id type (string image
    # ids as well as numeric vec/doc ids); the only constraint is the
    # two exploded structs sharing one field type, so cast to long
    # only when the endpoint types differ (e.g. int src vs long dst).
    c_src, c_dst = F.col(src), F.col(dst)
    if edges.schema[src].dataType != edges.schema[dst].dataType:
        c_src, c_dst = c_src.cast("long"), c_dst.cast("long")
    sym = (
        # one scan of the (possibly expensive, uncached) edge plan:
        # explode each edge into both directions instead of a
        # self-union that would execute the upstream plan twice
        edges.select(
            F.explode(
                F.array(
                    F.struct(c_src.alias("id"), c_dst.alias("nbr")),
                    F.struct(c_dst.alias("id"), c_src.alias("nbr")),
                )
            ).alias("e")
        )
        .select("e.id", "e.nbr")
        .distinct()
        # materialize once: every round joins against sym, and without
        # this the whole upstream pair-finding plan re-executes per
        # round (measured 10x the loop's own cost)
        .localCheckpoint()
    )
    comp = (
        sym.select("id").distinct().withColumn("comp", F.col("id")).localCheckpoint()
    )

    def jump(df, obs):
        lut = df.select(F.col("id").alias("cid"), F.col("comp").alias("cc"))
        return (
            df.join(lut, df["comp"] == lut["cid"], "left")
            .select(
                "id",
                F.col("comp"),
                F.least(F.col("comp"), F.coalesce("cc", "comp")).alias("new_comp"),
            )
            .observe(
                obs,
                F.sum(F.when(F.col("new_comp") < F.col("comp"), 1).otherwise(0)).alias("n"),
            )
            .select("id", F.col("new_comp").alias("comp"))
        )

    for _ in range(max_iter):
        # (1) neighbor propagation: comp ← min over closed neighborhood
        nbr_min = (
            sym.join(
                comp.select(F.col("id").alias("nbr"), F.col("comp").alias("nbr_comp")), "nbr"
            )
            .groupBy("id")
            .agg(F.min("nbr_comp").alias("nbr_min"))
        )
        obs_prop = Observation()
        stepped = (
            comp.join(nbr_min, "id", "left")
            .select(
                "id",
                F.col("comp"),
                F.least(F.col("comp"), F.coalesce("nbr_min", "comp")).alias("new_comp"),
            )
            .observe(
                obs_prop,
                F.sum(F.when(F.col("new_comp") < F.col("comp"), 1).otherwise(0)).alias("n"),
            )
            .select("id", F.col("new_comp").alias("comp"))
        )
        # (2) one pointer jump per round. Exactly one: chaining a
        # second self-join jump before the checkpoint makes round
        # cost blow up after ~8 rounds (reproduced on an idle host —
        # analyzer self-join dedup over nested clones), while a
        # single jump stays flat per round.
        obs_j1 = Observation()
        nxt = jump(stepped, obs_j1)
        comp = nxt.localCheckpoint()
        changed = int(obs_prop.get["n"] or 0) + int(obs_j1.get["n"] or 0)
        if not changed:
            return comp.select("id", F.col("comp").alias("component"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def edit_distance_pairs(docs: DataFrame, block_col: str, text_col: str = "text",
                        id_col: str = "doc_id", prefix: int = 80,
                        max_dist: int = 8) -> DataFrame:
    """Blocked pairwise edit-distance verification — the
    character-level near-dup tier below shingles: OCR noise, single
    typo edits, and template fills that shift no whole token are
    invisible to word-shingle Jaccard but sit at tiny Levenshtein
    distance. Distances are computed on a `prefix`-bounded slice
    because Levenshtein is O(len²) PER PAIR — the full-text form is
    for verifying candidates from MinHash/SimHash, not for long
    documents wholesale (bound documented, not hidden).

    Same blocked-quadratic verifier shape (and caveats) as
    :func:`ngram_jaccard_pairs`; `levenshtein` is the textbook DP in
    both Spark and DuckDB, so verdicts are engine-exact. Returns
    (a, b, dist) for pairs with dist ≤ `max_dist`.
    """
    p = _spread(docs).select(
        F.col(id_col), F.col(block_col).alias("block"),
        F.substring(F.col(text_col), 1, prefix).alias("pfx"),
    )
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    a = p.repartition(n_part, "block").withColumnsRenamed({id_col: "a", "pfx": "pa"})
    b = p.withColumnsRenamed({id_col: "b", "pfx": "pb"})
    return (
        a.join(b, "block")
        .filter(F.col("a") < F.col("b"))
        .withColumn("dist", F.levenshtein("pa", "pb"))
        .filter(F.col("dist") <= max_dist)
        .select("a", "b", F.col("dist").cast("long").alias("dist"))
    )


# ---- incremental against-corpus dedup (delta maintenance) -------------------

def minhash_delta(new_docs: DataFrame, state_sigs: DataFrame,
                  state_bands: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", num_hashes: int = 16,
                  bands: int = 8, shingle_n: int = 3,
                  min_agree_lanes: int = 12, hash_fn=None):
    """Dedup a NEW wave against an already-indexed corpus in
    O(wave), never O(corpus) — the per-wave form every continuous
    crawl needs (the batch operators re-shingle everything; at
    100 TB the corpus side must be touched only through its INDEX).

    State = the corpus's persisted ``(id, sig)`` signatures and
    ``(id, band, band_hash)`` band rows (:func:`minhash_signature` /
    :func:`minhash_bands` — k longs + bands rows per doc; the texts
    are never read again).  The wave's docs are shingled once;
    candidates come from the equi-join of the wave's band rows
    against the state band table; verification is SIGNATURE
    agreement (matching lanes out of k — the unbiased Jaccard
    estimator), which needs only state sigs.  ``min_agree_lanes``
    of 12/16 ≈ Jaccard 0.75.

    New and state ids must be disjoint (the state MERGE guarantees
    it in the engine's lakehouse flow).  Returns (matches,
    new_sigs, new_bands): matches = (id, dup_of, agree_lanes) with
    one row per (new, old) candidate pair that verified; new_sigs /
    new_bands are the state DELTA the caller appends (MERGE), so
    next wave's index is ready — the same exactness contract as
    index_delta_update: state-after == rebuild-from-scratch."""
    from ..functions.hashing import xx64

    hash_fn = hash_fn or xx64
    new_sigs = minhash_signature(new_docs, text_col, id_col, num_hashes,
                                 shingle_n, hash_fn=hash_fn)
    new_bands = minhash_bands(new_sigs, id_col, bands, hash_fn=hash_fn)
    cands = (
        new_bands.withColumnsRenamed({id_col: "__new"})
        .join(state_bands.withColumnsRenamed({id_col: "__old"}),
              ["band", "band_hash"])
        .select("__new", "__old")
        .distinct()
    )
    agree = F.size(
        F.filter(
            F.zip_with("__sa", "__sb", lambda x, y: x == y),
            lambda m: m,
        )
    )
    matches = (
        cands.join(new_sigs.select(F.col(id_col).alias("__new"),
                                   F.col("sig").alias("__sa")), "__new")
        .join(state_sigs.select(F.col(id_col).alias("__old"),
                                F.col("sig").alias("__sb")), "__old")
        .withColumn("agree_lanes", agree)
        .filter(F.col("agree_lanes") >= min_agree_lanes)
        .select(
            F.col("__new").alias(id_col),
            F.col("__old").alias("dup_of"),
            F.col("agree_lanes").cast("int").alias("agree_lanes"),
        )
    )
    return matches, new_sigs, new_bands


def cluster_split_leakage(members: DataFrame, id_col: str = "id",
                          cluster_col: str = "cluster",
                          split_col: str = "split") -> DataFrame:
    """Near-dup leakage across train/eval splits: a cluster whose
    members land on BOTH sides of a split boundary leaks eval content
    into training — the eval-integrity failure exact-text splits
    (leakage_free_split) cannot catch, because near-duplicates (a
    re-encoded image, a reformatted page) have different ids AND
    different bytes, so only the near-dup CLUSTER knows they are one
    document.

    Input is (id, cluster, split) — compose from any clustering
    (connected_components over phash/minhash pairs; singletons =
    their own cluster). Output adds (n_splits, leaked, move_to):
    ``leaked`` iff the cluster spans >1 distinct split; ``move_to``
    is the deterministic repair — every member of a leaked cluster
    reassigns to the cluster's MIN split name, so all copies
    co-locate and the eval set only ever SHRINKS (a doc moves out of
    eval, never in — no training row ever enters eval). One
    cluster-keyed agg + one equi-join back; nothing all-pairs."""
    agg = members.groupBy(cluster_col).agg(
        F.countDistinct(split_col).alias("n_splits"),
        F.min(split_col).alias("__ms"),
    )
    out = members.join(agg, cluster_col)
    return out.select(
        id_col, cluster_col, split_col, "n_splits",
        (F.col("n_splits") > 1).alias("leaked"),
        F.when(F.col("n_splits") > 1, F.col("__ms")).alias("move_to"),
    )


def cluster_split_leakage_sql(src: str, id_col: str = "id",
                              cluster_col: str = "cluster",
                              split_col: str = "split") -> str:
    """DuckDB replay of :func:`cluster_split_leakage`."""
    return f"""
        WITH csl_a AS (
          SELECT {cluster_col} AS c,
                 COUNT(DISTINCT {split_col}) AS n_splits,
                 MIN({split_col}) AS ms
          FROM {src} GROUP BY {cluster_col}
        )
        SELECT m.{id_col}, m.{cluster_col}, m.{split_col},
               CAST(a.n_splits AS BIGINT) AS n_splits,
               a.n_splits > 1 AS leaked,
               CASE WHEN a.n_splits > 1 THEN a.ms END AS move_to
        FROM {src} m JOIN csl_a a ON m.{cluster_col} = a.c
    """


# ---- keep-best representative election ---------------------------------------
#
# Min-id representatives (drop_list) are deterministic but blind: in
# a near-dup cluster of {clean original, ad-stuffed copy, truncated
# mirror} the curated corpus should keep the BEST member, not the
# numerically smallest — the FineWeb/RefinedWeb-style election.
# Plugging any per-doc score into the cluster grouping is one join +
# one per-cluster window: rank by (score DESC, id ASC) so equal
# scores degrade gracefully to the min-id rule and the election
# stays engine-portable (the tie-break is total). Emits the DROP
# rows with both scores so an audit can see what the election
# traded; singleton docs never enter (components only covers paired
# ids) and therefore never appear on a drop list.

def keep_best(components: DataFrame, scores: DataFrame,
              id_col: str = "id", comp_col: str = "component",
              score_col: str = "score") -> DataFrame:
    """(id, keep_id, score, keep_score) for every clustered doc that
    LOST its cluster's election — the deletion list under
    best-member (not min-id) representative choice."""
    from pyspark.sql import Window

    j = components.join(scores, id_col).select(
        F.col(id_col).alias("id"),
        F.col(comp_col).alias("comp"),
        F.col(score_col).alias("score"),
    )
    w = Window.partitionBy("comp").orderBy(F.desc("score"), F.asc("id"))
    winners = (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("comp"), F.col("id").alias("keep_id"),
                F.col("score").alias("keep_score"))
    )
    return (
        j.join(winners, "comp")
        .where(F.col("id") != F.col("keep_id"))
        .select("id", "keep_id", "score", "keep_score")
    )


def keep_best_sql(components: str, scores: str,
                  id_col: str = "id", comp_col: str = "component",
                  score_col: str = "score") -> str:
    """DuckDB replay of :func:`keep_best` over relations
    ``components(id, component)`` and ``scores(id, score)``."""
    return f"""
        WITH kb_j AS (
          SELECT c.{id_col} AS id, c.{comp_col} AS comp,
                 s.{score_col} AS score
          FROM {components} c JOIN {scores} s ON s.{id_col} = c.{id_col}
        ), kb_w AS (
          SELECT comp, id AS keep_id, score AS keep_score FROM (
            SELECT comp, id, score,
                   ROW_NUMBER() OVER (PARTITION BY comp
                                      ORDER BY score DESC, id) AS rn
            FROM kb_j
          ) WHERE rn = 1
        )
        SELECT j.id, w.keep_id, j.score, w.keep_score
        FROM kb_j j JOIN kb_w w USING (comp)
        WHERE j.id <> w.keep_id
    """
