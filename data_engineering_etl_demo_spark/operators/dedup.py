"""Deduplication operators: exact, MinHash-LSH, n-gram Jaccard, SimHash.

Design for 100 TB (the whole point of these operators):

- exact dedup: hash-groupBy on a fingerprint — one shuffle keyed by the
  fingerprint (maximal cardinality, even partitions).
- MinHash-LSH: shingle → K portable min-hashes → B bands; docs sharing a
  band bucket become candidate pairs; exact Jaccard verifies candidates.
  The band join touches only colliding buckets — the O(n²) all-pairs
  comparison never materializes.  Base hash = md5 per WORD + an integer
  polynomial fold per shingle (portable: Spark xxhash64 and DuckDB hash()
  are different algorithms; md5 is the common denominator, and hashing
  words once instead of md5-ing every shingle string makes the signature
  pass ~7x cheaper — at scale the hash cost is dwarfed by the shuffle LSH
  avoids anyway).
- SimHash: 64-bit signature whose Hamming distance tracks cosine similarity
  of token sets; near-dup candidates = equal signature prefix bands.
- embedding near-dup: random-hyperplane sign-LSH over the embedding column;
  see similarity.py for the cosine machinery.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineering_etl_demo_spark.functions.caching import persist_latest

from data_engineering_etl_demo_spark.operators.text import fingerprint, words

# LSH geometry: K = BANDS * ROWS_PER_BAND signature components.
# Candidate recall at jaccard t is 1-(1-t^r)^b; with 20 bands of 2 rows a
# pair at the default verify threshold (0.5) is banded w.p. ≈0.997 and at
# 0.7 w.p. ≈0.999999.  (The earlier 4×3 layout missed a 0.7-jaccard
# planted pair at ≈0.81 collision probability, and 12×2/16×2
# deterministically missed jaccard≈0.50 pairs under the word-fold base
# hash; r=2 trades a coarser bucket, i.e. more false candidates for the
# exact-Jaccard verify to reject, for near-full recall across the
# advertised range.  The extra bands are cheap now that the K
# min-aggregates fold longs instead of md5-ing shingle strings.  Recall is
# pinned by tests/test_dedup_pipeline.py.)
MINHASH_K = 40
LSH_BANDS = 20
ROWS_PER_BAND = 2


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One surviving doc per normalized-text fingerprint (min id wins —
    deterministic).  Returns (fingerprint, keep_id, dup_count)."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# Shingle hashing: one md5 per WORD (cached per batch), then each 5-word
# shingle's hash is the left fold  acc -> (acc*BASE + wh) mod P  over the
# shingle's word hashes (init 0).  Both engines replay the identical
# integer arithmetic: Spark runs the vectorized numpy kernel below, the
# DuckDB oracle runs list_transform(md5-decode) + list_reduce.  BASE and
# every intermediate stay < 2^31, so acc*BASE + wh < 2^63 — exact in
# BIGINT/int64 on both sides.  (Earlier rounds built each shingle as a
# space-joined STRING and md5'd it — the interpreted transform/slice/
# array_join chain cost ~3 s of the 3.9 s sf0.1 bench entry; hashing words
# once and folding integers is ~7x cheaper and shrinks every downstream
# shuffle from 30-char strings to longs.)
SHINGLE_N = 5
SHINGLE_BASE = 2147483629


def explode_shingles(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle) — DISTINCT shingle HASHES (long) per doc, exploded
    once.  Both the signature pass and the Jaccard verify consume this;
    computing it once (and persisting it across the two passes) halves the
    dominant cost.  Jaccard over hashed shingles equals Jaccard over the
    shingle strings up to mod-2^31 collisions, which the oracle mirrors
    exactly (same arithmetic, same collisions).

    Arrow-batched mapInPandas: the per-doc work (md5 per distinct word +
    a width-5 integer fold) is row-local, so the kernel scales linearly
    with input splits — no shuffle is introduced; callers repartition the
    single-file local testdata first (see plans/llmdata._docs_wide)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("shingle", LongType()),
        ]
    )
    n, base, p = SHINGLE_N, SHINGLE_BASE, MINHASH_P

    def kernel(batches):
        import hashlib

        import numpy as np

        word_h: dict[str, int] = {}  # md5 cache — corpora repeat words heavily

        def wh(tok: str) -> int:
            h = word_h.get(tok)
            if h is None:
                h = (
                    int.from_bytes(hashlib.md5(tok.encode()).digest()[:4], "big")
                    % p
                )
                word_h[tok] = h
            return h

        for pdf in batches:
            ids, hs = [], []
            for did, warr in zip(pdf[id_col], pdf["_w"]):
                if warr is None:
                    # NULL text -> NULL word array: the SQL forms (and the
                    # oracle's unnest) emit no rows; the kernel must match,
                    # not crash on len(None)
                    continue
                whs = np.fromiter(
                    (wh(t) for t in warr), dtype=np.int64, count=len(warr)
                )
                nw = len(whs)
                if nw >= n:
                    acc = np.zeros(nw - n + 1, dtype=np.int64)
                    for j in range(n):
                        acc = (acc * base + whs[j : j + nw - n + 1]) % p
                else:
                    # short doc: its single shingle folds over all nw words
                    # (empty doc -> the init value 0), mirroring the clamped
                    # slice whs[i:i+4] the oracle evaluates.
                    a = 0
                    for v in whs:
                        a = (a * base + int(v)) % p
                    acc = np.array([a], dtype=np.int64)
                u = np.unique(acc)
                ids.append(np.full(len(u), did, dtype=np.int64))
                hs.append(u)
            if ids:
                yield pd.DataFrame(
                    {id_col: np.concatenate(ids), "shingle": np.concatenate(hs)}
                )

    return docs.select(F.col(id_col), words(F.col(text_col)).alias("_w")).mapInPandas(
        kernel, out_schema
    )


# Affine MinHash family over the Mersenne prime 2^31-1: the classic
# g_i(x) = (a_i·h(x) + b_i) mod p construction with ONE md5-derived base
# hash per shingle (hex chars 1-8 → 32 bits, reduced mod p) and K fixed
# (a_i, b_i) pairs spread by the golden-ratio multiplier.  An earlier
# modulus-free linear family (h1 + i·h2) degenerated for i ≥ 16 — i·h2
# outgrows h1's 60-bit range, every high band picks the min-h2 shingle,
# and the 12 "independent" bands collapse (a planted-recall test caught
# 59 missed pairs).  With the mod-p affine transforms the same test
# misses zero.  a_i·h + b_i < 2^31·2^31 + 2^31 < 2^63: safe in BIGINT,
# and the DuckDB oracle replays the identical integer arithmetic.
MINHASH_P = 2147483647  # 2^31 - 1
_GOLD = 0x9E3779B9  # 2^32 / golden ratio — multiplicative-hash constant
MINHASH_A = [((_GOLD * (2 * i + 1)) % MINHASH_P) | 1 for i in range(MINHASH_K)]
MINHASH_B = [(_GOLD * 7919 * (i + 1)) % MINHASH_P for i in range(MINHASH_K)]


def minhash_signature_components(shingled: DataFrame, id_col: str, k: int = MINHASH_K) -> DataFrame:
    """(id, mh0..mhK-1) — one groupBy pass computes all K mins over the
    affine family above.  The shingle column already IS the reduced base
    hash (< p, from explode_shingles), so the K transforms are pure integer
    multiply-add-mod over longs — whole-stage-codegen'd, no string work —
    and the bands stay pairwise-independent."""
    base = shingled.select(F.col(id_col), F.col("shingle").alias("_h"))
    return base.groupBy(id_col).agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("_h") + F.lit(MINHASH_B[i]))
                % MINHASH_P
            ).alias(f"mh{i}")
            for i in range(k)
        ]
    )


def lsh_band_buckets(sig: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bucket): bucket = md5 of the band's signature slice."""
    bands = []
    for b in range(LSH_BANDS):
        comps = [
            F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string")
            for r in range(ROWS_PER_BAND)
        ]
        bands.append(F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *comps)).alias("bucket")))
    return sig.select(F.col(id_col), F.explode(F.array(*bands)).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def lsh_candidate_pairs(
    buckets: DataFrame, id_col: str, max_bucket_width: int | None = None
) -> DataFrame:
    """distinct (id_a < id_b) pairs sharing any band bucket — one
    aggregation keyed on (band, bucket), never all pairs.

    Pair generation is GROUP-LOCAL: collect each bucket's member-id SET
    (collect_set: a duplicated member row can never mint a self-pair),
    sorted ascending, drop singleton buckets, and emit the W·(W−1)/2
    in-bucket pairs through TWO STREAMING explodes — posexplode each
    element, then explode its strict successors (slice from position
    i+2).  The earlier bucket self-join computed the whole
    signature→banding subtree TWICE (once per join side — Spark shares no
    common subexpressions across join inputs) and shuffled it twice; this
    form references the subtree once and pays one exchange (guide §2.4:
    two operations keyed the same way share one exchange).  The pair
    SET is identical: a bucket of members {x₁<…<x_w} yields exactly the
    pairs the equi-join with id_a < id_b produced (sortedness makes
    position order ⟺ id order).  Per-ROW memory is O(W), never the
    flattened W² pairs array an earlier form allocated inside a single
    task row before exploding (the guide-§5 spill hazard a boilerplate
    mega-bucket would hit at 100 TB): between the two explodes each of a
    bucket's W intermediate rows carries the WHOLE ``_ids`` array (W
    copies of a W-array per bucket), and the second explode emits rows
    of two ids.  The Generate operators stream the quadratic output row
    by row.

    ``max_bucket_width`` is the mega-bucket guard for boilerplate-heavy
    corpora: a bucket shared by W docs contributes W·(W−1)/2 candidate
    pairs, so one boilerplate band bucket (the sf0.01 corpus already has
    a 283-wide one) dominates the verify cost — the LSH skew failure
    mode at 100 TB.  Buckets wider than the cap are dropped from
    CANDIDATE GENERATION only (stop-bucket removal, the stop-word
    analogy): a pair whose every collision is a mega-bucket is lost,
    which is the explicit trade.  Default None keeps exact advertised
    recall; the planted-recall test pins the default path.  (The cap is
    a post-aggregate size filter — two plan nodes cheaper than the old
    width-census join, and it never re-derives the banding.)"""
    grouped = buckets.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_set(id_col)).alias("_ids")
    )
    width_ok = F.size("_ids") >= 2
    if max_bucket_width is not None:
        width_ok = width_ok & (F.size("_ids") <= max_bucket_width)
    return (
        grouped.filter(width_ok)
        # 1-based slice: strict successors of 0-based element i start at
        # position i+2; size(_ids) over-lengths are clamped by slice, and
        # the last element's empty suffix emits no row under explode.
        .select(F.col("_ids"), F.posexplode("_ids").alias("_i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("_ids"), F.col("_i") + F.lit(2), F.size("_ids"))
            ).alias("id_b"),
        )
        .distinct()
    )


def _pair_overlap_sizes(
    shingled: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """(id_a, id_b, n_inter, n_a, n_b) for candidate pairs — the shared
    intersection stage of the pairwise verifiers.  Candidate pairs are
    tiny (LSH pruned); broadcasting them keeps the big shingle table from
    shuffling on the first join — only the (pairs × doc-a shingles)
    intermediate shuffles into the second join."""
    shingles = shingled.select(F.col(id_col).alias("sid"), "shingle")
    sizes = shingles.groupBy("sid").agg(F.count(F.lit(1)).alias("n"))
    sa = shingles.select(F.col("sid").alias("id_a"), "shingle")
    sb = shingles.select(F.col("sid").alias("id_b"), "shingle")
    inter = (
        F.broadcast(pairs)
        .join(sa, on="id_a")
        .join(sb, on=["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("sid").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("sid").alias("id_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(inter, on=["id_a", "id_b"], how="left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .join(na, on="id_a")
        .join(nb, on="id_b")
    )


def _trunc6(x: Column) -> Column:
    # floor-truncate instead of round: ROUND(double, n) last-ulp behavior
    # is engine-defined; floor(x·1e6)/1e6 is IEEE-exact in both Spark and
    # the DuckDB oracle.
    return F.floor(x * F.lit(1e6)).cast("double") / F.lit(1e6)


def jaccard_pairs(
    shingled: DataFrame, pairs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard) for candidate pairs with jaccard >= threshold."""
    sized = _pair_overlap_sizes(shingled, pairs, id_col)
    jac = _trunc6(
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    )
    return (
        sized.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    shingled: DataFrame, pairs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, containment) for candidate pairs where containment =
    |A∩B| / min(|A|, |B|) >= threshold — the asymmetric complement to
    Jaccard: a short document wholly embedded in a long one scores
    containment ≈ 1 while its Jaccard stays near |A|/|B|.  Shares
    _pair_overlap_sizes with jaccard_pairs (one tuned join shape, two
    thin score adapters)."""
    sized = _pair_overlap_sizes(shingled, pairs, id_col)
    cont = _trunc6(F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b")))
    return (
        sized.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def minhash_containment(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact CONTAINMENT verify.

    Recall caveat (inherent, documented): candidates come from the
    symmetric Jaccard LSH bands, so a containment-1.0 pair whose Jaccard
    is very low (tiny doc inside a huge one) may never band-collide —
    banding probability follows Jaccard, not containment.  That is the
    standard production compromise (one LSH index serves both verifies);
    the oracle replays the identical collision set, and the planted-pair
    test pins recall at the sizes this corpus actually has."""
    from pyspark import StorageLevel

    shingled = persist_latest(
        explode_shingles(docs, id_col, text_col),
        "dedup.shingles.a",
        StorageLevel.MEMORY_AND_DISK,
    )
    sig = minhash_signature_components(shingled, id_col)
    buckets = lsh_band_buckets(sig, id_col)
    pairs = lsh_candidate_pairs(buckets, id_col, max_bucket_width)
    return containment_pairs(shingled, pairs, id_col, threshold)


def minhash_near_dup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle-explode (once, persisted
    across the signature and verify passes) → signature → bands → candidate
    pairs → exact-Jaccard verify.  Returns (id_a, id_b, jaccard).

    ``max_bucket_width`` (default off) drops boilerplate mega-buckets from
    candidate generation — see lsh_candidate_pairs for the trade."""
    from pyspark import StorageLevel

    shingled = persist_latest(
        explode_shingles(docs, id_col, text_col),
        "dedup.shingles.b",
        StorageLevel.MEMORY_AND_DISK,
    )
    sig = minhash_signature_components(shingled, id_col)
    buckets = lsh_band_buckets(sig, id_col)
    pairs = lsh_candidate_pairs(buckets, id_col, max_bucket_width)
    return jaccard_pairs(shingled, pairs, id_col, threshold)


def incremental_near_dup(
    docs: DataFrame,
    split_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental ingest dedup: for each INCOMING doc (id >= split_id),
    find its best near-duplicate in the EXISTING corpus (id < split_id).
    Returns (doc_id, dup_of, jaccard) — one row per flagged incoming doc,
    best match by (jaccard desc, dup_of asc).

    This is the production shape for continuous ingestion: the bucket join
    is incoming-buckets × existing-buckets, so per-batch cost scales with
    the increment's collisions, never corpus² — and in a real deployment
    the existing side's signatures/buckets are precomputed once and stored,
    making the marginal cost O(increment) end-to-end.  (Here both sides are
    recomputed from the one documents table for self-containment.)"""
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    shingled = persist_latest(
        explode_shingles(docs, id_col, text_col),
        "dedup.shingles.c",
        StorageLevel.MEMORY_AND_DISK,
    )
    sig = minhash_signature_components(shingled, id_col)
    buckets = lsh_band_buckets(sig, id_col)
    # Group-local cross-split pairs: collect each bucket's existing and
    # incoming member-id sets in ONE aggregation (collect_set skips the
    # when()-nulls and is dup-proof) and emit the |ex|·|in| cross product
    # through two STREAMING explodes — the existing×incoming bucket join
    # computed the signature→banding subtree twice (once per side); this
    # references it once, same rewrite (and the same identical-pair-set
    # argument) as lsh_candidate_pairs, and like there the quadratic
    # output is never flattened into one task row (guide §5).  In the
    # real deployment shape the existing side is a STORED signature
    # table, where the bucket join is the right plan — documented in the
    # docstring above.
    split = F.col(id_col) < split_id
    pairs = (
        buckets.groupBy("band", "bucket")
        .agg(
            F.collect_set(F.when(split, F.col(id_col))).alias("_ex"),
            F.collect_set(F.when(~split, F.col(id_col))).alias("_in"),
        )
        .filter((F.size("_ex") > 0) & (F.size("_in") > 0))
        .select(F.col("_in"), F.explode("_ex").alias("id_a"))
        .select("id_a", F.explode("_in").alias("id_b"))
        .distinct()
    )
    scored = jaccard_pairs(shingled, pairs, id_col, threshold)
    w = Window.partitionBy("id_b").orderBy(
        F.col("jaccard").desc(), F.col("id_a").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("id_b").alias(id_col),
            F.col("id_a").alias("dup_of"),
            "jaccard",
        )
    )


# ---------------------------------------------------------------------------
# SimHash (Spark-side only — bit-twiddling has no portable SQL mirror)
# ---------------------------------------------------------------------------


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash over word tokens: per bit, sum +1/-1 token votes and
    take the sign.  Token hash = first 15 hex chars of md5 as a long, so
    signatures are stable across runs/engines; the DuckDB oracle rebuilds
    the identical integer from hex digits.

    Arrow-batched kernel, same shape as explode_shingles: tokenization
    stays JVM-side (words() — the exact mirror of the oracle's SQL_WORDS),
    one Python md5 per DISTINCT word occurrence (cached per batch), and
    the 60 bit-votes collapse to one (n_tokens × 60) numpy reduction per
    doc.  Replaces 60 interpreted vote-aggregates over an exploded token
    table — no shuffle at all now (the signature is row-local), which cut
    the near-dup query ~2× at sf0.1.  Docs with zero tokens produce no
    row, exactly like the old explode (and the oracle's unnest)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [StructField(id_col, LongType()), StructField("simhash", LongType())]
    )

    def kernel(batches):
        import hashlib

        import numpy as np

        bit_idx = np.arange(60, dtype=np.int64)
        cache: dict[str, int] = {}

        def th(tok: str) -> int:
            v = cache.get(tok)
            if v is None:
                v = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                cache[tok] = v
            return v

        for pdf in batches:
            ids, sigs = [], []
            for did, tarr in zip(pdf[id_col], pdf["_t"]):
                if tarr is None or len(tarr) == 0:
                    continue
                h = np.fromiter(
                    (th(t) for t in tarr), dtype=np.int64, count=len(tarr)
                )
                ones = ((h[:, None] >> bit_idx) & 1).sum(axis=0)
                votes = 2 * ones - len(h)  # (+1/-1 vote sum) per bit
                sig = int(((votes > 0).astype(np.int64) << bit_idx).sum())
                ids.append(did)
                sigs.append(sig)
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: np.asarray(ids, dtype=np.int64),
                        "simhash": np.asarray(sigs, dtype=np.int64),
                    }
                )

    return docs.select(
        F.col(id_col),
        F.array_distinct(words(F.col(text_col))).alias("_t"),
    ).mapInPandas(kernel, out_schema)


def hamming64(a: Column, b: Column) -> Column:
    """popcount of xor — Hamming distance between two 64-bit signatures."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x)


# Hamming-ball banding (Manku/Jain/Sarma, WWW'07 "Detecting near-duplicates
# for web crawling"): split the signature into BANDS contiguous slices; any
# pair within Hamming radius R < BANDS must agree exactly on ≥1 slice
# (pigeonhole), so equi-joining on (band, slice) gives FULL recall at radius
# R with zero distance computations outside colliding buckets.  Larger radius
# needs more bands (R < BANDS always); more bands → coarser slices → more
# false candidates for verify.  At web scale the standard layout is 64-bit
# signatures, R=3, 4 tables — exactly this geometry.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_RADIUS = 3


def simhash_near_dup(
    sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    radius: int = SIMHASH_RADIUS,
) -> DataFrame:
    """(id_a, id_b, hamming) for all pairs within `radius` bits.

    Candidate generation shuffles on (band, slice) — bucket-local self-join,
    never all-pairs; the xor-popcount verify runs only on collisions.
    Requires radius < SIMHASH_BANDS for the pigeonhole recall guarantee."""
    if radius >= SIMHASH_BANDS:
        raise ValueError(
            f"radius {radius} needs > {radius} bands for full recall"
        )
    bits = SIMHASH_BITS // SIMHASH_BANDS
    slices = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(sig_col), b * bits)
                .bitwiseAND(F.lit((1 << bits) - 1))
                .alias("slice"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    # Persist the signature relation across the self-join's two sides:
    # ``sig`` typically comes from a PYTHON kernel (simhash64's
    # mapInPandas), which the join would otherwise evaluate once PER SIDE
    # — the most expensive node in the plan, paid twice (guide §4).  The
    # same one-slot persist the shingle relation uses; 2 longs per doc.
    # (An array-side group-local pair expansion was tried instead and
    # REGRESSED 2.5x: simhash slices are 15 bits, so boilerplate-heavy
    # corpora make wide buckets, and the W² struct expansion runs through
    # interpreted higher-order functions while the equi-join + popcount
    # filter is whole-stage-codegen'd — measured 1.2 s vs 2.9 s at sf0.1.)
    # The marker column makes the persisted plan a strict PARENT of the
    # caller's sig plan, never plan-equal to it: Spark's cache matches
    # whole subtrees, so without it a registered signature query (the
    # docs_simhash primary) would have its entire timed pass served from
    # this slot — the exact cache-leak the shared-pair projection's
    # "select(P) does not serve P" rule exists to prevent.  Both join
    # sides below reference the returned handle directly, so the kernel
    # still runs once; the marker is pruned at the InMemoryTableScan.
    sig = persist_latest(
        sig.withColumn("_join_only", F.lit(1)), f"dedup.simhash.{sig_col}"
    )
    buckets = sig.select(
        F.col(id_col), F.col(sig_col), F.explode(slices).alias("bb")
    ).select(id_col, sig_col, F.col("bb.band").alias("band"), F.col("bb.slice").alias("slice"))
    a = buckets.select(
        F.col(id_col).alias("id_a"), F.col(sig_col).alias("sig_a"), "band", "slice"
    )
    b = buckets.select(
        F.col(id_col).alias("id_b"), F.col(sig_col).alias("sig_b"), "band", "slice"
    )
    return (
        a.join(b, on=["band", "slice"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("sig_a"), F.col("sig_b")).alias("hamming"))
        .filter(F.col("hamming") <= radius)  # verify before dedup: shrink the distinct
        .distinct()
    )


# ---------------------------------------------------------------------------
# Duplicated-span removal (CCNet/RefinedWeb line-dedup shape)
# ---------------------------------------------------------------------------

SPAN_WORDS = 8  # segment size; stands in for "line" on unstructured text


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = SPAN_WORDS,
    min_docs: int = 2,
) -> DataFrame:
    """Remove text spans that repeat across the corpus (CCNet-style
    duplicated-line removal, reference pipelines dedup paragraph/line
    units; this corpus has no newline structure, so the unit is a
    non-overlapping `span`-word segment).

    Plan (the shape that matters at 100 TB):
      1. segment array-side (no self-join, one explode) into
         (doc, k, span_text, span_hash) rows — the hash, not the text,
         is the shuffle key everywhere downstream;
      2. corpus-wide span frequency = groupBy(hash) countDistinct(doc) —
         ONE shuffle on the maximal-cardinality key;
      3. join the verdict back co-partitioned on the same hash (the span
         frequency table scales with the corpus — never broadcast);
      4. reassemble surviving text per doc in span order with an ordered
         collect_list fold — one (doc)-keyed shuffle.

    Returns one row per non-empty doc:
      (id, n_spans, n_dup_spans, n_kept_tokens, cleaned_fp) where
      cleaned_fp = md5 of the space-joined surviving words.
    """
    segs = (
        docs.select(
            F.col(id_col), words(F.col(text_col)).alias("w")
        )
        .filter(F.size("w") > 0)
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(0, CAST((size(w)-1) DIV {span} AS INT)),"
                    f" k -> struct(k AS k, slice(w, k*{span}+1, {span}) AS sw))"
                )
            ).alias("s"),
        )
        .select(
            id_col,
            F.col("s.k").alias("k"),
            F.size("s.sw").alias("n_tok"),
            F.array_join("s.sw", " ").alias("txt"),
        )
        .withColumn("h", F.md5(F.col("txt")))
    )
    segs = persist_latest(segs, "dedup.span_segs")
    freq = segs.groupBy(F.col("h").alias("c_h")).agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    j = segs.join(freq, segs["h"] == F.col("c_h")).select(
        id_col, "k", "n_tok", "txt", (F.col("n_docs") >= min_docs).alias("dup")
    )
    kept_text = F.expr(
        "array_join(transform(array_sort("
        "collect_list(CASE WHEN NOT dup THEN struct(k, txt) END)),"
        " x -> x.txt), ' ')"
    )
    return (
        j.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
            F.sum(F.when(F.col("dup"), 0).otherwise(F.col("n_tok")))
            .cast("long")
            .alias("n_kept_tokens"),
            F.md5(kept_text).alias("cleaned_fp"),
        )
    )
