"""Deduplication operators for training-data pipelines.

Exact, MinHash(+LSH banding), SimHash, n-gram Jaccard, and embedding-cosine
near-dup — the standard web-scale dedup ladder.  Design notes per operator:

- Hashing is md5-derived (SimHash: one 60-bit md5 hash per token; MinHash:
  one 32-bit md5 base hash per shingle + an affine universal-hash family)
  so every signature is reproducible bit-for-bit in ANSI SQL — the DuckDB
  oracle re-derives MinHash/SimHash signatures independently, which is a far
  stronger correctness check than row counts.
- The two-level key trick mirrors the reference's segment grouping
  (``blocks/__init__.py:82-132``: cheap order-insensitive ``segment_sig``
  prunes before the exact ``segment_hash``): LSH band buckets are the cheap
  permissive key, exact Jaccard verification is the expensive key.
- Shingle explosion is bounded: the Jaccard inverted index dedupes shingles
  (set semantics); MinHash paths skip that shuffle (min() is
  duplicate-insensitive).  At 100 TB you additionally band by prefix
  (``F.pmod(F.hash(shingle), B)``) to cap reducer fan-in.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MINHASH_K = 8  # permutations
SHINGLE_K = 5  # char shingle width
SIMHASH_BITS = 32


def h60(col: Column, seed: int | str = "") -> Column:
    """60-bit integer hash, reproducible in DuckDB:
    ``('0x'||substr(md5(seed||x),1,15))::UBIGINT``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(str(seed)), col)), 1, 15), 16, 10
    ).cast("long")


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content hash (reference build_groups
    semantics: group on fingerprint, keep size > 1)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n"), F.min(id_col).alias("min_id"))
        .filter(F.col("n") > 1)
    )


def char_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SHINGLE_K,
    dedupe: bool = True,
) -> DataFrame:
    """Character k-grams per document: (id, shingle).
    Built from sequence+transform+explode — pure Catalyst, no UDF.

    *dedupe* applies set semantics (a full shuffle).  Jaccard needs it
    (|A|, |A∩B| are SET sizes); MIN-hash is duplicate-insensitive, so the
    MinHash/LSH paths pass dedupe=False and skip that shuffle entirely —
    their one groupBy(id) does the dedup implicitly via min()."""
    positions = F.sequence(F.lit(1), F.greatest(F.length(text_col) - (k - 1), F.lit(1)))
    shingles = F.transform(positions, lambda i: F.substring(F.col(text_col), i, F.lit(k)))
    out = df.select(
        F.col(id_col).alias("id"), F.explode(shingles).alias("shingle")
    ).filter(F.length("shingle") == k)
    return out.distinct() if dedupe else out


MH_PRIME = (1 << 61) - 1  # Mersenne prime for the affine hash family


def mh_constants(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the universal hash family, derived from
    md5 so there are no magic numbers: a_i odd and < 2^31 (so a*h + b stays
    under 2^63 for a 32-bit base hash — safe in BIGINT on both engines)."""
    consts = []
    for i in range(n_hashes):
        a = (int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) & 0x7FFFFFFF) | 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16)
        consts.append((a, b))
    return consts


def minhash_signatures(
    shingles: DataFrame, n_hashes: int = MINHASH_K
) -> DataFrame:
    """(id) -> minhash_i columns. One groupBy computes all K mins
    (map-side combine keeps the shuffle tiny).

    Permutations are the standard universal-hash construction (Broder):
    ONE md5-derived 32-bit base hash per shingle, then K affine transforms
    ``mh_i = min((a_i*h + b_i) mod (2^61-1))``.  K independent md5 calls
    would cost K× the hashing AND blow up the generated aggregate code —
    Janino compilation of that codegen unit dominated the whole query.
    Still reproducible bit-for-bit in ANSI SQL (the constants are plain
    integer literals on both sides)."""
    base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    aggs = [
        F.min(F.pmod(F.lit(a) * base + F.lit(b), F.lit(MH_PRIME))).alias(f"mh{i}")
        for i, (a, b) in enumerate(mh_constants(n_hashes))
    ]
    return shingles.groupBy("id").agg(*aggs)


def _banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_hashes: int,
    band_size: int,
) -> DataFrame:
    """(id, band, key) rows: MinHash signature split into LSH bands."""
    sigs = minhash_signatures(char_shingles(df, id_col, text_col, k, dedupe=False), n_hashes)
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("id", F.explode(bands).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


DEFAULT_MAX_BUCKET = 1024


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SHINGLE_K,
    n_hashes: int = MINHASH_K,
    band_size: int = 2,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """MinHash-LSH: band the signature, bucket within bands, emit distinct
    candidate pairs (a < b).  Shuffle keys are (band_idx, band_key) —
    uniform for genuine near-dups, but a degenerate key (e.g. boilerplate
    text shared by d documents) would emit d^2/2 pairs, so buckets larger
    than *max_bucket* are dropped before pair generation (caps as
    backpressure, reference SURVEY §2.8).  Use
    :func:`lsh_suppressed_buckets` with the SAME arguments to report what
    was suppressed — a hot bucket is itself a dedup finding (one exact-dup
    group), better handled by the exact pass than by a quadratic join.

    Plan shape: ONE shuffle (groupBy band+key with map-side combine into id
    arrays), then pairs unfold from each bucket via a double explode.  The
    cap bounds the PAIR OUTPUT, not the aggregation buffer: collect_list
    materializes each bucket fully before the size filter runs, so one
    degenerate key of d ids still builds one O(d) array in a single buffer
    (fine up to millions of ids).  The expensive shingle+MinHash pipeline
    is consumed exactly once BY CONSTRUCTION — no self-join, so no
    localCheckpoint / scratch-table materialization, full recompute
    lineage on executor loss, and no Window pre-pass (the size filter
    rides the same aggregation).  This is the 100 TB shape: the wide ops
    are the signature fold, the capped bucket shuffle, and the final pair
    distinct — no join exchanges anywhere.  The function stays lazy:
    nothing runs until the caller's action."""
    banded = _banded_signatures(df, id_col, text_col, k, n_hashes, band_size)
    buckets = banded.groupBy("band", "key").agg(
        F.collect_list("id").alias("ids")
    )
    keep = F.size("ids") > 1
    if max_bucket is not None:
        keep = keep & (F.size("ids") <= max_bucket)
    return (
        buckets.filter(keep)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def lsh_suppressed_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SHINGLE_K,
    n_hashes: int = MINHASH_K,
    band_size: int = 2,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(band, key, n) for every LSH bucket the candidate join skipped —
    suppressed counts are reported, never silently dropped."""
    banded = _banded_signatures(df, id_col, text_col, k, n_hashes, band_size)
    return (
        banded.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SHINGLE_K,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram Jaccard over an inverted shingle index: self-join on
    shingle -> pair intersection counts -> |A∪B| via per-doc set sizes.

    This is the exact-small-scale operator: the per-shingle self-join is
    O(Σ df²), which a single high-document-frequency shingle blows up.
    The 100 TB path is :func:`lsh_verified_pairs` — LSH proposes a
    bucket-capped candidate set and the exact verify is anchored on those
    pairs (work O(candidates × doc shingles)).

    No persist(): the shingle frame feeds three subplans, but its distinct()
    exchange is reused by Spark (ReusedExchange under AQE), and a cached
    frame here leaked storage in long-lived sessions (no safe unpersist
    point before the caller's action)."""
    sh = char_shingles(df, id_col, text_col, k)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # Threshold on the UNROUNDED ratio (rounding only for output): the SQL
    # oracle's WHERE clause uses the raw ratio, and a pair whose true
    # Jaccard sits within 5e-7 of the threshold must land on the same side
    # in both engines — reachable once |A∪B| exceeds ~1e6 shingles.
    raw = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast(
        "double"
    )
    res = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .filter(raw >= threshold)
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard"))
    )
    return res


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SHINGLE_K,
    n_hashes: int = MINHASH_K,
    band_size: int = 2,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    threshold: float = 0.6,
    *,
    scratch_dir: str,
) -> DataFrame:
    """The COMPOSED dedup ladder: cheap LSH banding proposes candidate
    pairs, exact n-gram Jaccard verifies ONLY those candidates — the
    reference's cheap-key-then-exact-key segment grouping
    (``findings/clones/grouping.py:62-86``) as one pipeline.

    This is the scale-safe form of :func:`jaccard_pairs`, and the shape
    matters: the exact stage is ANCHORED ON THE CANDIDATE PAIRS, never on
    the inverted index's per-shingle self-join.  Each candidate document's
    shingle SET is folded into one array (index pre-confined to candidate
    ids via a broadcast semi-join), the pair list joins the array frame on
    its two id keys (linear, AQE-broadcastable), and ``|A∩B|`` is a
    map-side ``array_intersect`` per pair — total work O(candidates × doc
    shingles), bounded by the LSH output (itself bucket-capped), versus
    the self-join's O(Σ df²) which a single stop-shingle blows up
    regardless of candidate confinement (measured at sf0.1, 5k dup-heavy
    docs / 66k candidates: this shape ≈ 11 s where the candidate-confined
    self-join took 70 s and the unconfined one 165 s).  Per-doc arrays are
    bounded by the document's own length — the same per-row boundedness as
    the decode passes, not a skew-prone aggregation.

    The candidate pairs have two consumers (pair stream + id-set
    confinement).  AQE exchange reuse would share the MinHash pipeline
    between them only as an optimizer COURTESY: at a 601k-doc corpus the
    final adaptive plan was MEASURED to contain zero ReusedExchange nodes
    and the pipeline silently computed twice.  So the candidates are
    written to ``<scratch_dir>/cands`` as parquet EAGERLY, at call time
    (one Spark job before this function returns), and both consumers read
    that scan — upstream computed exactly once by construction,
    recompute-on-executor-loss rolls back to the scratch file (the same
    checkpoint discipline as connected_components).  On a multi-executor
    cluster *scratch_dir* must be shared storage (HDFS/S3).

    Returns (id_a, id_b, jaccard) for candidates with exact Jaccard >=
    *threshold*; a pair LSH never proposed is absent even if its true
    similarity clears the threshold (the usual LSH recall trade-off —
    banding parameters set the recall floor)."""
    path = os.path.join(scratch_dir, "cands")
    lsh_candidate_pairs(
        df, id_col, text_col, k, n_hashes, band_size, max_bucket
    ).write.mode("overwrite").parquet(path)
    cands = df.sparkSession.read.parquet(path)
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # RAW shingles (no distinct pre-pass): set semantics lands in the
    # collect_set aggregation below, so the exact stage pays ONE exchange
    # on id instead of two (a (id, shingle) distinct exchange followed by
    # an id exchange) — same arrays-as-sets, one less full shuffle of the
    # exploded shingle rows.
    sh = char_shingles(df, id_col, text_col, k, dedupe=False)
    # No broadcast HINT on the candidate-id set: on a dup-heavy corpus the
    # candidates ARE most of the corpus, and a forced broadcast collects
    # the whole set to the driver (measured: >1 GiB / maxResultSize abort
    # at a 601k-doc 10x-replicated corpus).  Left to the planner, AQE
    # broadcasts when the set is small and falls back to a shuffled
    # semi-join when it is not — both are correct confinement.
    sh = sh.join(cand_ids, "id", "semi")
    # one shingle-SET ARRAY per candidate doc (bounded by the doc's own
    # length — the per-row analog of the bucket-cap discipline); |A∩B| is
    # then a map-side array_intersect per candidate pair: two linear
    # id-keyed joins of the pair list against the array frame (AQE
    # broadcasts the array side when it fits), zero exploded shuffles
    arrs = sh.groupBy("id").agg(F.collect_set("shingle").alias("arr"))
    a_side = arrs.select(
        F.col("id").alias("id_a"),
        F.col("arr").alias("arr_a"),
        F.size("arr").alias("sz_a"),
    )
    b_side = arrs.select(
        F.col("id").alias("id_b"),
        F.col("arr").alias("arr_b"),
        F.size("arr").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    # threshold on the UNROUNDED ratio, round only for output — matches the
    # oracle's WHERE clause at the edge (see jaccard_pairs note); Catalyst
    # CSEs the repeated array_intersect so this costs nothing extra
    raw = inter / (F.col("sz_a") + F.col("sz_b") - inter).cast("double")
    # shuffle_hash HINT on the array side: per-doc shingle arrays compress
    # far below their serialized size (repetitive text), so AQE's
    # compressed-size broadcast heuristic can elect to broadcast a frame
    # that serializes to >1 GiB on the driver (measured maxResultSize
    # abort at a 601k-doc dup-heavy corpus).  Doc-CONTENT frames must
    # never be broadcast; a shuffled hash join on the unique id key is
    # linear, sort-free and skew-free at any scale.
    return (
        cands.join(a_side.hint("shuffle_hash"), "id_a")
        .join(b_side.hint("shuffle_hash"), "id_b")
        .filter(raw >= threshold)
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard"))
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash over whitespace tokens: per-bit majority vote of
    60-bit token hashes.  Expressed as one explode + one groupBy with *bits*
    conditional sums — no UDF, fully SQL-reproducible."""
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .withColumn("h", h60(F.col("tok")))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("id").agg(*votes)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return agg.select("id", sig.alias("simhash"))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str | None = None,
    threshold: float = 0.98,
    srp_dim: int | None = None,
    srp_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs.  Blocking is mandatory — an
    unblocked self-join is a cartesian product at any real scale.  Pass
    *block_col* (a cluster/label id or precomputed bucket), or *srp_dim*
    (the embedding dimension) to derive a sign-random-projection bucket
    internally (2^srp_planes blocks; cross-bucket near-dups are the usual
    LSH recall trade-off).  Raises if neither is given."""
    if block_col is None and srp_dim is None:
        raise ValueError(
            "embedding_neardup_pairs requires block_col or srp_dim: an "
            "unblocked self-join is O(n^2) (full cross join)"
        )
    vec = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    if block_col is not None:
        blk = F.col(block_col)
    else:
        from codeclone_spark.operators.similarity import plane_signs, srp_bucket

        blk = srp_bucket(vec, plane_signs(srp_planes, srp_dim))
    base = df.select(
        F.col(id_col).alias("id"),
        vec.alias("v"),
        norm.alias("nrm"),
        blk.alias("blk"),
    )
    a = base.alias("a")
    b = base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    # Threshold on the UNROUNDED cosine, round only for output: the SQL
    # oracle's WHERE clause uses the raw ratio, so a pair whose true cosine
    # sits within 5e-7 below the threshold must be dropped by both engines
    # (same edge-class fix as jaccard_pairs / lsh_verified_pairs).
    return (
        a.join(b, F.col("a.blk") == F.col("b.blk"))
        .filter(F.col("a.id") < F.col("b.id"))
        .filter(cos >= threshold)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
    )
