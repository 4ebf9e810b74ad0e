"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exact baseline.  Dot products run as
  Catalyst ``zip_with``/``aggregate`` expressions — JVM-side, codegen'd,
  no Python.  The query vector is a literal (broadcast by value).
- LSH-bucketed ANN (sign-random-projection): the scale path.  Hyperplanes
  are DETERMINISTIC ±1 vectors derived from md5 parity so the exact same
  buckets are derivable in ANSI SQL by the DuckDB oracle — the approximate
  index itself is cross-checked, not just the final rows.
- IVF sketch: coarse quantization by nearest of C seed centroids (seeds
  chosen deterministically by id hash), probe the query's centroid bucket.

At 10^12 rows: brute force is a full scan per query (only for offline eval);
LSH/IVF turn a query into a partition-pruned bucket lookup when the table is
written partitioned/bucketed by the index key.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from codeclone_spark.schema import local_frame

N_PLANES = 12


def dot_lit(vec_col: Column, q: list[float]) -> Column:
    """dot(vec, literal weights) as a fold over a constant array.

    The weights become ONE folded array literal and the sum runs as a
    higher-order aggregate — same left-to-right fp summation order as an
    unrolled ``v0*q0 + v1*q1 + ...`` (the 0.0 seed is exact), so results
    are bit-identical to the oracle's list_dot_product, but the expression
    tree stays O(1) in dim.  The unrolled form generated O(dim) code per
    use; with 8 planes x 64 dims Catalyst analysis + Janino compilation of
    those trees dominated whole queries (~15 s per fresh plan)."""
    warr = F.array(*[F.lit(float(x)) for x in q])
    return F.aggregate(
        F.zip_with(vec_col, warr, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(vec_col: Column) -> Column:
    return F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x * x))


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact brute-force cosine top-k against one query vector."""
    import math

    qn = math.sqrt(sum(x * x for x in query)) or 1.0
    v = F.col(vec_col).cast("array<double>")  # float32 -> double so the
    # accumulation order/precision matches any double-based oracle
    cos = dot_lit(v, query) / (norm(v) * qn)
    return (
        df.select(F.col(id_col).alias("id"), F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def plane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign = parity of first hex digit of
    md5(f"{p}-{d}").  Reproducible anywhere (including SQL)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}-{d}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def srp_bucket(vec_col: Column, planes: list[list[int]]) -> Column:
    """Sign-random-projection bucket id: bit p = (dot(vec, plane_p) > 0)."""
    bucket = None
    for p, plane in enumerate(planes):
        d = dot_lit(vec_col, [float(s) for s in plane])
        bit = F.when(d > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def srp_buckets(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int = N_PLANES, dim: int = 64
) -> DataFrame:
    planes = plane_signs(n_planes, dim)
    return df.select(
        F.col(id_col).alias("id"), srp_bucket(F.col(vec_col), planes).alias("bucket")
    )


def ann_topk_srp(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """ANN: restrict the exact cosine scan to the query's SRP bucket.
    With the table bucketed/partitioned by `bucket` this is a pruned scan."""
    import math

    planes = plane_signs(n_planes, len(query))
    qbits = 0
    for p, plane in enumerate(planes):
        if sum(s * q for s, q in zip(plane, query)) > 0:
            qbits += 2**p
    qn = math.sqrt(sum(x * x for x in query)) or 1.0
    v = F.col(vec_col).cast("array<double>")  # float32 -> double: match the
    # double-based oracle's accumulation precision (same as cosine_topk)
    cos = dot_lit(v, query) / (norm(v) * qn)
    return (
        df.select(
            F.col(id_col).alias("id"),
            srp_bucket(F.col(vec_col), planes).alias("bucket"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("bucket") == qbits)
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def ann_topk_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
) -> DataFrame:
    """IVF probe: exact cosine top-k restricted to the query's coarse cell.

    The query's nearest centroid is computed driver-side (C is tiny); the
    scan side assigns every vector to its nearest centroid (broadcast
    cross join, see :func:`ivf_assign`) and only the query cell's members
    are scored.  With the table written partitioned/bucketed by ``cid``
    this becomes a partition-pruned scan at 10^12 rows."""
    import math

    def cos_lists(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return dot / (na * nb)

    qcid = max(
        range(len(centroids)), key=lambda i: (cos_lists(query, centroids[i]), -i)
    )
    spark = df.sparkSession
    cdf = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid BIGINT, cvec ARRAY<DOUBLE>",
    )
    assigned = ivf_assign(df, id_col, vec_col, list(range(len(centroids))), cdf)
    cell_ids = assigned.filter(F.col("cid") == qcid).select("id")
    qn = math.sqrt(sum(x * x for x in query)) or 1.0
    v = F.col(vec_col).cast("array<double>")
    cos = dot_lit(v, query) / (norm(v) * qn)
    scored = df.select(
        F.col(id_col).alias("id"), F.round(cos, 6).alias("cosine")
    )
    return (
        # broadcast the id list: a plain semi-join would shuffle the scored
        # side; at real scale the cell restriction is partition pruning on
        # a cid-partitioned table instead
        scored.join(F.broadcast(cell_ids), "id", "left_semi")
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def ivf_assign(
    df: DataFrame, id_col: str, vec_col: str, centroid_ids: list[int], cdf: DataFrame
) -> DataFrame:
    """IVF coarse assignment: nearest centroid by cosine via a broadcast
    cross join over C centroids (C small).  ``cdf``: (cid, cvec)."""
    a = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    c = cdf.select(F.col("cid"), F.col("cvec"))
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("cvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (norm(F.col("v")) * norm(F.col("cvec")))
    scored = a.join(F.broadcast(c)).select("id", "cid", cos.alias("cos"))
    # argmax by (cos, -cid) as ONE aggregation instead of a row_number
    # window: same nearest-centroid-with-min-cid-tiebreak semantics
    # (verified row-identical), but the groupBy gets map-side partial
    # aggregation, so the C-way-exploded score rows fold back to one row
    # per id BEFORE the exchange — the window shuffled and sorted all
    # C x rows (guide §2.3 aggregate-before-you-shuffle; measured 1.48 s
    # -> 0.66 s at the 20k x 4 sf1.0 assignment on local[32]).
    return scored.groupBy("id").agg(
        F.max_by(
            "cid", F.struct(F.col("cos"), (-F.col("cid")).alias("_tb"))
        ).alias("cid")
    )
