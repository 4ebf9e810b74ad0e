"""Distributed graph operators over pair/edge frames.

The reference runs Tarjan SCC and DAG depth stats driver-side over its
import graph (SURVEY §2.7 scoped those out as driver-only).  What DOES
belong in the distributed engine is the graph step the reference's clone
GROUPING performs (``findings/clones/grouping.py``: pairwise matches fold
into groups): near-dup verification emits PAIRS, and a training-data
dedup pipeline needs transitive CLUSTERS of them — "keep one doc per
connected component".

:func:`connected_components` is the Spark-first form: min-label
propagation with pointer jumping, one round shape from the first round.

- **Edges.** The caller's pair plan is referenced ONCE: one ``explode``
  emits ``(s,t)``, ``(t,s)``, ``(s,s)`` and ``(t,t)`` per pair, a
  ``distinct`` folds the repeats, and the result is written once to
  ``<scratch_dir>/edges``.  Callers hand in live plans (the whole LSH →
  verify ladder), so the single reference runs the upstream pipeline
  exactly once, and every round re-analyzes a parquet scan instead of the
  ladder's lineage on the single-threaded driver.  The self-loops fold
  "self" into "neighbors", and they are the identity labeling the rounds
  start from.

- **Rounds.** Each round first JUMPS, ``lbl(u) <- lbl(lbl(u))``: a
  self-join of the previous labels on ``lbl``.  It then HOPS once over
  the edges: join on ``s``, minimum label per ``t``.  Labels only fall and
  ``lbl(x) <= x``, so ``lbl(lbl(u)) <= lbl(u)``: the jump never loses
  progress, and pointer depth halves every round.  A path of ``2**k - 1``
  hops is labeled after ``k`` rounds and confirmed by one more, so rounds
  are O(log diameter).  The self-join references the previous labels
  twice, which would double the logical plan every round, so each round
  is written to ``<scratch_dir>/round=<k>`` and the next one scans that
  parquet — the bounded-plan discipline GraphFrames applies with its
  checkpointInterval.  A label frame holds one row per node TOUCHED BY AN
  EDGE (duplicate docs only, not the corpus), so the per-round write is
  small next to the pair computation upstream.

- **Convergence.** Each written round is compared with the previous one
  pointwise (an id-keyed join filtered to differing labels, probed with
  ``isEmpty()``, which stops at the first change; any orderable id type).
  At a fixpoint the two ends of every edge share a label, and the
  component minimum keeps its own id, so every label is its component's
  minimum.

Skew note: the jump self-join keys on ``lbl``, which concentrates on the
component minimum as clusters merge — a single giant component makes
that one label the hottest possible key.  The join is many-to-one against
the 1-row-per-id mapping side, so AQE's skew split handles it; probed by
``tests/test_graph_random.py::test_giant_component_hot_label_key`` (a
~50k-node single component; an opt-in timing probe bounds it against a
uniform graph of the same edge count).

The converged round's parquet IS the returned frame: nothing is
persisted, so repeated calls in a long-lived session leak no cached
frames, repeat actions on the result cost a tiny parquet scan, and the
file doubles as the survivor-manifest input.

Exactly expressible in SQL as a recursive closure (DuckDB
``WITH RECURSIVE`` min-reachable-label), so the registry query is fully
oracle-checked — iterative-on-Spark vs recursive-CTE-on-DuckDB must
agree bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, max_iter: int = 50, *, scratch_dir: str
) -> DataFrame:
    """(id, cluster_id) for every node of the undirected graph whose
    edges are the ``(id_a, id_b)`` rows of *edges*; ``cluster_id`` =
    minimum node id in the component (deterministic canonical
    representative, the reference's sorted-group-id convention,
    ``clone_baseline.py:511-527``).

    *scratch_dir* (required) receives the normalized edges (``edges``) and
    one label frame per round (``round=<k>``); the returned frame reads
    the converged round.  The caller owns the directory and removes it.
    Repeat calls with the same directory overwrite.  On a multi-executor
    cluster pass a path on shared storage (HDFS/S3) — executor-visible
    scratch is the standard cost of iterative graph algorithms at scale.

    Raises RuntimeError if *max_iter* rounds do not reach the fixpoint — a
    correctness guard (an unconverged labeling is NOT components).  The
    default budget covers diameters past 2**40, so the guard fires only on
    a genuine bug.
    """
    spark = edges.sparkSession

    def _write(frame: DataFrame, tag: str) -> DataFrame:
        path = os.path.join(scratch_dir, tag)
        frame.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    a, b = F.col("id_a"), F.col("id_b")
    both_ways_and_self = F.array(
        *(
            F.struct(s.alias("s"), t.alias("t"))
            for s, t in ((a, b), (b, a), (a, a), (b, b))
        )
    )
    e2 = _write(
        edges.select(F.explode(both_ways_and_self).alias("e"))
        .select("e.*")
        .distinct(),
        "edges",
    )
    labels = e2.filter(F.col("s") == F.col("t")).select(
        F.col("s").alias("id"), F.col("s").alias("lbl")
    )
    for rnd in range(max_iter):
        # every label is a node id with a row of its own, so the inner
        # self-join keeps every node
        jumped = labels.join(
            labels.select(F.col("id").alias("lbl"), F.col("lbl").alias("_jump")),
            "lbl",
        ).select(F.col("id").alias("s"), F.col("_jump").alias("lbl"))
        new = _write(
            e2.join(jumped, "s")
            .groupBy("t")
            .agg(F.min("lbl").alias("lbl"))
            .select(F.col("t").alias("id"), "lbl"),
            f"round={rnd}",
        )
        if (
            new.join(labels.withColumnRenamed("lbl", "_prev"), "id")
            .filter(F.col("lbl") != F.col("_prev"))
            .isEmpty()
        ):
            return new.select("id", F.col("lbl").alias("cluster_id"))
        labels = new
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def cluster_sizes(components: DataFrame) -> DataFrame:
    """(cluster_id, n) summary of a components frame — the group-level
    view (reference group size stats)."""
    return components.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))


def keep_list(
    df: DataFrame, id_col: str, components: DataFrame
) -> DataFrame:
    """Survivor/purge manifest: (id, cluster_id, keep, reason) covering
    EVERY row of *df* — the operational endpoint of the dedup ladder
    ("keep one doc per cluster").  The canonical representative is the
    cluster's minimum id (``cluster_id`` already IS that minimum, the
    reference's sorted-group-id convention, clone_baseline.py:511-527):

    - ``unique``          — in no cluster; keep
    - ``representative``  — cluster minimum; keep
    - ``near_duplicate``  — clustered, not the representative; drop

    One id-keyed equi-join: *components* holds only docs touched by a
    verified pair (typically a small fraction of the corpus), so AQE
    broadcasts it when it fits; at adversarial dup rates it degrades to a
    shuffled hash join on the high-cardinality id — no skew either way."""
    ids = df.select(F.col(id_col).alias("id")).distinct()
    j = ids.join(components, "id", "left")
    is_rep = F.col("id") == F.col("cluster_id")
    return j.select(
        "id",
        F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
        (F.col("cluster_id").isNull() | is_rep).alias("keep"),
        F.when(F.col("cluster_id").isNull(), F.lit("unique"))
        .when(is_rep, F.lit("representative"))
        .otherwise(F.lit("near_duplicate"))
        .alias("reason"),
    )
