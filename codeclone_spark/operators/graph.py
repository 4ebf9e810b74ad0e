"""Distributed graph operators over pair/edge frames.

The reference runs Tarjan SCC and DAG depth stats driver-side over its
import graph (SURVEY §2.7 scoped those out as driver-only).  What DOES
belong in the distributed engine is the graph step the reference's clone
GROUPING performs (``findings/clones/grouping.py``: pairwise matches fold
into groups): near-dup verification emits PAIRS, and a training-data
dedup pipeline needs transitive CLUSTERS of them — "keep one doc per
connected component".

:func:`connected_components` is the Spark-first form, in two phases:

1. **Plain min-label propagation** (first ``simple_rounds`` rounds): every
   node takes the minimum label among itself and its neighbors.  One join +
   one groupBy per round with a SINGLE reference to the carried label frame
   (self-loop edges fold "self" into "neighbors"), so the logical plan
   grows LINEARLY in the round count — no lineage truncation needed.
   Near-dup clusters are dense (LSH candidates form near-cliques), so this
   phase alone converges in 2-3 rounds on real dedup graphs.  Before the
   first round the normalized edge frame is materialized ONCE to
   *scratch_dir*: callers hand in live plans (the whole LSH → verify
   ladder), and truncating there means the upstream pipeline runs exactly
   once and every per-round action re-analyzes a tiny plan instead of the
   full ladder lineage on the single-threaded driver.

2. **Pointer-doubling rounds** (if not yet converged): each round first
   propagates one hop, then shortcuts ``lbl(u) <- min(lbl(u), lbl(lbl(u)))``
   via a self-join of the label frame on the label column.  Pointer depth
   halves every round, so total rounds are O(log diameter) — a 10^6-hop
   chain of pairwise near-dups (chained paraphrases) converges in ~24
   doubling rounds instead of 10^6 propagation rounds.  The self-join
   references the round's frame twice, which would grow the logical plan
   EXPONENTIALLY per round, so every doubling round truncates lineage by
   materializing the (id, lbl) frame to *scratch_dir* as parquet and
   reading it back — the same bounded-plan discipline GraphFrames applies
   with its checkpointInterval.  The label frame is one row per node
   TOUCHED BY AN EDGE (duplicate docs only, not the corpus), so the
   per-round write is small relative to the pair computation upstream.

Skew note: the doubling self-join keys on ``lbl``, which concentrates on
the component minimum as clusters merge — a single giant component makes
that one label the hottest possible key.  The join is many-to-one against
the 1-row-per-id mapping side, so AQE's skew split handles it; probed by
``tests/test_graph_random.py::test_giant_component_hot_label_key`` (a
~50k-node single component through the doubling path; an opt-in timing
probe bounds it against a uniform graph of the same edge count).

The converged labels are ALWAYS materialized to *scratch_dir* and the
returned frame reads from there: nothing stays persisted after the call
returns (repeated calls in a long-lived session leak no cached frames),
repeat actions on the result cost a tiny parquet scan instead of a full
re-derivation, and the file doubles as the survivor-manifest input.

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
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    simple_rounds: int = 4,
    *,
    scratch_dir: str,
) -> DataFrame:
    """(id, cluster_id) for every node of the undirected *edges* graph;
    ``cluster_id`` = minimum node id in the component (deterministic
    canonical representative, the reference's sorted-group-id convention,
    ``clone_baseline.py:511-527``).

    *scratch_dir* (required) receives the incoming edge frame, the
    per-doubling-round label frames and the final labels; the caller owns
    it and removes it.  Repeat calls with the same directory overwrite.
    On a multi-executor cluster pass a path on shared storage (HDFS/S3) —
    executor-visible scratch is the standard cost of iterative graph
    algorithms at scale.

    Raises RuntimeError if *max_iter* total rounds do not reach the
    fixpoint — a correctness guard (an unconverged labeling is NOT
    components).  With pointer doubling the default budget covers
    diameters past 2**40, so the guard fires only on a genuine bug.
    """
    spark = edges.sparkSession

    def _truncate(frame: DataFrame, tag: str) -> DataFrame:
        path = os.path.join(scratch_dir, tag)
        frame.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    # Truncate the INCOMING pair plan first: callers hand in live plans
    # (the whole LSH → verify ladder), and the normalization below
    # references `edges` twice (union of both directions) while e2 adds
    # two more references via `nodes` — without this the upstream ladder
    # is instantiated up to 4x inside one job (exchange reuse is an
    # optimizer courtesy, measured absent at scale — see the ladder's own
    # scratch discipline in dedup.lsh_verified_pairs).  One tiny (src,
    # dst) parquet write makes the expensive upstream run exactly once.
    raw = _truncate(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t")), "edges_raw"
    )
    # One metadata-cheap count over the scratch parquet serves two jobs at
    # once: the empty-graph early exit (replacing a separate isEmpty probe
    # on the label frame) and the loop's shuffle width below.
    n_pairs = raw.count()
    if n_pairs == 0:
        return raw.select(
            F.col("s").alias("id"), F.col("s").alias("cluster_id")
        )
    # Every per-round frame is O(nodes-touched-by-an-edge), known exactly
    # here — size the loop's shuffles to THAT, not to the session default
    # tuned for the (much larger) upstream corpus.  With the default width
    # each tiny round schedules cores-many near-empty tasks per exchange,
    # and task scheduling dominates the round (measured at sf1.0 / 950
    # edges on local[32]: 2.9 s -> 1.5 s for the whole CC).  Never raises
    # the caller's setting; ~50k label rows per partition.  Applied by
    # repartitions in the loop, never through the session conf, which
    # other threads' jobs read meanwhile.
    loop_sp = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        max(4, 2 * n_pairs // 50_000 + 1),
    )
    pinned: list[DataFrame] = []  # persisted handles, unpersisted on exit
    try:
        return _cc_loop(raw, _truncate, max_iter, simple_rounds, pinned, loop_sp)
    finally:
        for frame in pinned:
            frame.unpersist()


def _cc_loop(
    raw: DataFrame,
    _truncate,
    max_iter: int,
    simple_rounds: int,
    pinned: list[DataFrame],
    loop_sp: int,
) -> DataFrame:
    """Iteration body of :func:`connected_components` (split out so the
    caller can release every persisted frame in one ``finally``).

    Each aggregation reads a ``repartition(loop_sp, key)`` on its grouping
    key, which sets its shuffle width.  Joins are left to the planner:
    while the frames are small enough for the narrow width to matter, it
    broadcasts their small side, and a repartition would add a shuffle."""
    und = (
        raw.unionByName(raw.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .repartition(loop_sp, "s")
        .distinct()
    )
    # Self-loops make one propagation round = "min over self + neighbors"
    # with a SINGLE reference to the label frame per round (linear plan;
    # a two-reference join + least-fallback formulation doubles the plan
    # tree every round and OOMs the driver stringifying it).
    nodes = und.select(F.col("s").alias("id")).distinct()
    # Materialize the normalized edge frame to scratch BEFORE iterating.
    # The caller typically hands in a live plan (e.g. the whole LSH →
    # exact-verify ladder); e2 references it twice and labels once more,
    # so without truncation the upstream pipeline is recomputed 3-4× AND
    # every per-round action re-analyzes the full ladder plan on the
    # single-threaded driver — measured at a 601k-doc corpus: the
    # unmaterialized ladder ran 280 s where materialize-then-iterate ran
    # 110 s, and the constant driver-side share is what capped the
    # N-vs-4N ladder efficiency at 0.35.  One parquet write of (s, t)
    # pairs is small next to the pair computation, and the iteration's
    # recompute-on-executor-loss story is unchanged (scratch IS the
    # lineage root, the standard checkpoint discipline of iterative graph
    # algorithms — GraphFrames does the same).
    e2 = _truncate(
        und.unionByName(
            nodes.select(F.col("id").alias("s"), F.col("id").alias("t"))
        ),
        "edges",
    ).persist()
    labels = (
        e2.select(F.col("s").alias("id"))
        .repartition(loop_sp, "id")
        .distinct()
        .withColumn("lbl", F.col("id"))
        .persist()
    )

    # Convergence probe: exact pointwise comparison of consecutive label
    # frames — an id-keyed equi-join (old side renamed, so the lineage-
    # derived join is unambiguous) filtered to differing labels, probed
    # with isEmpty() (early-exits on the first change).  Works for ANY
    # orderable id type; the previous sum-of-labels probe cast to
    # decimal(38,0) and blew up on string ids (clip_id corpora).  Both
    # sides are materialized (persisted simple rounds / parquet doubling
    # rounds), and the probe's action is what fills the new round's cache.
    def _converged(new: DataFrame, old: DataFrame) -> bool:
        return (
            new.join(old.withColumnRenamed("lbl", "_prev"), "id")
            .filter(F.col("lbl") != F.col("_prev"))
            .isEmpty()
        )

    pinned += [e2, labels]
    for rnd in range(max_iter):
        prop = (
            e2.join(labels.select(F.col("id").alias("s"), "lbl"), "s")
            .repartition(loop_sp, "t")
            .groupBy("t")
            .agg(F.min("lbl").alias("lbl"))
            .select(F.col("t").alias("id"), "lbl")
        )
        if rnd < simple_rounds:
            new_labels = prop.persist()
            pinned.append(new_labels)
        else:
            # Pointer doubling: shortcut each label to its label's
            # label.  prop is persisted + materialized FIRST so the
            # self-join reads the cache instead of racing two
            # evaluations of the same uncached subtree.
            prop = prop.persist()
            pinned.append(prop)
            prop.count()
            mapping = prop.select(
                F.col("id").alias("lbl"), F.col("lbl").alias("_lbl2")
            )
            doubled = prop.join(mapping, "lbl", "left").select(
                "id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("_lbl2"), F.col("lbl"))
                ).alias("lbl"),
            )
            new_labels = _truncate(doubled, f"round={rnd}")
            prop.unpersist()
        done = _converged(new_labels, labels)
        labels.unpersist()
        labels = new_labels
        if done:
            final = _truncate(
                labels.select("id", F.col("lbl").alias("cluster_id")),
                "labels",
            )
            return final
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
