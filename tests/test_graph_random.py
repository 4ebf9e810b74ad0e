"""Randomized correctness for connected_components vs a union-find oracle.

The fixture/oracle queries exercise CC on near-clique dedup graphs that
converge in two rounds; the long-chain tests cover pathological
diameters.  This file closes the gap in between: seeded random graphs of
varied density, structured adversaries (cliques joined by chains, stars,
isolated self-loops), string AND integer ids, checked bit-for-bit against
a driver-side union-find.  Every round jumps before it hops, so each
shape runs through the pointer jump and its parquet-truncated lineage.
"""

from __future__ import annotations

import os
import random

import pytest

from codeclone_spark.operators.graph import connected_components, keep_list

# Wall-clock assertions are opt-in probes: set TIMING_PROBES=1 to run them.
# On a shared host their ratios track CPU steal, not the code under test.
TIMING_PROBES = bool(os.environ.get("TIMING_PROBES"))


def _uf_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """min-id connected components via union-find (pure python oracle)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict[str, list[str]] = {}
    for n in parent:
        roots.setdefault(find(n), []).append(n)
    out = {}
    for members in roots.values():
        rep = min(members)
        for m in members:
            out[m] = rep
    return out


def _random_edges(seed: int, n_nodes: int, n_edges: int) -> list[tuple[str, str]]:
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(n_nodes)]
    return [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(n_edges)
    ]


def _structured_cases() -> dict[str, list[tuple[str, str]]]:
    two_cliques_chained = (
        # clique A, clique B, joined by a 6-hop chain
        [(f"a{i}", f"a{j}") for i in range(4) for j in range(i + 1, 4)]
        + [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
        + [("a0", "c0")]
        + [(f"c{i}", f"c{i+1}") for i in range(5)]
        + [("c5", "b0")]
    )
    return {
        "single_edge": [("x", "y")],
        "self_loop_only": [("z", "z")],
        "star": [("hub", f"leaf{i}") for i in range(9)],
        "two_cliques_chained": two_cliques_chained,
        "dup_and_reversed": [("p", "q"), ("q", "p"), ("p", "q"), ("r", "r")],
    }


@pytest.mark.parametrize("seed_base", [4, 0])
def test_random_graphs_match_union_find(spark, tmp_path, seed_base):
    """*seed_base* shifts the seeds of the three random graphs, so the two
    cases check six distinct random graphs alongside the structured ones."""
    cases = dict(_structured_cases())
    cases["sparse_50"] = _random_edges(seed_base + 1, 50, 30)
    cases["dense_30"] = _random_edges(seed_base + 2, 30, 120)
    cases["forest_60"] = _random_edges(seed_base + 3, 60, 25)
    for name, edges in cases.items():
        expected = _uf_components(edges)
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {
            r["id"]: r["cluster_id"]
            for r in connected_components(
                df, scratch_dir=str(tmp_path / name)
            ).collect()
        }
        assert got == expected, f"{name} (seed_base={seed_base})"


def test_integer_ids_match_union_find(spark, tmp_path):
    edges = [(a, b) for a, b in _random_edges(7, 40, 35)]
    int_edges = [(int(a[1:]), int(b[1:])) for a, b in edges]
    expected = {
        int(k[1:]): int(v[1:]) for k, v in _uf_components(edges).items()
    }
    df = spark.createDataFrame(int_edges, ["id_a", "id_b"])
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            df, scratch_dir=str(tmp_path / "ints")
        ).collect()
    }
    assert got == expected


def test_keep_list_invariants_random(spark, tmp_path):
    """Every corpus id appears exactly once; exactly one keep per cluster;
    reasons partition the manifest."""
    edges = _random_edges(11, 40, 28)
    comp = _uf_components(edges)
    corpus_ids = [f"n{i:03d}" for i in range(60)]  # includes untouched ids
    df = spark.createDataFrame([(i,) for i in corpus_ids], ["doc_id"])
    comps = connected_components(
        spark.createDataFrame(edges, ["id_a", "id_b"]),
        scratch_dir=str(tmp_path / "kl"),
    )
    rows = keep_list(df, "doc_id", comps).collect()
    assert sorted(r["id"] for r in rows) == sorted(corpus_ids)
    by_cluster: dict[str, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        keeps = [r for r in members if r["keep"]]
        assert len(keeps) == 1 and keeps[0]["id"] == cid
        for r in members:
            if r["id"] in comp:
                assert r["reason"] in ("representative", "near_duplicate")
                assert r["cluster_id"] == comp[r["id"]]
            else:
                assert r["reason"] == "unique" and r["cluster_id"] == r["id"]


def test_empty_edge_frames(spark, tmp_path):
    """Zero edges (literal and filtered-to-empty plans) must return an
    empty (id, cluster_id) frame, not choke on the scratch
    materialization of an empty frame."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id_a", T.StringType()),
            T.StructField("id_b", T.StringType()),
        ]
    )
    literal = spark.createDataFrame([], schema)
    out = connected_components(literal, scratch_dir=str(tmp_path / "e1"))
    assert out.count() == 0 and out.columns == ["id", "cluster_id"]
    filtered = spark.createDataFrame([("a", "b")], schema).filter(
        F.col("id_a") == "zzz"
    )
    out2 = connected_components(filtered, scratch_dir=str(tmp_path / "e2"))
    assert out2.count() == 0


def test_giant_component_hot_label_key(spark, tmp_path, monkeypatch):
    """Skew probe for the pointer-jump self-join (graph.py joins on
    ``lbl``, which concentrates on the component minimum as clusters
    merge): one giant ~50k-node component plus uniform background must
    complete and label every node with the component minimum, without
    writing session conf.  With
    TIMING_PROBES set it also bounds the hot run's wall against a
    same-size uniform graph, so the hot label key cannot stall a round."""
    import time

    from pyspark.sql import functions as F

    conf_writes: list[tuple] = []
    conf_type = type(spark.conf)
    monkeypatch.setattr(conf_type, "set", lambda _s, *a: conf_writes.append(a))
    monkeypatch.setattr(conf_type, "unset", lambda _s, *a: conf_writes.append(a))

    n = 50_000
    # giant star: every node joined to node 0 -> after one round all
    # labels collapse onto "000000", the single hottest possible key for
    # the jump join's label side
    giant = spark.range(1, n).select(
        F.lit("000000").alias("id_a"),
        F.format_string("%06d", F.col("id")).alias("id_b"),
    )
    # uniform background of the same edge count: disjoint 2-node pairs
    uniform = spark.range(0, n - 1, 2).select(
        F.format_string("u%06d", F.col("id")).alias("id_a"),
        F.format_string("u%06d", F.col("id") + 1).alias("id_b"),
    )

    t0 = time.monotonic()
    u_out = connected_components(uniform, scratch_dir=str(tmp_path / "uni"))
    assert u_out.count() == 2 * ((n - 1 + 1) // 2)
    t_uniform = time.monotonic() - t0

    t0 = time.monotonic()
    g_out = connected_components(
        giant.unionByName(uniform), scratch_dir=str(tmp_path / "hot")
    )
    bad = g_out.filter(
        F.col("id").rlike("^[0-9]") & (F.col("cluster_id") != "000000")
    ).count()
    t_hot = time.monotonic() - t0
    assert bad == 0
    assert g_out.count() == (n - 1) + 1 + 2 * ((n - 1 + 1) // 2)
    assert conf_writes == []
    if TIMING_PROBES:
        # hot-key run processes ~2x the edges; allow generous scheduling
        # noise but fail if the hot label key degrades a round into a
        # straggler wall
        assert t_hot < 10 * max(t_uniform, 1.0), (t_hot, t_uniform)
