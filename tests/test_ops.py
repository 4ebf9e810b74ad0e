"""Dedup / text / similarity operators on crafted in-memory frames."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from codeclone_spark.operators import dedup as dd
from codeclone_spark.operators import similarity as sim
from codeclone_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different words appear here instead today"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dup_groups(docs):
    g = dd.exact_dup_groups(docs, "doc_id", "text").collect()
    assert len(g) == 1
    assert g[0]["n"] == 2 and g[0]["min_id"] == 1


def test_char_shingles(docs):
    sh = dd.char_shingles(docs, "doc_id", "text", k=5)
    row = sh.filter(F.col("id") == 4).count()
    text = "completely different words appear here instead today"
    expected = len(set(text[i : i + 5] for i in range(len(text) - 4)))
    assert row == expected
    assert sh.filter(F.col("id") == 5).count() == 0  # empty doc -> no shingles


def test_minhash_identical_docs_same_signature(docs):
    sigs = {r["id"]: tuple(r[i] for i in range(1, 9))
            for r in dd.minhash_signatures(dd.char_shingles(docs, "doc_id", "text")).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_lsh_recall_of_exact_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in dd.lsh_candidate_pairs(docs, "doc_id", "text").collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 3) in pairs  # near dup shares most shingles


def test_jaccard_pairs(docs):
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dd.jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    assert rows[(1, 2)] == 1.0
    assert 0.5 <= rows[(1, 3)] < 1.0
    assert (1, 4) not in rows


def test_lsh_verified_pairs_composes_ladder(docs, tmp_path):
    """Composed ladder = exact-Jaccard survivors among LSH candidates."""
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.lsh_verified_pairs(
            docs, "doc_id", "text", threshold=0.5, scratch_dir=str(tmp_path)
        ).collect()
    }
    cands = {
        (r["id_a"], r["id_b"])
        for r in dd.lsh_candidate_pairs(docs, "doc_id", "text").collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert set(got) <= cands
    assert got == {p: j for p, j in exact.items() if p in cands}
    assert got[(1, 2)] == 1.0


def test_simhash_close_for_neardups(docs):
    s = {r["id"]: r["simhash"] for r in dd.simhash(docs, "doc_id", "text").collect()}
    assert s[1] == s[2]
    ham_13 = bin(s[1] ^ s[3]).count("1")
    ham_14 = bin(s[1] ^ s[4]).count("1")
    assert ham_13 < ham_14  # near dup closer than unrelated doc


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 0),
        (4, [1.0, 0.0, 0.0], 1),  # different block -> never paired
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pairs = {(r["id_a"], r["id_b"]) for r in dd.embedding_neardup_pairs(df, "vec_id", "embedding", "label", 0.95).collect()}
    assert pairs == {(1, 2)}


# --------------------------------------------------------------- text ----
def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("  ",), ("one",)], ["t"])
    got = [r["n"] for r in df.select(tx.token_count(F.col("t")).alias("n")).collect()]
    assert got == [3, 0, 0, 1]


def test_punct_and_stopword_ratio(spark):
    df = spark.createDataFrame([("the cat!!",)], ["t"])
    r = df.select(
        tx.punct_ratio(F.col("t")).alias("p"),
        tx.stopword_ratio(F.col("t")).alias("s"),
    ).collect()[0]
    assert r["p"] == pytest.approx(2 / 9, abs=1e-6)
    assert r["s"] == pytest.approx(0.5, abs=1e-6)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is in that house with food",),
            ("el gato y la casa de los perros en una calle",),
            ("der hund und die katze ist nicht ein gutes tier mit",),
            ("xyzzy plugh qwerty",),
        ],
        ["t"],
    )
    got = [r["l"] for r in df.select(tx.lang_id(F.col("t")).alias("l")).collect()]
    assert got == ["en", "es", "de", "und"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([("Hello   World",), ("hello world",)], ["t"])
    fps = [r["f"] for r in df.select(tx.fingerprint(F.col("t")).alias("f")).collect()]
    assert fps[0] == fps[1]


# ---------------------------------------------------------- similarity ----
def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(50, 8)).astype("float32")
    q = [float(x) for x in vecs[0]]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    got = [r["id"] for r in sim.cosine_topk(df, "vec_id", "embedding", q, k=5).collect()]
    sims = vecs.astype("float64") @ np.array(q)
    sims = sims / (np.linalg.norm(vecs.astype("float64"), axis=1) * np.linalg.norm(q))
    expect = list(np.argsort(-sims)[:5])
    assert got == [int(x) for x in expect]
    assert got[0] == 0  # query vector itself on top


def test_srp_bucket_matches_python(spark):
    planes = sim.plane_signs(4, 3)
    vec = [0.5, -1.0, 2.0]
    expect = sum(
        2**p for p, pl in enumerate(planes) if sum(s * v for s, v in zip(pl, vec)) > 0
    )
    df = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
    got = sim.srp_buckets(df, "vec_id", "embedding", n_planes=4, dim=3).collect()[0]
    assert got["bucket"] == expect


def test_ann_srp_contains_query_neighbors(spark):
    import numpy as np

    rng = np.random.default_rng(1)
    vecs = rng.normal(size=(100, 16)).astype("float64")
    q = [float(x) for x in vecs[7]]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    got = sim.ann_topk_srp(df, "vec_id", "embedding", q, k=5, n_planes=4)
    rows = got.collect()
    assert rows and rows[0]["id"] == 7  # same bucket as itself, cosine 1.0
    assert rows[0]["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_lsh_hot_bucket_cap(spark):
    """A degenerate bucket (many identical docs) is dropped from the
    candidate join and reported via lsh_suppressed_buckets."""
    rows = [(f"same{i}", "xxxxxyyyyyzzzzz") for i in range(20)] + [
        ("a1", "hello world one two"),
        ("a2", "hello world one two!"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = dd.lsh_candidate_pairs(docs, "doc_id", "text", max_bucket=10)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # no pair from the 20-doc degenerate cluster (its buckets are all >10)
    assert not any(a.startswith("same") for a, _ in pairs)
    sup = dd.lsh_suppressed_buckets(docs, "doc_id", "text", max_bucket=10).collect()
    assert len(sup) > 0 and all(r["n"] == 20 for r in sup)
    # uncapped keeps the quadratic cluster
    full = dd.lsh_candidate_pairs(docs, "doc_id", "text", max_bucket=None)
    assert full.count() >= 190  # C(20,2)


def test_lsh_pairs_single_pass_no_checkpoint(spark, tmp_path):
    """The pair plan consumes the shingle+MinHash pipeline exactly once:
    one source scan, one bucket shuffle, no self-join and no checkpoint
    (full recompute lineage — the r2 localCheckpoint reliability hazard is
    structurally gone)."""
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(f"d{i}", f"some text body number {i % 7}") for i in range(50)],
        ["doc_id", "text"],
    ).write.parquet(src)
    docs = spark.read.parquet(src)
    pairs = dd.lsh_candidate_pairs(docs, "doc_id", "text")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Checkpoint" not in plan and "Join" not in plan
    # the only exchanges: signature fold (groupBy id), bucket shuffle
    # (groupBy band+key), final pair distinct — no join exchanges
    assert plan.count("Exchange") == 3


def test_connected_components_labels(spark, tmp_path):
    """Min-label propagation = component minimum for every node; raises
    (never returns a wrong labeling) when the diameter exceeds max_iter."""
    from codeclone_spark.operators import graph as g

    def cc(edges, tag, **kw):
        return g.connected_components(
            edges, scratch_dir=str(tmp_path / tag), **kw
        )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 4), (7, 6), (6, 8)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["cluster_id"] for r in cc(edges, "labels").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6, 8: 6}
    sizes = {
        r["cluster_id"]: r["n"]
        for r in g.cluster_sizes(cc(edges, "sizes")).collect()
    }
    assert sizes == {1: 3, 4: 2, 6: 3}
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        cc(chain, "budget", max_iter=2)
    # the default budget converges the same chain
    full = {r["id"]: r["cluster_id"] for r in cc(chain, "chain").collect()}
    assert set(full.values()) == {0}


def test_connected_components_log_diameter_rounds(spark, tmp_path):
    """Every round jumps before it hops, so pointer depth halves from the
    first round: a path of ``2**k - 1`` hops is labeled after k rounds and
    confirmed by one more, and a 1,024-hop path converges in 12."""
    from pyspark.sql import functions as F

    from codeclone_spark.operators import graph as g

    path = spark.range(1024).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    comps = g.connected_components(
        path, max_iter=12, scratch_dir=str(tmp_path / "path")
    )
    sizes = {r["cluster_id"]: r["n"] for r in g.cluster_sizes(comps).collect()}
    assert sizes == {0: 1025}


def test_connected_components_long_chain_and_no_leaked_persist(spark, tmp_path):
    """Diameter robustness (pointer jumping): a 60-hop path graph — which
    plain min-label propagation could never finish inside the old
    max_iter=25 budget — converges under the default budget; and the call
    leaves NO persisted frames behind (repeated calls in a long-lived
    session must not accumulate cache)."""
    from codeclone_spark.operators import graph as g

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in g.connected_components(
            chain, scratch_dir=str(tmp_path / "one")
        ).collect()
    }
    assert got == {i: 0 for i in range(61)}
    # two disjoint long chains keep distinct minima
    two = spark.createDataFrame(
        [(i, i + 1) for i in range(30)]
        + [(i, i + 1) for i in range(100, 140)],
        ["id_a", "id_b"],
    )
    got2 = {
        r["id"]: r["cluster_id"]
        for r in g.connected_components(
            two, scratch_dir=str(tmp_path / "two")
        ).collect()
    }
    assert set(got2.values()) == {0, 100}
    assert got2[31 - 1] == 0 and got2[140] == 100
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), "connected_components leaked persisted frames"


def test_keep_list_manifest(spark):
    """Survivor manifest covers EVERY doc: uniques keep, the cluster minimum
    keeps as representative, other members purge as near_duplicate."""
    from codeclone_spark.operators import graph as g

    corpus = spark.createDataFrame(
        [(i,) for i in (1, 2, 7, 9)], ["doc_id"]
    )
    comps = spark.createDataFrame([(2, 2), (7, 2)], ["id", "cluster_id"])
    rows = {
        r["id"]: (r["cluster_id"], r["keep"], r["reason"])
        for r in g.keep_list(corpus, "doc_id", comps).collect()
    }
    assert rows == {
        1: (1, True, "unique"),
        2: (2, True, "representative"),
        7: (2, False, "near_duplicate"),
        9: (9, True, "unique"),
    }


def test_dedup_cli_manifest(spark, tmp_path, docs):
    """End-to-end `dedup` subcommand: ladder -> clusters -> partitioned
    keep_list manifest; doc 1 survives its exact-dup group, doc 5's empty
    text stays unique."""
    from codeclone_spark.cli import main

    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "dedup_out")
    rc = main(
        [
            "dedup", "--input", src, "--id-col", "doc_id",
            "--text-col", "text", "--out-dir", out,
            "--threshold", "0.5",
        ]
    )
    assert rc == 0
    assert os.listdir(out) == ["keep_list"]  # the ladder's scratch is gone
    got = {
        r["id"]: (r["keep"], r["reason"])
        for r in spark.read.parquet(f"{out}/keep_list").collect()
    }
    assert got[1] == (True, "representative")
    assert got[2] == (False, "near_duplicate")
    assert got[5] == (True, "unique")
    assert len(got) == 5 and sum(1 for k, _ in got.values() if k) >= 3


def test_embedding_neardup_requires_blocking(spark):
    import pytest

    df = spark.createDataFrame(
        [("v1", [1.0, 0.0]), ("v2", [1.0, 0.001])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="block_col or srp_dim"):
        dd.embedding_neardup_pairs(df, "vec_id", "embedding")
    # SRP-derived blocking finds the co-bucketed near-dup
    pairs = dd.embedding_neardup_pairs(
        df, "vec_id", "embedding", srp_dim=2, threshold=0.99
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {("v1", "v2")}


def test_embedding_neardup_threshold_edge_unrounded(spark):
    """A pair whose true cosine sits just BELOW the threshold but ROUNDS
    to it must be dropped: the oracle's WHERE clause filters the raw
    ratio, so the Spark side must too (round only for output)."""
    import math

    from codeclone_spark.operators import dedup as dd

    th = 0.98
    # cosine(v1, v2) = cos(theta) = th - 2.5e-7: below threshold raw,
    # but round(·, 6) == th — a rounded-threshold filter would keep it
    theta = math.acos(th - 2.5e-7)
    rows = [
        ("a", [1.0, 0.0], "blk"),
        ("b", [math.cos(theta), math.sin(theta)], "blk"),
        # and a genuinely-above pair that must survive
        ("c", [1.0, 0.0], "blk2"),
        ("d", [1.0, 1e-4], "blk2"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>, label string"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_neardup_pairs(
            df, "vec_id", "embedding", "label", threshold=th
        ).collect()
    }
    assert got == {("c", "d")}


def test_ivf_assign_tiebreak_min_cid(spark):
    """The argmax aggregation must keep the row_number tie-break: equal
    cosines (duplicate centroids) resolve to the SMALLEST cid."""
    from codeclone_spark.operators.similarity import ivf_assign

    e = spark.createDataFrame(
        [("v1", [1.0, 0.0]), ("v2", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    # cids deliberately unsorted; centroids 2 and 0 are identical, so a
    # vector nearest that direction has a two-way cosine tie -> cid 0
    cdf = spark.createDataFrame(
        [(2, [1.0, 0.0]), (0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cid BIGINT, cvec ARRAY<DOUBLE>",
    )
    got = {
        r["id"]: r["cid"]
        for r in ivf_assign(e, "vec_id", "embedding", [0, 1, 2], cdf).collect()
    }
    assert got == {"v1": 0, "v2": 1}
