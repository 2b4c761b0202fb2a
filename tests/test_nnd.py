"""NN-Descent correctness: recall vs brute-force oracle, invariants,
determinism, convergence behaviors (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_nnd_spark import build_graph, build_graph_exact
from tests.conftest import POINT_DDL, knn_oracle, make_clustered_points

K = 10


@pytest.fixture(scope="module")
def clustered(spark):
    rows = make_clustered_points(n_clusters=10, per_cluster=40, dim=8, seed=42)
    return rows, spark.createDataFrame(rows, POINT_DDL)


@pytest.fixture(scope="module")
def built(clustered):
    rows, df = clustered
    g = build_graph(df, k=K, max_iterations=5, early_termination=0.01, seed=7)
    return rows, {r["id"]: r for r in g.collect()}


def test_recall_vs_oracle(built):
    rows, by_id = built
    oracle = knn_oracle(rows, K)
    hits = total = 0
    for i, expected in oracle.items():
        got = {n["id"] for n in (by_id[i]["neighbors"] or [])}
        want = {j for j, _ in expected}
        hits += len(got & want)
        total += len(want)
    recall = hits / total
    assert recall >= 0.9, f"recall {recall:.3f} < 0.9"


def test_invariants(built):
    rows, by_id = built
    part = {r[0]: r[3] for r in rows}
    assert set(by_id) == {r[0] for r in rows}  # ids preserved
    for r in by_id.values():
        nbs = r["neighbors"]
        assert nbs is not None  # no finished rows in this fixture
        assert len(nbs) <= K
        ids = [n["id"] for n in nbs]
        sims = [n["similarity"] for n in nbs]
        assert r["id"] not in ids  # no self-edges
        assert len(set(ids)) == len(ids)  # no duplicate neighbors
        assert all(0 < s <= 1 for s in sims)
        assert sims == sorted(sims, reverse=True)  # sorted desc
        assert all(part[i] == r["partition"] for i in ids)  # partition wall


def test_determinism_same_seed(clustered):
    rows, df = clustered
    a = build_graph(df, k=5, max_iterations=2, seed=99).collect()
    b = build_graph(df, k=5, max_iterations=2, seed=99).collect()
    key = lambda rs: sorted(
        (r["id"], tuple((n["id"], n["similarity"]) for n in (r["neighbors"] or [])))
        for r in rs
    )
    assert key(a) == key(b)


def test_finished_and_partition_walls(spark):
    rows = make_clustered_points(
        n_clusters=8, per_cluster=20, dim=6, seed=3, n_partitions=4, finished_mod=10
    )
    df = spark.createDataFrame(rows, POINT_DDL)
    g = {r["id"]: r for r in build_graph(df, k=5, max_iterations=3, seed=11).collect()}
    part = {r[0]: r[3] for r in rows}
    fin = {r[0] for r in rows if r[4]}
    for i, r in g.items():
        if i in fin:
            assert r["neighbors"] is None  # finished → null (NND.scala:277)
        else:
            assert r["neighbors"] is not None
            for n in r["neighbors"]:
                assert part[n["id"]] == part[i]
                assert n["id"] not in fin  # finished excluded from build


def test_max_iterations_zero_returns_init(spark):
    rows = make_clustered_points(n_clusters=4, per_cluster=15, dim=4, seed=5)
    df = spark.createDataFrame(rows, POINT_DDL)
    g = build_graph(df, k=3, max_iterations=0, seed=1).collect()
    assert len(g) == len(rows)
    # init graph exists but is random — just check shape invariants
    for r in g:
        assert r["neighbors"] is not None
        assert len(r["neighbors"]) <= 3


def test_early_termination_one_stops_fast(spark):
    rows = make_clustered_points(n_clusters=4, per_cluster=15, dim=4, seed=5)
    df = spark.createDataFrame(rows, POINT_DDL)
    # δ=1.0 → updated ≤ K·N always → exactly one iteration; just verify it runs
    g = build_graph(df, k=3, max_iterations=5, early_termination=1.0, seed=1).collect()
    assert len(g) == len(rows)


def test_exact_graph_matches_numpy_oracle(spark):
    rows = make_clustered_points(n_clusters=5, per_cluster=12, dim=4, seed=13)
    df = spark.createDataFrame(rows, POINT_DDL)
    got = {r["id"]: [(n["id"], n["similarity"]) for n in r["neighbors"]]
           for r in build_graph_exact(df, k=4).collect()}
    oracle = knn_oracle(rows, 4)
    for i in oracle:
        assert [j for j, _ in got[i]] == [j for j, _ in oracle[i]], f"node {i}"
        np.testing.assert_allclose(
            [s for _, s in got[i]], [s for _, s in oracle[i]], rtol=1e-12
        )


def test_singleton_partition_empty_neighbors(spark):
    rows = [
        (0, [0.0, 0.0], None, 0, False),
        (1, [1.0, 0.0], None, 0, False),
        (2, [9.0, 9.0], None, 7, False),  # alone in partition 7
    ]
    df = spark.createDataFrame(rows, POINT_DDL)
    g = {r["id"]: r for r in build_graph(df, k=2, max_iterations=2, seed=1).collect()}
    assert g[2]["neighbors"] == []
    assert {n["id"] for n in g[0]["neighbors"]} == {1}


def test_exact_graph_tiebreak_with_mass_duplicates(spark):
    """More tied candidates than the kernel's k+8 argpartition cut:
    40 identical vectors mean every neighbor ties at sim=1.0, so the
    documented (sim desc, id asc) order must still emit the k smallest
    other ids — exercises the boundary-tie fallback in exact.py."""
    rows = [(i, [1.0, 2.0, 3.0], None, 0, False) for i in range(40)]
    df = spark.createDataFrame(rows, POINT_DDL)
    got = {r["id"]: r["neighbors"] for r in build_graph_exact(df, k=10).collect()}
    for i in range(40):
        expect = [j for j in range(40) if j != i][:10]
        assert [n["id"] for n in got[i]] == expect, f"node {i}"
        assert all(n["similarity"] == 1.0 for n in got[i])


def test_build_independent_of_row_layout(spark):
    """Same points, different physical layouts and Arrow batch sizes:
    identical neighbor lists (bit-identical similarities) and identical
    per-iteration update counts. The init kernel draws over each bucket's
    members in id order, not in arrival order."""
    rows = make_clustered_points(n_clusters=8, per_cluster=25, dim=16, seed=5)
    sc = spark.sparkContext
    by_id = spark.createDataFrame(sc.parallelize(rows, 4), POINT_DDL)
    layouts = {
        "id order": by_id,
        "reversed": spark.createDataFrame(sc.parallelize(rows[::-1], 4), POINT_DDL),
        "hashed": by_id.repartition(7, F.xxhash64("id")),
        "shuffled": by_id.orderBy(F.rand(13)).coalesce(3),
    }

    def run(df):
        updates = []
        g = build_graph(df, k=5, max_iterations=4, early_termination=0.0, seed=11,
                        on_iteration=lambda i, u: updates.append(u))
        lists = sorted(
            (r["id"], tuple((n["id"], n["similarity"]) for n in r["neighbors"]))
            for r in g.collect()
        )
        return lists, updates

    want = run(layouts.pop("id order"))
    for name, df in layouts.items():
        assert run(df) == want, name
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        assert run(by_id) == want, "7-row Arrow batches"
    finally:
        spark.conf.set(conf, old)


def test_ragged_features_fail_loudly_without_validation(spark):
    """validate=False skips the up-front check; ragged rows that meet in a
    kernel group still fail instead of being mis-sliced."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0], 0, 0, False), (1, [4.0], 0, 0, False)], POINT_DDL
    )
    with pytest.raises(Exception, match="inconsistent feature dimensionality"):
        build_graph(df, k=1, max_iterations=1, validate=False).collect()


def test_update_graph_incremental(spark):
    from spark_nnd_spark.nnd.descent import update_graph

    rows = make_clustered_points(n_clusters=8, per_cluster=30, dim=8, seed=21)
    half = [r for r in rows if r[0] % 2 == 0]
    df_half = spark.createDataFrame(half, POINT_DDL)
    df_all = spark.createDataFrame(rows, POINT_DDL)

    g0 = build_graph(df_half, k=5, max_iterations=4, seed=3)
    g1 = update_graph(g0, df_all, k=5, max_iterations=3, seed=3)
    by_id = {r["id"]: r for r in g1.collect()}
    assert set(by_id) == {r[0] for r in rows}

    # every new node found neighbors, and quality holds: recall vs the
    # exact oracle over the full set
    oracle = knn_oracle(rows, 5)
    new_ids = {r[0] for r in rows if r[0] % 2 == 1}
    hits = total = 0
    for i in new_ids:
        got = {n["id"] for n in (by_id[i]["neighbors"] or [])}
        want = {j for j, _ in oracle[i]}
        hits += len(got & want)
        total += len(want)
    assert total > 0 and hits / total >= 0.7, f"new-node recall {hits/total:.3f}"

    # old nodes keep valid lists (<= K, no self, sorted)
    for i, r in by_id.items():
        nbs = r["neighbors"]
        assert nbs is not None and len(nbs) <= 5
        sims = [n["similarity"] for n in nbs]
        assert sims == sorted(sims, reverse=True)
        assert i not in {n["id"] for n in nbs}


def test_update_graph_noop_without_new_points(spark):
    from spark_nnd_spark.nnd.descent import update_graph

    rows = make_clustered_points(n_clusters=4, per_cluster=15, dim=4, seed=9)
    df = spark.createDataFrame(rows, POINT_DDL)
    g0 = build_graph(df, k=3, max_iterations=2, seed=5)
    g1 = update_graph(g0, df, k=3, max_iterations=3, seed=5)
    key = lambda rs: sorted(
        (r["id"], tuple((n["id"], round(n["similarity"], 9)) for n in (r["neighbors"] or [])))
        for r in rs
    )
    assert key(g0.collect()) == key(g1.collect())


def test_sample_reverse_counts_and_determinism(spark):
    """A9 sampling (descent.py `_sample_reverse`, NND.scala:146-152):
    each target keeps exactly max(ceil(rho*|R(v)|), 1) reverse edges,
    the draw is deterministic, and rho=1 is the identity."""
    from spark_nnd_spark.nnd.descent import _sample_reverse

    # v=0 has 10 reverse edges, v=1 has 3, v=2 has 1
    rows = (
        [(0, m, False) for m in range(100, 110)]
        + [(1, m, False) for m in range(200, 203)]
        + [(2, 300, True)]
    )
    rev = spark.createDataFrame(rows, "v long, member long, is_new boolean")

    sampled = _sample_reverse(rev, 0.5, seed=7, iteration=0)
    counts = {r["v"]: r["c"] for r in sampled.groupBy("v").agg(F.count("*").alias("c")).collect()}
    assert counts == {0: 5, 1: 2, 2: 1}  # ceil(.5*10), ceil(.5*3), max(...,1)

    # deterministic: same (seed, iteration) -> same member set
    a = sorted((r["v"], r["member"]) for r in sampled.collect())
    b = sorted(
        (r["v"], r["member"])
        for r in _sample_reverse(rev, 0.5, seed=7, iteration=0).collect()
    )
    assert a == b
    # a different iteration rotates the draw for the big group
    c = sorted(
        r["member"]
        for r in _sample_reverse(rev, 0.5, seed=7, iteration=1).filter("v = 0").collect()
    )
    assert len(c) == 5
    # rho=1.0 short-circuits to the identity
    assert _sample_reverse(rev, 1.0, seed=7, iteration=0) is rev


def test_sampled_build_recall_and_volume(spark, clustered):
    """End-to-end rho=0.5 build (the reference's headline shuffle knob):
    recall stays high while the per-iteration reverse-edge volume —
    measured on the same graph states the full-rate build visits —
    drops by ~rho."""
    from spark_nnd_spark.nnd.descent import _sample_reverse

    rows, df = clustered
    g = build_graph(df, k=K, max_iterations=5, early_termination=0.01, seed=7,
                    sample_rate=0.5)
    by_id = {r["id"]: r for r in g.collect()}
    oracle = knn_oracle(rows, K)
    hits = total = 0
    for i, expected in oracle.items():
        got = {n["id"] for n in (by_id[i]["neighbors"] or [])}
        want = {j for j, _ in expected}
        hits += len(got & want)
        total += len(want)
    recall = hits / total
    assert recall >= 0.85, f"rho=0.5 recall {recall:.3f} < 0.85"

    # volume check on a representative reverse-edge set: build the full
    # reverse edge list from the result graph and sample it at 0.5
    edges = g.filter("neighbors is not null").select(
        F.col("id").alias("src"), F.explode("neighbors").alias("nb")
    ).select(F.col("nb.id").alias("v"), F.col("src").alias("member"),
             F.lit(False).alias("is_new"))
    full = edges.count()
    kept = _sample_reverse(edges, 0.5, seed=7, iteration=0).count()
    assert kept < full
    # per-v ceil rounding means kept/full is in [0.5, ~0.5 + eps]
    assert 0.45 <= kept / full <= 0.65, f"sampled fraction {kept/full:.3f}"
