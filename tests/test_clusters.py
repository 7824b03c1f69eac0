"""Connected-components unit tests on hand-built graphs."""

from __future__ import annotations

from kaspi_etl_spark.llm import dedup


def test_connected_components_basic(spark):
    # components: {1,2,3,4} (chain), {10,11}, singleton edges only appear
    # via pairs so isolated docs are absent by design
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    out = {r.doc_id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_bridges(spark):
    # two cliques joined by one bridge edge -> single component
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (7, 8), (7, 9), (8, 9), (3, 7)],
        "id_a long, id_b long",
    )
    out = {r.doc_id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert set(out.values()) == {1}
    assert len(out) == 6


def test_asof_join_semantics(spark):
    import datetime

    from kaspi_etl_spark.ops.asof import asof_join

    t = lambda m: datetime.datetime(2025, 9, 1, 12, m, 0)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "u1", t(5)), (2, "u1", t(10)), (3, "u2", t(3)), (4, "u3", t(1))],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u1", t(4), 100.0), ("u1", t(10), 200.0), ("u2", t(9), 300.0)],
        "user_id string, r_ts timestamp, value double",
    )
    out = {
        r.event_id: (r.value_asof, r.r_ts_asof)
        for r in asof_join(
            left, right, key="user_id", left_ts="ts", right_ts="r_ts",
            value_cols=["value", "r_ts"],
        ).collect()
    }
    assert out[1] == (100.0, t(4))     # latest at-or-before 12:05
    assert out[2] == (200.0, t(10))    # exact-time match included
    assert out[3] == (None, None)      # right row is in the future
    assert out[4] == (None, None)      # no right rows for key

def test_star_cc_matches_minlabel_on_random_graphs(spark):
    """large-star/small-star must agree with min-label propagation on
    arbitrary graphs (deterministic LCG-generated edge sets)."""
    state = 987654321
    def rnd(n):
        nonlocal state
        state = (1103515245 * state + 12345) % (1 << 31)
        return state % n
    for trial, (n_nodes, n_edges) in enumerate([(20, 10), (30, 35), (50, 25)]):
        edges = sorted({
            (a, b)
            for _ in range(n_edges)
            for a, b in [(rnd(n_nodes), rnd(n_nodes))]
            if a != b
        })
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        ml = {r.doc_id: r.cluster_id
              for r in dedup.connected_components(pairs, max_iterations=60).collect()}
        st = {r.doc_id: r.cluster_id
              for r in dedup.connected_components_star(pairs).collect()}
        assert ml == st, f"trial {trial}: {ml} != {st}"


def test_star_cc_long_chain(spark):
    """A 50-hop chain needs 50 rounds of per-hop propagation but only
    O(log 50) alternations of large-star/small-star."""
    chain = [(i, i + 1) for i in range(50)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    out = {r.doc_id: r.cluster_id
           for r in dedup.connected_components_star(pairs, max_rounds=10).collect()}
    assert set(out.values()) == {0}
    assert len(out) == 51


def test_cc_self_pair_converges_at_hop_one(spark):
    # an already-converged input: the hop-1 fixpoint test passes, so the
    # labels come straight off the edge table
    pairs = spark.createDataFrame([(5, 5)], "id_a long, id_b long")
    out = dedup.connected_components(pairs).collect()
    assert [(r["doc_id"], r["cluster_id"]) for r in out] == [(5, 5)]


def _build_jobs(spark, rows, max_iterations):
    """(Spark jobs run while connected_components builds its result,
    sorted output rows)."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    group = f"cc-build-{len(rows)}-{max_iterations}"
    sc.setJobGroup(group, group)
    try:
        out = dedup.connected_components(pairs, max_iterations=max_iterations)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        n = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    return n, sorted(map(tuple, out.collect()))


# Build-time job counts under the suite's session (local[4], 4 shuffle
# partitions, AQE: every shuffle map stage is a job of its own). They
# pin the loop's shape: 2 jobs materialize the edge table and 2 run the
# hop-1 test; a propagation round adds 9 (two hops with their broadcast
# and shuffle stages, the checkpoint, and the fixpoint scan).


def test_cc_build_jobs_clique_needs_no_round(spark):
    n, out = _build_jobs(spark, [(a, b) for a in range(6) for b in range(6) if a < b], 10)
    assert out == [(v, 0) for v in range(6)]
    assert n == 4


def test_minlabel_cc_falls_back_to_star_on_chain(spark):
    """connected_components with an undersized round budget must still
    return correct labels (delegating to the star variant), not raise.
    max_iterations // 2 + 2 = 3 rounds test hops 2, 4 and 6 of this
    diameter-30 chain; the star algorithm's own rounds follow."""
    n, out = _build_jobs(spark, [(i, i + 1) for i in range(30)], 3)
    assert out == [(v, 0) for v in range(31)]
    assert n == 85


def test_star_fallback_labels_null_id_like_propagation(spark):
    """A NULL id touching two chains longer than the propagation budget
    (so the star fallback runs) takes the least of its neighbors'
    labels, exactly as propagation labels it at a budget that fits. A
    NULL id links nothing: the chains stay two clusters."""
    rows = [(i, i + 1) for i in range(30)] + [(100 + i, 101 + i) for i in range(12)]
    rows += [(None, 15), (105, None), (None, 200), (None, None)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    fallback = dedup.connected_components(pairs, max_iterations=3).collect()
    exact = dedup.connected_components(pairs, max_iterations=60).collect()
    assert len(fallback) == len(exact) == 31 + 13 + 1 + 1
    assert dict(map(tuple, fallback)) == dict(map(tuple, exact))
    assert dict(map(tuple, fallback))[None] == 0
    assert dict(map(tuple, fallback))[110] == 100


def test_minlabel_cc_exact_budget_converges(spark):
    """A graph needing exactly max_iterations propagation hops converges
    inside the budget instead of tripping the fallback (ADVICE r2): the
    hop-1 test fails, round 1 tests hop 2, round 2 hop 4."""
    n, out = _build_jobs(spark, [(i, i + 1) for i in range(4)], 4)  # diameter 4
    assert out == [(v, 0) for v in range(5)]
    assert n == 22


def test_pagerank_fixed_point_properties(spark):
    from kaspi_etl_spark.ops import graph

    # star graph: every spoke points at the hub (node 0); hub points back
    # at node 1. Hub must outrank everything; node 1 second.
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    ranks = {r["node"]: r["score"] for r in
             graph.pagerank_fixed_point(e, iterations=3).collect()}
    assert set(ranks) == set(range(6))
    assert ranks[0] == max(ranks.values())
    assert ranks[1] == sorted(ranks.values())[-2]
    # spokes are symmetric -> identical scores
    assert len({ranks[i] for i in range(2, 6)}) == 1
    # fixed-point mass never exceeds the scale (dangling/floor loss only)
    assert 0 < sum(ranks.values()) <= graph.PR_SCALE


def test_pagerank_deterministic_across_partitionings(spark):
    from kaspi_etl_spark.ops import graph

    edges = [(i, (i * 7) % 23) for i in range(200)]
    e1 = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    e8 = spark.createDataFrame(edges, "src long, dst long").repartition(8)
    r1 = sorted(graph.pagerank_fixed_point(e1).collect())
    r8 = sorted(graph.pagerank_fixed_point(e8).collect())
    assert r1 == r8


def test_triangle_count_known_graph(spark):
    from kaspi_etl_spark.ops import graph

    # K4 (4 triangles) + a pendant edge + a disconnected 3-cycle (1) = 5,
    # with duplicate and reversed input edges to exercise canonicalization.
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(3, 9), (9, 3), (10, 11), (11, 12), (12, 10), (0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = graph.triangle_count(df).collect()[0]
    assert row.n_nodes == 8
    assert row.n_edges == len(k4) + 1 + 3
    assert row.n_triangles == 4 + 1
