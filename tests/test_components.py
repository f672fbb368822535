"""Connected-components kernel: transitive chains, multiple clusters,
convergence beyond diameter-1 graphs (the things the Jaccard-pair gate
query can't isolate)."""

from __future__ import annotations

from moosestack_spark.ops.components import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = connected_components(df).collect()
    return {r["v"]: r["cluster_id"] for r in rows}


def test_chain_collapses_to_min_label(spark):
    # 1-2-3-4-5 chain: diameter 4, needs multiple propagation rounds
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_disjoint_clusters_keep_separate_labels(spark):
    got = _cc(spark, [(10, 11), (11, 12), (20, 21), (30, 31), (31, 32)])
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30, 32: 30}


def test_cycle_and_cross_edges(spark):
    # cycle 1-2-3-1 plus a bridge 3-7 into a second clique 7-8-9
    edges = [(1, 2), (2, 3), (3, 1), (3, 7), (7, 8), (8, 9), (9, 7)]
    got = _cc(spark, edges)
    assert set(got.values()) == {1}
    assert len(got) == 6


def _cc_star(spark, edges):
    from moosestack_spark.ops.components import connected_components_star

    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = connected_components_star(df).collect()
    return {r["v"]: r["cluster_id"] for r in rows}


def test_star_matches_propagation_on_chain(spark):
    edges = [(i, i + 1) for i in range(1, 20)]  # 19-edge chain, diameter 19
    assert _cc_star(spark, edges) == _cc(spark, edges)


def test_star_matches_propagation_on_random_graphs(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 30
        edges = [
            (rng.randrange(1, n), rng.randrange(1, n)) for _ in range(25)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        got_star = _cc_star(spark, edges)
        got_prop = _cc(spark, edges)
        assert got_star == got_prop, f"trial {trial}"


def _cc_auto(spark, edges, propagation_rounds=2):
    from moosestack_spark.ops.components import connected_components_auto

    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = connected_components_auto(
        df, propagation_rounds=propagation_rounds
    ).collect()
    return {r["v"]: r["cluster_id"] for r in rows}


def test_auto_long_chain_forces_star_finish(spark):
    """A 40-edge chain cannot converge in 2 propagation rounds — the hybrid
    must contract and star-finish, and still produce the exact propagation
    labels (everything collapses to the chain minimum)."""
    edges = [(i, i + 1) for i in range(1, 41)]
    got = _cc_auto(spark, edges, propagation_rounds=2)
    assert got == {v: 1 for v in range(1, 42)}


def test_auto_matches_propagation_on_random_graphs(spark):
    import random

    rng = random.Random(11)
    for trial in range(3):
        n = 30
        edges = [(rng.randrange(1, n), rng.randrange(1, n)) for _ in range(25)]
        edges = [(a, b) for a, b in edges if a != b]
        assert _cc_auto(spark, edges, propagation_rounds=1) == _cc(spark, edges), trial


def test_auto_converged_graph_skips_star(spark):
    """Near-clique clusters (the real dedup-graph shape) converge inside the
    propagation budget; the hybrid returns the propagation labels directly."""
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)]
    got = _cc_auto(spark, edges, propagation_rounds=4)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_star_disjoint_and_cycles(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 7), (7, 8), (8, 9), (9, 7), (20, 21)]
    got = _cc_star(spark, edges)
    assert {v for v, c in got.items() if c == 1} == {1, 2, 3, 7, 8, 9}
    assert {v for v, c in got.items() if c == 20} == {20, 21}


def test_pagerank_int_orders_by_centrality(spark):
    """Integer PageRank: a hub pointed to by everyone outranks the spokes;
    a symmetric cycle is exactly uniform (integer arithmetic included)."""
    from moosestack_spark.ops.graph import SCALE, pagerank_int

    # star: 1..5 -> 0 (hub receives 5 in-links, spokes receive none; no
    # back edge — a back edge makes the graph bipartite-oscillatory and
    # the ordering depends on iteration parity)
    star = spark.createDataFrame([(i, 0) for i in range(1, 6)], ["src", "dst"])
    pr = {r.v: r.pr for r in pagerank_int(star, iterations=4).collect()}
    assert pr[0] > pr[1] == pr[2] == pr[3] == pr[4] == pr[5]

    # 4-cycle: all equal, and equal to SCALE up to truncation drift
    cyc = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], ["src", "dst"]
    )
    prs = {r.pr for r in pagerank_int(cyc, iterations=5).collect()}
    assert len(prs) == 1
    (v,) = prs
    assert abs(v - SCALE) <= 5  # div truncation loses <=1 unit per iter


def _cc_star_peel(spark, edges, peel):
    from moosestack_spark.ops.components import connected_components_star

    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = connected_components_star(df, peel_leaves=peel).collect()
    return {r["v"]: r["cluster_id"] for r in rows}


def test_star_leaf_peel_equivalence(spark):
    """The degree-1 peel (r12 constant cut) must be invisible in the
    result: peeled and unpeeled star runs agree on the adversarial shapes
    the peel touches — pendant leaves (including a leaf that IS the
    component minimum), isolated K2 pairs, leaf-fringed stars, and plain
    chains — and both match min-label propagation."""
    cases = [
        [(5, 1), (5, 2)],  # star center 5, BOTH leaves smaller: min is a leaf
        [(1, 2)],  # isolated K2
        [(1, 2), (3, 4), (10, 3)],  # K2 + a 3-vertex path
        [(i, i + 1) for i in range(1, 8)],  # chain: endpoints are leaves
        [(2, 9), (2, 8), (2, 7), (3, 2), (11, 12)],  # leaf-fringed star + K2
    ]
    for edges in cases:
        peeled = _cc_star_peel(spark, edges, True)
        plain = _cc_star_peel(spark, edges, False)
        auto = _cc_star(spark, edges)  # None: auto dial (no-peel here)
        prop = _cc(spark, edges)
        assert peeled == plain == auto == prop, f"edges {edges}"


def test_star_leaf_peel_equivalence_random(spark):
    import random

    rng = random.Random(123)
    for trial in range(2):
        n = 25
        edges = [
            (rng.randrange(1, n), rng.randrange(1, n)) for _ in range(18)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert (
            _cc_star_peel(spark, edges, True)
            == _cc_star_peel(spark, edges, False)
            == _cc(spark, edges)
        ), f"trial {trial}"


def test_propagate_escalating_batches_match_unbatched(spark):
    """VERDICT r12 #6: past _PROPAGATE_ESCALATE_AFTER rounds the
    propagation loop batches doubling runs of rounds per checkpoint+check.
    Labels must be identical to the per-round loop (no-op rounds past the
    fixpoint cannot change a min-label), the converged flag must still be
    sound (label-sum is strictly decreasing until fixpoint, so an
    unchanged sum across a batch means the fixpoint predates it), and a
    max_rounds cap mid-batch must be honored exactly."""
    from moosestack_spark.ops.components import (
        _PROPAGATE_ESCALATE_AFTER,
        _propagate,
        _sym_and_labels,
    )

    # 24-node path: diameter 23 >> the escalation threshold, so the run
    # crosses several doubled batches before converging.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 24)], ["src", "dst"]
    )
    sym, labels = _sym_and_labels(edges, "src", "dst")
    out, converged = _propagate(sym, labels, max_rounds=64)
    assert converged
    got = {r["v"]: r["lbl"] for r in out.collect()}
    assert got == {i: 1 for i in range(1, 25)}

    # a cap below the diameter stops mid-batch without convergence and
    # yields exactly the k-round labels: after k rounds node v's label is
    # max(1, v - k) on a path graph
    k = _PROPAGATE_ESCALATE_AFTER + 3
    sym, labels = _sym_and_labels(edges, "src", "dst")
    out, converged = _propagate(sym, labels, max_rounds=k)
    assert not converged
    got = {r["v"]: r["lbl"] for r in out.collect()}
    assert got == {i: max(1, i - k) for i in range(1, 25)}


def test_propagate_converged_flag_matches_unbatched_at_the_cap(spark):
    """A fixpoint reached one round before max_rounds: the unbatched loop
    sees the last round change nothing and returns converged=True.  The
    batched loop must too, even when the cap falls inside a doubled batch
    (max_rounds=6 used to compare sum(6) with sum(4) and return False)."""
    from moosestack_spark.ops.components import _propagate, _sym_and_labels

    # 6-node path: the last label change is at round 5, so the unbatched
    # loop converges iff it may run round 6
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], ["src", "dst"])
    for max_rounds in (5, 6, 7, 8):
        sym, labels = _sym_and_labels(edges, "src", "dst")
        out, converged = _propagate(sym, labels, max_rounds=max_rounds)
        assert converged == (max_rounds >= 6), max_rounds
        got = {r["v"]: r["lbl"] for r in out.collect()}
        assert got == {i: max(1, i - max_rounds) for i in range(1, 7)}
