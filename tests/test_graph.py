"""Connected-components correctness on a known graph + convergence."""

from __future__ import annotations

from mta_rtf_dbt_spark.operators.graph import connected_components


def test_cc_known_graph(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    out = {r.node: r.component for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_cc_long_chain_converges(spark):
    # a 30-node chain needs ~diameter rounds of pure min-propagation;
    # max_iter must cover it and the labels must all collapse to 0
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    out = {r.node: r.component for r in connected_components(edges, max_iter=40).collect()}
    assert set(out.values()) == {0}
    assert len(out) == 31


def test_cc_star_matches_propagate(spark):
    """Both algorithms produce the identical min-reachable-id labeling on a
    mix of shapes: chain, clique, star, random pairs, self-loop."""
    import random

    rng = random.Random(7)
    edges = (
        [(i, i + 1) for i in range(20)]                      # chain 0..20
        + [(a, b) for a in range(30, 35) for b in range(a + 1, 35)]  # clique
        + [(50, x) for x in range(51, 60)]                   # star
        + [(rng.randrange(100, 160), rng.randrange(100, 160)) for _ in range(40)]
        + [(200, 200)]                                       # self-loop only
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    star = {r.node: r.component for r in connected_components(df, algorithm="star").collect()}
    prop = {
        r.node: r.component
        for r in connected_components(df, max_iter=40, algorithm="propagate").collect()
    }
    assert star == prop
    assert star[200] == 200  # self-loop node labels itself


def test_cc_star_beats_diameter(spark):
    """A 200-node chain: propagation would need ~200 rounds; the star
    algorithm converges inside 15."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(200)], "src long, dst long")
    from mta_rtf_dbt_spark.operators.graph import connected_components_star

    out = {r.node: r.component for r in connected_components_star(edges, max_iter=15).collect()}
    assert set(out.values()) == {0}
    assert len(out) == 201


def test_cc_star_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_cc_star_forest_converges_in_one_round(spark, monkeypatch):
    """The r11 star-forest convergence criterion: input that is already a
    star forest (every edge points straight at its component's min) must be
    detected at the FIRST round — the previous edge-set-equality test needed
    a second identity round to confirm. Counting _large_star invocations
    pins the round count; the labeling must be unchanged."""
    from mta_rtf_dbt_spark.operators import graph as G

    calls = {"n": 0}
    orig = G._large_star

    def counting(und):
        calls["n"] += 1
        return orig(und)

    monkeypatch.setattr(G, "_large_star", counting)
    # two stars: root 0 with leaves 1..4, root 10 with leaves 11..12
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)] + [(10, 11), (10, 12)],
        "src long, dst long",
    )
    out = {r.node: r.component for r in G.connected_components_star(edges).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 12: 10}
    assert calls["n"] == 1, f"star forest should converge in one round, ran {calls['n']}"


def test_cc_star_multi_parent_not_converged(spark):
    """r12 regression (ADVICE high): 'no v appears as a u' alone is NOT a
    convergence proof — after round 1 of this path graph, node 5 holds
    parents 1 AND 2 with no chained v, and breaking there splits the single
    component in two. The fixed criterion also requires each u to have
    exactly one parent (n == countDistinct(u))."""
    from mta_rtf_dbt_spark.operators.graph import connected_components_star

    edges = spark.createDataFrame(
        [(10, 5), (20, 5), (10, 6), (6, 1), (20, 7), (7, 2)],
        "src long, dst long",
    )
    out = {r.node: r.component for r in connected_components_star(edges).collect()}
    assert out == {1: 1, 2: 1, 5: 1, 6: 1, 7: 1, 10: 1, 20: 1}


def _pagerank_reference(edges, n_iter=3, scale=10**12):
    """Pure-Python replay of the integer PageRank recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 1
    n = len(nodes)
    base = scale // n
    r = {v: base for v in nodes}
    for _ in range(n_iter):
        d = sum(r[v] for v in nodes if v not in out)
        c = {}
        for u, v in edges:
            c[v] = c.get(v, 0) + r[u] // out[u]
        r = {v: (15 * base + 85 * (c.get(v, 0) + d // n)) // 100 for v in nodes}
    return r


def test_pagerank_matches_reference(spark):
    from mta_rtf_dbt_spark.operators.graph import pagerank

    # mixed graph: a hub, a chain, and two dangling sinks
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (5, 3), (6, 1), (6, 2), (2, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_scaled for r in pagerank(df).collect()}
    assert got == _pagerank_reference(edges)
    # hub 3 (three in-edges) must outrank leaf 7 (one in-edge from a 3-out node)
    assert got[3] > got[7]


def test_pagerank_cycle_is_fixpoint(spark):
    from mta_rtf_dbt_spark.operators.graph import PR_SCALE, pagerank

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    got = {r.node: r.rank_scaled for r in pagerank(df).collect()}
    # uniform cycle: (15*b + 85*b)//100 == b exactly — ranks never move
    assert set(got.values()) == {PR_SCALE // 3}


def test_pagerank_partition_invariant(spark):
    from mta_rtf_dbt_spark.operators.graph import pagerank

    edges = [(i, (i * 7) % 23) for i in range(23)] + [(i, (i + 1) % 23) for i in range(23)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, pagerank(df).collect()))
    b = sorted(map(tuple, pagerank(df.repartition(9)).collect()))
    assert a == b


def test_edge_triangles_fallback_matches_broadcast(spark, monkeypatch):
    """The shuffle-join fallback past GRAFT_ADJ_BROADCAST_MAX must produce
    the identical per-edge closings as the broadcast path — it is the same
    adjacency-intersect plan minus the hint, but a regression here would
    only surface on a cluster whose adjacency outgrew the broadcast budget,
    so it is pinned at test scale."""
    import warnings

    from mta_rtf_dbt_spark.operators import graph as g
    from mta_rtf_dbt_spark.registry import persist

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5), (1, 4), (2, 5)]
    pairs = persist(spark.createDataFrame(edges, "u long, v long"), eager=True)

    def run():
        rows = g._edge_triangles(pairs).collect()
        return sorted((r.u, r.v, sorted(r.zs)) for r in rows)

    base = run()
    monkeypatch.setattr(g, "ADJ_BROADCAST_MAX", 0)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # the fallback warns by design
        assert run() == base
    # sanity: exactly 4 triangles — {1,2,3}, {3,4,5}, {1,3,4}, {2,3,5}
    assert sum(len(z) for _, _, z in base) == 4


def test_graph_triangles_plan_is_broadcast(spark):
    """Under the broadcast budget the triangle plan must contain NO
    sort-merge join — the per-edge intersect pipelines over broadcast
    adjacency and the only wide shuffle is the O(edges) adjacency groupBy.
    Also pins the single-exchange property the broadcast budget relies on
    (r10 ADVICE, closed in r11 by CONSTRUCTION): the probe side is the
    adjacency exploded back into edges, so the plan holds exactly ONE
    adjacency BroadcastExchange — the two-join shape this replaced hinted
    the adjacency twice and AQE's stage cache never deduplicated the pair,
    doubling the aggregate, its shuffle, and the ~3 GB sf10 driver-side
    broadcast collect."""
    import re

    from conftest import SF_SMOKE

    from mta_rtf_dbt_spark.operators.graph import graph_triangles

    df = graph_triangles(spark, SF_SMOKE)
    # run the action FIRST: under AQE the pre-action executedPlan is only
    # the initial adaptive sketch — assert on the final plan (r10 ADVICE)
    assert [tuple(r) for r in df.collect()][0][0] >= 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan and "array_intersect" in plan
    assert "explode" in plan  # the probe is explode(adj), not a second join
    # count DISTINCT adjacency broadcast exchanges: a BroadcastExchange
    # whose child is the final (non-partial) collect_list aggregate.
    # Nested adaptive blocks re-print shared stages, so dedupe by plan_id;
    # the initial-plan sketch contributes at most one extra id — a
    # reintroduced second adjacency join would show 4 distinct ids.
    lines = plan.splitlines()
    adj_ids = set()
    for i, ln in enumerate(lines):
        if "collect_list(" in ln and "partial_collect_list" not in ln:
            for back in range(i - 1, max(0, i - 3), -1):
                m = re.search(r"BroadcastExchange .*plan_id=(\d+)", lines[back])
                if m:
                    adj_ids.add(m.group(1))
                    break
    assert len(adj_ids) <= 2, f"adjacency broadcast duplicated ({adj_ids})"
