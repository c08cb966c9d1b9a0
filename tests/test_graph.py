"""operators.graph semantics: the integer-PageRank, integer-HITS and
hop-bounded shortest-path recurrences against serial Python models
(exact replication — the same discipline as the
BPE and weighted-sampling serial-model tests), fixed-point and
mass-conservation properties, and triangle counts on known graphs."""

from __future__ import annotations

import random

import pyspark.sql.functions as F

from cassaforte_meter_transmission_gen_spark.operators.graph import (
    HITS_ITERS,
    PPB,
    SP_INF,
    hop_bounded_shortest_path,
    integer_hits,
    integer_pagerank,
    triangle_count,
)


def _serial_pagerank(edges: list[tuple], n_iters: int) -> dict:
    """The reference recurrence, serially: int64 multiply →
    truncating divide → sum, dangling redistribution, teleport
    re-base."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    out: dict = {}
    for s, _, w in edges:
        out[s] = out.get(s, 0) + w
    dangling = [n for n in nodes if n not in out]
    big_n = len(nodes)
    r = {n: PPB for n in nodes}
    for _ in range(n_iters):
        inflow = {n: 0 for n in nodes}
        for s, d, w in edges:
            inflow[d] += (r[s] * w) // out[s]
        ds = sum(r[n] for n in dangling)
        r = {
            n: 150_000_000
            + (85 * inflow[n]) // 100
            + (85 * ds) // (100 * big_n)
            for n in nodes
        }
    return r


def _edges_df(spark, triples):
    return spark.createDataFrame(triples, "src INT, dst INT, w BIGINT")


def test_pagerank_uniform_cycle_is_fixed_point(spark):
    """On a symmetric cycle every node forwards its whole rank to one
    successor: 0.15e9 + 0.85e9 = 1e9 exactly, every iteration."""
    r = integer_pagerank(
        _edges_df(spark, [(0, 1, 1), (1, 2, 1), (2, 0, 1)]), n_iters=4
    )
    assert {row.r for row in r.collect()} == {PPB}


def test_pagerank_matches_serial_model_exactly(spark):
    """Bit-exact replication of the serial recurrence on an asymmetric
    weighted graph (hub, spokes, a dangling-in node)."""
    triples = [
        (0, 1, 5),
        (0, 2, 3),
        (1, 2, 7),
        (2, 0, 1),
        (2, 1, 2),
        (3, 0, 4),  # node 3 has out-edges but no in-edges
    ]
    got = {
        row.n: row.r
        for row in integer_pagerank(_edges_df(spark, triples), 3).collect()
    }
    assert got == _serial_pagerank(triples, 3)


def test_pagerank_mass_bounded(spark):
    """Truncating divides only ever LOSE sub-ppb mass: total rank stays
    within (0.9·N, N] billions for a graph with no dangling nodes."""
    triples = [(i, (i * 3 + 1) % 7, (i % 4) + 1) for i in range(7)]
    r = integer_pagerank(_edges_df(spark, triples), 3)
    total = r.agg(F.sum("r").alias("t")).collect()[0].t
    n = r.count()
    assert 0.9 * n * PPB < total <= n * PPB


def test_pagerank_dangling_mass_redistributed(spark):
    """A sink node (in-edges only) must NOT leak its damped mass: the
    dangling sum is redistributed equally each iteration, Spark matches
    the serial model bit-for-bit, and total rank stays within the
    floor-division leak bound 0 ≤ N·PPB − Σr < 7·(E + 2N)."""
    triples = [
        (0, 1, 1),
        (1, 2, 2),
        (1, 3, 1),
        (2, 3, 5),
        (0, 3, 4),  # node 3 is a pure sink: dangling
    ]
    df = integer_pagerank(_edges_df(spark, triples), 3)
    got = {row.n: row.r for row in df.collect()}
    assert got == _serial_pagerank(triples, 3)
    n, e = 4, len(triples)
    total = sum(got.values())
    assert 0 <= n * PPB - total < 7 * (e + 2 * n)


def test_pagerank_all_dangling_except_one(spark):
    """Degenerate near-all-sink graph: mass still conserved within the
    floor bound and matches the serial model."""
    triples = [(0, 1, 1), (0, 2, 1), (0, 3, 1)]
    got = {
        row.n: row.r
        for row in integer_pagerank(_edges_df(spark, triples), 4).collect()
    }
    assert got == _serial_pagerank(triples, 4)
    assert 0 <= 4 * PPB - sum(got.values()) < 7 * (3 + 8)


def _pair_df(spark, pairs):
    return spark.createDataFrame(pairs, "ba STRING, bb STRING")


def _serial_hits(edges: list[tuple]) -> dict:
    """The HITS recurrence, serially and densely: unbounded-int inflow
    sums (the DECIMAL(38,0) / HUGEINT domain), then one truncating
    divide by ``max(1, total // PPB)`` per half-step."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})

    def half(state: dict, fi: int, ti: int) -> dict:
        raw = {n: 0 for n in nodes}
        for e in edges:
            raw[e[ti]] += state[e[fi]] * e[2]
        div = max(1, sum(raw.values()) // PPB)
        return {n: raw[n] // div for n in nodes}

    h = {n: PPB for n in nodes}
    for _ in range(HITS_ITERS):
        a = half(h, 0, 1)
        h = half(a, 1, 0)
    return {n: (h[n], a[n]) for n in nodes}


def test_hits_matches_serial_model_with_zero_scores(spark):
    """Bit-exact replication of the serial HITS recurrence on graphs
    with a source-only node (no in-edges → authority 0) and a
    sink-only node (no out-edges → hub 0): the sparse half-steps must
    densify those to 0, a path the trade corpus never reaches."""
    graphs = [
        [(0, 1, 5), (1, 2, 3), (2, 0, 2), (3, 1, 4), (0, 4, 7), (2, 4, 1)],
        [(10, 20, 1), (11, 20, 2), (11, 21, 3)],  # bipartite
    ]
    for triples in graphs:
        got = {
            row.n: (row.hub, row.auth)
            for row in integer_hits(_edges_df(spark, triples)).collect()
        }
        want = _serial_hits(triples)
        assert got == want, triples
        sources = {s for s, _, _ in triples} - {d for _, d, _ in triples}
        sinks = {d for _, d, _ in triples} - {s for s, _, _ in triples}
        assert sources and sinks
        assert all(got[n][1] == 0 for n in sources)
        assert all(got[n][0] == 0 for n in sinks)


def test_triangle_count_k4(spark):
    """K4 has C(4,3)=4 triangles, 6 edges, 4 nodes."""
    k4 = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    ]
    row = triangle_count(_pair_df(spark, k4)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)


def test_triangle_count_path_has_none(spark):
    row = triangle_count(
        _pair_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    ).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 3, 0)


def test_triangle_hub_star_with_chord(spark):
    """Star around a hub plus one chord = exactly 1 triangle, and the
    degree orientation must point EVERY star edge INTO the hub so the
    hub contributes zero wedges (its oriented out-degree is 0) — the
    arboricity bound that keeps a celebrity node from exploding the
    wedge join at scale."""
    from cassaforte_meter_transmission_gen_spark.operators.graph import (
        orient_by_degree,
    )

    edges = [("h", f"l{i}") for i in range(10)] + [("l0", "l1")]
    df = _pair_df(spark, edges)
    row = triangle_count(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (11, 11, 1)
    out_deg = {
        r.u: r.c
        for r in orient_by_degree(df)
        .groupBy("u")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert "h" not in out_deg  # hub has NO out-edges under orientation
    assert max(out_deg.values()) <= 2


def test_triangle_orientation_preserves_count_on_k5(spark):
    """K5: C(5,3) = 10 triangles — ties everywhere (all degrees equal),
    so the id tiebreak alone must yield a total order and exact count."""
    names = ["a", "b", "c", "d", "e"]
    k5 = [(x, y) for i, x in enumerate(names) for y in names[i + 1 :]]
    row = triangle_count(_pair_df(spark, k5)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 10, 10)


def test_dangling_trade_fixture_really_has_sinks(spark, sf_small):
    """The dangling-PageRank gate is only meaningful if the fixture
    graph actually contains sink nodes — pin that the src % 5 <> 0
    embargo leaves at least one import-only nation at the verification
    SF, and that its final rank exceeds the bare teleport base (it
    received redistributed mass plus inflow)."""
    from cassaforte_meter_transmission_gen_spark.plans import REGISTRY

    out = {
        r.nationkey: r.rank_ppb
        for r in REGISTRY["graph_pagerank_dangling_trade"]
        .fn(spark, sf_small)
        .collect()
    }
    sinks = [k for k in out if k % 5 == 0]
    assert sinks, "fixture lost its dangling nations"
    # a sink keeps teleport + dangling share + inflow — strictly above
    # the bare teleport floor 0.15e9
    assert all(out[k] > 150_000_000 for k in sinks)


def _cost_edges_df(spark, triples):
    return spark.createDataFrame(triples, "src INT, dst INT, cost BIGINT")


def test_shortest_path_two_hop_beats_direct(spark):
    """0→2 direct costs 100; 0→1→2 costs 10+10=20: relaxation must
    re-route. Node 3 is reachable only through 2."""
    from cassaforte_meter_transmission_gen_spark.operators.graph import (
        hop_bounded_shortest_path,
    )

    d = hop_bounded_shortest_path(
        _cost_edges_df(
            spark,
            [(0, 2, 100), (0, 1, 10), (1, 2, 10), (2, 3, 5)],
        ),
        source=0,
        n_hops=3,
    )
    got = {r["n"]: r["d"] for r in d.collect()}
    assert got == {0: 0, 1: 10, 2: 20, 3: 25}


def test_shortest_path_hop_bound_limits_relaxation(spark):
    """With n_hops=1 the 2-hop improvement must NOT be applied: the
    direct edge wins, and the 2-hop-only node stays at SP_INF."""
    from cassaforte_meter_transmission_gen_spark.operators.graph import (
        SP_INF,
        hop_bounded_shortest_path,
    )

    d = hop_bounded_shortest_path(
        _cost_edges_df(
            spark,
            [(0, 2, 100), (0, 1, 10), (1, 2, 10), (2, 3, 5)],
        ),
        source=0,
        n_hops=1,
    )
    got = {r["n"]: r["d"] for r in d.collect()}
    assert got == {0: 0, 1: 10, 2: 100, 3: SP_INF}


def test_shortest_path_unreachable_stays_inf(spark):
    """A node with edges only AWAY from the source component keeps the
    SP_INF sentinel (surfaced as NULL by the registry query)."""
    from cassaforte_meter_transmission_gen_spark.operators.graph import (
        SP_INF,
        hop_bounded_shortest_path,
    )

    d = hop_bounded_shortest_path(
        _cost_edges_df(spark, [(0, 1, 7), (2, 0, 1)]),
        source=0,
        n_hops=4,
    )
    got = {r["n"]: r["d"] for r in d.collect()}
    assert got == {0: 0, 1: 7, 2: SP_INF}


def _serial_shortest_path(edges: list[tuple], source, n_hops: int) -> dict:
    """Hop-bounded Bellman-Ford, serially: every round relaxes each edge
    from the PREVIOUS round's distances (a k-edge path needs k rounds),
    int64 sums, :data:`SP_INF` for an unreached node."""
    nodes = {s for s, _, _ in edges} | {d for _, d, _ in edges}
    dist = {n: 0 if n == source else SP_INF for n in nodes}
    for _ in range(n_hops):
        nxt = dict(dist)
        for s, d, c in edges:
            if dist[s] < SP_INF:
                nxt[d] = min(nxt[d], dist[s] + c)
        dist = nxt
    return dist


def test_shortest_path_matches_serial_model(spark):
    """Bit-exact replication of the serial hop-bounded Bellman-Ford at
    several hop bounds: a node with no out-edges (4), a component the
    source never reaches (5 ⇄ 6), a source that is not in the graph
    (every node stays at SP_INF), and a seeded random graph."""
    rng = random.Random(11)
    rand = {
        (rng.randrange(10), rng.randrange(10)): rng.randint(1, 20)
        for _ in range(30)
    }
    graphs = [
        (
            [(0, 1, 4), (0, 2, 9), (1, 2, 3), (2, 3, 1), (1, 3, 8),
             (3, 4, 2), (2, 4, 7), (5, 6, 1), (6, 5, 2)],
            0,
        ),
        ([(0, 1, 1), (1, 2, 1), (2, 0, 5)], 9),
        ([(s, d, c) for (s, d), c in sorted(rand.items())], 0),
    ]
    for triples, source in graphs:
        edges = _cost_edges_df(spark, triples)
        for n_hops in (1, 2, 5):
            got = {
                r["n"]: r["d"]
                for r in hop_bounded_shortest_path(
                    edges, source, n_hops
                ).collect()
            }
            assert got == _serial_shortest_path(triples, source, n_hops), (
                triples, source, n_hops,
            )
    first = _serial_shortest_path(graphs[0][0], 0, 5)
    assert first[4] < SP_INF and first[5] == first[6] == SP_INF
    assert set(_serial_shortest_path(graphs[1][0], 9, 5).values()) == {SP_INF}


def _und_edges_df(spark, pairs):
    return spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs], "a bigint, b bigint"
    ).distinct()


def test_kcore_clique_survives_intact(spark):
    """A K5 is its own 4-core: no vertex peels, every within-core
    degree is 4."""
    from cassaforte_meter_transmission_gen_spark.operators.graph import (
        kcore_decomposition,
    )

    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    got = {
        r["v"]: r["degree"]
        for r in kcore_decomposition(_und_edges_df(spark, k5), k=4).collect()
    }
    assert got == {v: 4 for v in range(5)}


def test_kcore_path_cascade_peels_to_empty(spark):
    """A 6-path has no 2-core: endpoints peel first, each removal
    exposes a new endpoint — a genuinely multi-round cascade (3 peel
    rounds) ending empty."""
    from cassaforte_meter_transmission_gen_spark.operators.graph import (
        kcore_decomposition,
    )

    path = [(i, i + 1) for i in range(5)]
    got = kcore_decomposition(_und_edges_df(spark, path), k=2).collect()
    assert got == []


def test_kcore_pendant_peels_and_degrees_recount(spark):
    """A triangle with a pendant vertex: the pendant (degree 1) peels,
    the triangle survives as the 2-core, and the reported degrees are
    the WITHIN-core degrees (the ex-neighbor drops from 3 to 2)."""
    from cassaforte_meter_transmission_gen_spark.operators.graph import (
        kcore_decomposition,
    )

    g = [(0, 1), (1, 2), (0, 2), (2, 3)]
    got = {
        r["v"]: r["degree"]
        for r in kcore_decomposition(_und_edges_df(spark, g), k=2).collect()
    }
    assert got == {0: 2, 1: 2, 2: 2}


def test_kcore_converge_or_raise(spark):
    """A peel that cannot finish within max_iters raises instead of
    returning a non-core subgraph (the oracle-unroll safety contract)."""
    import pytest

    from cassaforte_meter_transmission_gen_spark.operators.graph import (
        kcore_decomposition,
    )

    path = [(i, i + 1) for i in range(9)]
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore_decomposition(_und_edges_df(spark, path), k=2, max_iters=2)
