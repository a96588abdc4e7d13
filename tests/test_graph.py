"""PageRank (operators/graph.py): closed-form hand cases, an exact
numpy power-iteration replay (same fixed iteration count, same update),
dangling-mass redistribution, and the nodes= universe widening."""

import numpy as np
import pytest

from sgdnet_spark.operators import graph as G


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_two_node_cycle_is_uniform(spark):
    e = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    r = _ranks(G.pagerank(e, n_iter=5))
    assert r["a"] == pytest.approx(0.5, abs=1e-12)
    assert r["b"] == pytest.approx(0.5, abs=1e-12)


def test_numpy_power_iteration_replay(spark):
    # deterministic weighted digraph with a dangling node (3 has no
    # out-edges) — replay the exact same fixed-iteration update in numpy
    edges = [
        (0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0),
        (2, 3, 1.0), (1, 3, 5.0), (4, 0, 2.0), (4, 3, 1.0),
    ]
    d, iters, n = 0.85, 9, 5
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = _ranks(G.pagerank(e, weight="w", damping=d, n_iter=iters))

    P = np.zeros((n, n))
    for s, t, w in edges:
        P[s, t] += w
    out = P.sum(axis=1)
    dangling = out == 0
    P[~dangling] /= out[~dangling, None]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - d) / n + d * (P.T @ r + r[dangling].sum() / n)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for i in range(n):
        assert got[i] == pytest.approx(r[i], abs=1e-9), f"node {i}"


def test_nodes_param_widens_universe(spark):
    # an isolated node receives teleport + dangling shares but no link
    # mass; without nodes= it would not exist at all
    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    nodes = spark.createDataFrame([("a",), ("b",), ("iso",)], ["node"])
    r = _ranks(G.pagerank(e, n_iter=3, nodes=nodes))
    assert set(r) == {"a", "b", "iso"}
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-12)
    assert r["b"] > r["a"] > 0 and r["iso"] > 0
    r2 = _ranks(G.pagerank(e, n_iter=3))
    assert set(r2) == {"a", "b"}


def test_parameter_validation(spark):
    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError, match="damping"):
        G.pagerank(e, damping=1.0)
    with pytest.raises(ValueError, match="n_iter"):
        G.pagerank(e, n_iter=0)


def test_source_rank_entry_shape(spark, sf_dir):
    from sgdnet_spark.queries import SUBQUERIES

    df = SUBQUERIES["source_rank"](spark, sf_dir)
    rows = df.collect()
    assert df.columns == ["mode", "source", "in_w", "rank"]
    # one row per source per mode: pr/ppr teleports + hits hub/auth
    assert len(rows) == 80
    assert {r["mode"] for r in rows} == {"pr", "ppr", "hub", "auth"}
    for mode in ("pr", "ppr"):
        total = sum(r["rank"] for r in rows if r["mode"] == mode)
        assert total == pytest.approx(1.0, abs=1e-4), mode  # 6dp rounding
    for mode in ("hub", "auth"):  # HITS is L2-normalized, not L1
        sq = sum(r["rank"] ** 2 for r in rows if r["mode"] == mode)
        assert sq == pytest.approx(1.0, abs=1e-4), mode
    assert sum(r["in_w"] for r in rows) > 0
    # the personalized stage concentrates rank on its seed set (the 3
    # lexicographically-first sources)
    seeds = sorted({r["source"] for r in rows})[:3]
    ppr = {r["source"]: r["rank"] for r in rows if r["mode"] == "ppr"}
    pr = {r["source"]: r["rank"] for r in rows if r["mode"] == "pr"}
    assert min(ppr[s] for s in seeds) > max(pr.values())


def test_local_and_distributed_solvers_agree(spark):
    # a 40-node hash-derived digraph with parallel edges, weights, and
    # a few dangling nodes: both solver paths apply the same update
    edges = [
        (i % 40, (i * 7 + 3) % 37, float(1 + i % 5)) for i in range(300)
    ]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    loc = _ranks(G.pagerank(e, weight="w", n_iter=8, solver="local"))
    dist = _ranks(G.pagerank(e, weight="w", n_iter=8, solver="distributed"))
    assert set(loc) == set(dist)
    for k in loc:
        assert loc[k] == pytest.approx(dist[k], abs=1e-12), f"node {k}"
    with pytest.raises(ValueError, match="solver"):
        G.pagerank(e, solver="bogus")


def test_nodes_param_unions_with_endpoints(spark):
    # nodes= WIDENS the universe: a frame omitting an edge endpoint must
    # not crash the local solver or leak rank mass from the distributed
    # one — endpoints are unioned in, and sum(rank) == 1 on both paths
    e = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")],
                              ["src", "dst"])
    nodes = spark.createDataFrame([("a",), ("b",)], ["node"])  # omits c
    for solver in ("local", "distributed"):
        r = _ranks(G.pagerank(e, n_iter=4, nodes=nodes, solver=solver))
        assert set(r) == {"a", "b", "c"}, solver
        assert sum(r.values()) == pytest.approx(1.0, abs=1e-12), solver


def test_teleport_numpy_replay_and_solver_equality(spark):
    # PPR on a weighted digraph with a dangling node: exact numpy replay
    # of the personalized update, and local == distributed solver
    edges = [
        (0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0),
        (2, 3, 1.0), (1, 3, 5.0), (4, 0, 2.0), (4, 3, 1.0),
    ]
    d, iters, n = 0.85, 9, 5
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    tele = spark.createDataFrame([(0, 2.0), (4, 1.0)], ["node", "tw"])
    got_loc = _ranks(G.pagerank(e, weight="w", damping=d, n_iter=iters,
                                teleport=tele, solver="local"))
    got_dist = _ranks(G.pagerank(e, weight="w", damping=d, n_iter=iters,
                                 teleport=tele, solver="distributed"))

    P = np.zeros((n, n))
    for s, t_, w in edges:
        P[s, t_] += w
    out = P.sum(axis=1)
    dangling = out == 0
    P[~dangling] /= out[~dangling, None]
    t = np.zeros(n)
    t[0], t[4] = 2.0, 1.0
    t /= t.sum()
    r = t.copy()
    for _ in range(iters):
        r = (1 - d) * t + d * (P.T @ r + r[dangling].sum() * t)
    assert sum(got_loc.values()) == pytest.approx(1.0, abs=1e-9)
    for i in range(n):
        assert got_loc[i] == pytest.approx(r[i], abs=1e-9), f"node {i}"
        assert got_dist[i] == pytest.approx(got_loc[i], abs=1e-9), f"node {i}"


def test_teleport_seed_set_localizes_rank(spark):
    # two disconnected 3-cycles; teleporting onto cycle A's seed ranks
    # every A node above every B node (the trusted-seed curation use),
    # while uniform teleport ranks them identically
    cyc = [("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
           ("b1", "b2"), ("b2", "b3"), ("b3", "b1")]
    e = spark.createDataFrame(cyc, ["src", "dst"])
    seeds = spark.createDataFrame([("a1",)], ["node"])
    r = _ranks(G.pagerank(e, n_iter=20, teleport=seeds))
    assert min(r["a1"], r["a2"], r["a3"]) > max(r["b1"], r["b2"], r["b3"])
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-9)
    # 1-column seed frames and 2-column uniform weights agree
    seeds2 = spark.createDataFrame([("a1", 7.5)], ["node", "w"])
    r2 = _ranks(G.pagerank(e, n_iter=20, teleport=seeds2))
    for k in r:
        assert r2[k] == pytest.approx(r[k], abs=1e-12)


def test_teleport_widens_universe_and_uniform_matches_classic(spark):
    # a teleport node outside the edge set joins the universe; and a
    # uniform teleport over ALL nodes reproduces classic PageRank exactly
    e = spark.createDataFrame([("a", "b"), ("b", "a"), ("a", "c")],
                              ["src", "dst"])
    iso = spark.createDataFrame([("z", 1.0), ("a", 1.0), ("b", 1.0),
                                 ("c", 1.0)], ["node", "tw"])
    r = _ranks(G.pagerank(e, n_iter=12, teleport=iso))
    classic = _ranks(G.pagerank(e, n_iter=12,
                                nodes=iso.select("node")))
    assert set(r) == {"a", "b", "c", "z"}
    for k in classic:
        assert r[k] == pytest.approx(classic[k], abs=1e-12)


def test_teleport_validation(spark):
    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    bad3 = spark.createDataFrame([("a", 1.0, 2.0)], ["node", "x", "y"])
    with pytest.raises(ValueError, match="1 .*or 2"):
        G.pagerank(e, teleport=bad3)
    zero = spark.createDataFrame([("a", 0.0)], ["node", "tw"])
    with pytest.raises(ValueError, match="positive-weight"):
        G.pagerank(e, teleport=zero)


def test_teleport_random_graphs_match_numpy_replay(spark):
    # random digraphs x random positive seed weights: the local solver
    # == the numpy personalized update, rank mass sums to 1, and nodes
    # outside the seed set with no in-links get rank 0
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 6), st.integers(0, 6), st.floats(0.5, 3.0)),
            min_size=1, max_size=14,
        ),
        seeds=st.dictionaries(st.integers(0, 6), st.floats(0.5, 2.0),
                              min_size=1, max_size=3),
        d=st.sampled_from([0.6, 0.85]),
    )
    def run(edges, seeds, d):
        iters = 6
        e = spark.createDataFrame(edges, ["src", "dst", "w"])
        tele = spark.createDataFrame(list(seeds.items()), ["node", "tw"])
        got = _ranks(G.pagerank(e, weight="w", damping=d, n_iter=iters,
                                teleport=tele, solver="local"))

        nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges}
                       | set(seeds))
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        P = np.zeros((n, n))
        for s, t_, w in edges:
            P[idx[s], idx[t_]] += w
        out = P.sum(axis=1)
        dang = out == 0
        P[~dang] /= out[~dang, None]
        t = np.zeros(n)
        for v, w in seeds.items():
            t[idx[v]] = w
        t /= t.sum()
        r = t.copy()
        for _ in range(iters):
            r = (1 - d) * t + d * (P.T @ r + r[dang].sum() * t)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
        for v in nodes:
            assert got[v] == pytest.approx(r[idx[v]], abs=1e-9), v
            if t[idx[v]] == 0 and not P[:, idx[v]].any():
                assert got[v] == pytest.approx(0.0, abs=1e-12), v

    run()


# --- HITS hubs/authorities ---


def test_hits_star_closed_form(spark):
    """Two hubs citing one authority: auth(c) = 1, hub(a) = hub(b) =
    1/sqrt(2), everything else 0 — the textbook fixed point, reached
    exactly after one normalized iteration."""
    e = spark.createDataFrame([("a", "c"), ("b", "c")], ["src", "dst"])
    got = {r["node"]: (r["hub"], r["auth"]) for r in G.hits(e, n_iter=3).collect()}
    assert got["c"][1] == pytest.approx(1.0, abs=1e-12)
    assert got["a"][0] == pytest.approx(1 / np.sqrt(2), abs=1e-12)
    assert got["b"][0] == pytest.approx(1 / np.sqrt(2), abs=1e-12)
    assert got["c"][0] == pytest.approx(0.0, abs=1e-12)
    assert got["a"][1] == pytest.approx(0.0, abs=1e-12)


def _hits_np(edges, universe, iters):
    idx = {v: i for i, v in enumerate(sorted(universe, key=str))}
    n = len(idx)
    si = np.array([idx[s] for s, t, w in edges])
    ti = np.array([idx[t] for s, t, w in edges])
    w = np.array([w for s, t, w in edges], dtype=float)
    hub = np.full(n, 1.0 / np.sqrt(n))
    for _ in range(iters):
        auth = np.zeros(n)
        np.add.at(auth, ti, w * hub[si])
        z = np.sqrt((auth**2).sum())
        auth = auth / z if z > 0 else auth
        hub = np.zeros(n)
        np.add.at(hub, si, w * auth[ti])
        z = np.sqrt((hub**2).sum())
        hub = hub / z if z > 0 else hub
    return {v: (hub[i], auth[i]) for v, i in idx.items()}


def test_hits_numpy_replay_and_solver_equality(spark):
    edges = [
        (0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0),
        (2, 3, 1.0), (1, 3, 5.0), (4, 0, 2.0), (4, 3, 1.0),
    ]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    want = _hits_np(edges, {0, 1, 2, 3, 4}, 7)
    for solver in ("local", "distributed"):
        got = {
            r["node"]: (r["hub"], r["auth"])
            for r in G.hits(e, weight="w", n_iter=7, solver=solver).collect()
        }
        for v, (h, a) in want.items():
            assert got[v][0] == pytest.approx(h, abs=1e-9), (solver, v)
            assert got[v][1] == pytest.approx(a, abs=1e-9), (solver, v)


def test_hits_random_graphs_match_numpy_replay(spark):
    rng = np.random.default_rng(7)
    for trial in range(3):
        n = int(rng.integers(4, 9))
        m = int(rng.integers(n, 3 * n))
        edges = [
            (int(rng.integers(0, n)), int(rng.integers(0, n)),
             float(rng.integers(1, 5)))
            for _ in range(m)
        ]
        e = spark.createDataFrame(edges, ["src", "dst", "w"])
        universe = {s for s, *_ in edges} | {t for _, t, _ in edges}
        want = _hits_np(edges, universe, 6)
        got = {
            r["node"]: (r["hub"], r["auth"])
            for r in G.hits(e, weight="w", n_iter=6).collect()
        }
        assert set(got) == set(want)
        for v in want:
            assert got[v][0] == pytest.approx(want[v][0], abs=1e-9), trial
            assert got[v][1] == pytest.approx(want[v][1], abs=1e-9), trial


def test_hits_nodes_widening_and_edgeless(spark):
    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    extra = spark.createDataFrame([("z",)], ["node"])
    got = {r["node"]: (r["hub"], r["auth"]) for r in G.hits(e, nodes=extra, n_iter=2).collect()}
    assert set(got) == {"a", "b", "z"}
    assert got["z"] == (0.0, 0.0)
    # edgeless graph: well-defined all-zero scores, no div-by-zero
    empty = spark.createDataFrame([], "src string, dst string")
    z = G.hits(empty, nodes=extra, n_iter=2, solver="distributed").collect()
    assert [(r["hub"], r["auth"]) for r in z] == [(0.0, 0.0)]
    # fully empty universe: both solvers return an empty frame (the
    # distributed init must not divide by sqrt(0))
    for solver in ("local", "distributed"):
        assert G.hits(empty, n_iter=1, solver=solver).collect() == []


def test_hits_validation(spark):
    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError, match="n_iter"):
        G.hits(e, n_iter=0)
    with pytest.raises(ValueError, match="solver"):
        G.hits(e, solver="nope")


def test_duplicate_components_pointer_jumping_chain(spark):
    """Pointer jumping makes convergence O(log diameter) — a 300-node
    path graph converges inside 12 rounds (pure one-hop min-propagation
    would need ~300) with the correct single component, and NO
    split-labels warning fires."""
    import warnings

    from sgdnet_spark.operators.dedup import duplicate_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], "id_a long, id_b long"
    )
    with warnings.catch_warnings():
        # only the operator's convergence warning fails the test: a
        # blanket "error" also escalates the ResourceWarning of PySpark's
        # own result socket when it is garbage-collected mid-collect
        warnings.filterwarnings("error", message="duplicate_components: not converged")
        out = duplicate_components(pairs, max_iters=12).collect()
    assert len(out) == 300
    assert {r["canonical"] for r in out} == {0}
