"""Closure operators: driver fast path ≡ distributed iterative path.

Patching ``closure.DRIVER_CC_THRESHOLD`` to 0 puts every non-empty
edge set over the threshold, which forces the distributed path
(large-star/small-star CC, pointer-jumping chains)."""

import random

import pytest

from grisp_spark.operators import closure
from grisp_spark.operators.closure import connected_components, resolve_chains
from grisp_spark.plans import physical_plan


def _edges(spark):
    # two chains, one cycle, one isolated self-loop
    rows = [(90, 91), (91, 0), (92, 93), (93, 94), (94, 1), (95, 96), (96, 95), (7, 7)]
    return spark.createDataFrame(rows, "src long, dst long")


def _cc(edges, **kw):
    return {(r.id, r.component) for r in connected_components(edges, **kw).collect()}


def _chains(edges):
    return {(r.src, r.terminal) for r in resolve_chains(edges).collect()}


def _force_distributed(monkeypatch):
    monkeypatch.setattr(closure, "DRIVER_CC_THRESHOLD", 0)


def test_cc_driver_path(spark):
    expected = {
        (0, 0), (90, 0), (91, 0),
        (1, 1), (92, 1), (93, 1), (94, 1),
        (95, 95), (96, 95), (7, 7),
    }
    assert _cc(_edges(spark)) == expected


def test_cc_distributed_path_matches_driver(spark, monkeypatch):
    """Over the threshold the result comes from the distributed path
    (no driver-built LocalTableScan) and equals the driver path's."""
    e = _edges(spark)
    driver = _cc(e)
    _force_distributed(monkeypatch)
    out = connected_components(e)
    assert "LocalTableScan" not in physical_plan(out)
    assert {(r.id, r.component) for r in out.collect()} == driver


def test_cc_star_matches_driver_on_fixture(spark, monkeypatch):
    """Large-star/small-star agrees with union-find on the chain/
    cycle/self-loop fixture — identical contract, including the
    self-loop-only node mapping to itself."""
    e = _edges(spark)
    driver = _cc(e)
    assert (7, 7) in driver
    _force_distributed(monkeypatch)
    assert _cc(e) == driver


def test_cc_distributed_chain_longer_than_20_rounds(spark, monkeypatch):
    """A 31-node chain (diameter 30) forced distributed labels every
    node with 0: more hops than a 20-round propagation cap covers, and
    the result must come from the distributed path (a driver-built
    frame is a LocalTableScan)."""
    _force_distributed(monkeypatch)
    chain = spark.range(30).selectExpr("id AS src", "id + 1 AS dst")
    out = connected_components(chain)
    assert "LocalTableScan" not in physical_plan(out)
    assert {(r.id, r.component) for r in out.collect()} == {(i, 0) for i in range(31)}


def test_cc_star_raises_when_unconverged(spark, monkeypatch):
    """Exhausting max_rounds before the fixpoint must raise — the
    non-star edge set would silently mislabel components."""
    _force_distributed(monkeypatch)
    rows = [(i, i + 1) for i in range(300)]
    e = spark.createDataFrame(rows, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_rounds=1)


def test_cc_star_long_chain_few_rounds(spark, monkeypatch):
    """The point of the star algorithm: a diameter-300 chain converges
    in far fewer than 300 rounds (min-label propagation would need
    ~diameter rounds). max_rounds=12 would time out propagation but
    is ample for O(log²) star convergence."""
    _force_distributed(monkeypatch)
    rows = [(i, i + 1) for i in range(300)]
    e = spark.createDataFrame(rows, "src long, dst long")
    assert _cc(e, max_rounds=12) == {(i, 0) for i in range(301)}


def test_cc_star_random_graph_matches_driver(spark, monkeypatch):
    rng = random.Random(17)
    rows = [(rng.randrange(120), rng.randrange(120)) for _ in range(150)]
    rows = [(a, b) for a, b in rows if a != b]
    e = spark.createDataFrame(rows, "src long, dst long")
    driver = _cc(e)
    _force_distributed(monkeypatch)
    assert _cc(e) == driver


def test_resolve_chains_terminal(spark):
    rows = [(90, 91), (91, 0), (0, 0), (92, 93), (93, 1), (1, 1)]
    e = spark.createDataFrame(rows, "src long, dst long")
    assert _chains(e) == {(90, 0), (91, 0), (0, 0), (92, 1), (93, 1), (1, 1)}


@pytest.mark.parametrize(
    "rows",
    [
        [(90, 91), (91, 0), (0, 0), (92, 93), (93, 1), (1, 1)],
        # a 3-cycle with a tail into it: both walks keep orbiting for
        # max_rounds and must stop on the same orbit position
        [(1, 2), (2, 3), (3, 1), (4, 1), (5, 6)],
        [(i, i + 1) for i in range(200)],
    ],
    ids=["fixture", "cycle_with_tail", "chain200"],
)
def test_resolve_chains_pointer_jumping_matches_driver(spark, monkeypatch, rows):
    e = spark.createDataFrame(rows, "src long, dst long")
    driver = _chains(e)
    _force_distributed(monkeypatch)
    assert _chains(e) == driver


def test_bfs_depth_min_hop_and_bounds(spark):
    """Diamond graph: a node reachable at depths 2 and 3 must get 2
    (level order = min-hop); unreachable nodes are absent; cycles
    don't loop (anti-join drops seen nodes); exceeding max_rounds
    raises instead of silently capping."""
    from grisp_spark.operators.closure import bfs_depth

    # 1→2→4, 1→3, 3→4 (diamond), 4→1 (cycle back), 9→10 unreachable
    edges = spark.createDataFrame(
        [(1, 2), (2, 4), (1, 3), (3, 4), (4, 1), (9, 10)],
        "src long, dst long",
    )
    roots = spark.createDataFrame([(1,)], "id long")
    got = {r.id: r.depth for r in bfs_depth(edges, roots).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}

    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        bfs_depth(chain, spark.createDataFrame([(0,)], "id long"), max_rounds=3)
    # eccentricity EXACTLY max_rounds completes (the raise fires only
    # when the frontier can still expand afterwards)
    short = spark.createDataFrame(
        [(i, i + 1) for i in range(3)], "src long, dst long"
    )
    got3 = {
        r.id: r.depth
        for r in bfs_depth(
            short, spark.createDataFrame([(0,)], "id long"), max_rounds=3
        ).collect()
    }
    assert got3 == {0: 0, 1: 1, 2: 2, 3: 3}
