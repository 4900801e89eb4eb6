"""Iterative-join graph closure operators.

The reference resolves redirect chains by chasing LMDB pointers with
a visited-set cycle check (util/RedirectCache.java:156-198). The
distributed equivalents here:

- ``resolve_chains``: pointer jumping (ptr ← ptr∘ptr) — O(log L)
  shuffle-join rounds for chains of length L.
- ``connected_components``: large-star/small-star over undirected
  edges — canonicalization for surface-form equivalence (cycles are
  simply components; min-id is the canonical, a documented deviation
  from grisp's -1-on-cycle).

Both first collect at most ``DRIVER_CC_THRESHOLD`` + 1 edges: that one
job both picks the regime and, at or under the threshold, carries the
whole edge list to a driver-side pass. Above it, the iterative rounds
cut lineage every round with ``localCheckpoint`` so the plan doesn't
grow exponentially — the per-round shuffle is keyed by node id, so at
100 TB the cost is rounds × one hash shuffle of the edge set, and AQE
coalesces the (shrinking) frontier.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_chains(edges: DataFrame, max_rounds: int = 16) -> DataFrame:
    """(src, dst) pointer table → (src, terminal). Terminal nodes are
    rows with src == dst (or dst absent from src column). Cycle-safe:
    pointer jumping converges inside a cycle to a fixed orbit; callers
    wanting grisp's drop-on-cycle behavior can anti-join terminals
    against cycle members.

    Like ``connected_components``, redirect/pointer tables are usually
    broadcast-sized even on a 100 TB corpus (the reference's redirect
    set is ~40M rows, RedirectCache.java:59) — at or under
    DRIVER_CC_THRESHOLD edges the chain walk runs on the driver on the
    edges ``_driver_edges`` already collected, instead of O(log L)
    iterative join rounds, each of which costs a full job of
    scheduling latency (the q13 chain graph resolves in 6 rounds ≈ 12
    jobs distributed, measured in r8, vs 1 job on the driver). The
    driver walk simulates the SAME pointer doubling (same max_rounds,
    same orbit behavior on cycles), so results are identical in every
    regime; a non-functional pointer table (duplicate src) falls back
    to the distributed path, whose join semantics duplicates
    exercise."""
    pdf = _driver_edges(edges)
    if pdf is not None and not pdf["src"].duplicated().any():
        spark = edges.sparkSession
        ptr = dict(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
        for _ in range(max_rounds):
            moved = False
            nxt = {}
            for s, d in ptr.items():
                nd = ptr.get(d, d)
                if nd != d:
                    moved = True
                nxt[s] = nd
            ptr = nxt
            if not moved:
                break
        # Arrow path (pandas input): the list-of-tuples overload
        # builds a PythonRDD whose tasks each need a pickle-mode
        # python worker — a 32-fork spawn storm serialized on the
        # SparkEnv.createPythonWorker monitor, measured 1.2-4.6 s
        # inside q13's timed window (jstack evidence in
        # OPTIMIZATION_r08.md). pandas → Arrow converts on the
        # driver; the scan tasks stay pure JVM.
        out = pd.DataFrame(
            sorted((int(s), int(d)) for s, d in ptr.items()),
            columns=["src", "terminal"],
            dtype="int64",
        )
        return spark.createDataFrame(out, "src long, terminal long")
    cur = edges.select("src", "dst")
    for _ in range(max_rounds):
        a, b = cur.alias("a"), cur.alias("b")
        # the moved flag rides the round's own join (advanced iff the
        # jump target exists and differs) — probing convergence via a
        # second nxt⋈cur join would double the per-round shuffle cost
        nxt = a.join(b, F.col("a.dst") == F.col("b.src"), "left").select(
            F.col("a.src").alias("src"),
            F.coalesce(F.col("b.dst"), F.col("a.dst")).alias("dst"),
            (
                F.col("b.dst").isNotNull() & (F.col("b.dst") != F.col("a.dst"))
            ).alias("moved"),
        )
        # non-eager checkpoint: the convergence probe below is the
        # materializing action, so each round costs ONE job (the r02
        # shape — eager checkpoint + separate filter/count — ran two
        # jobs per round and regressed q13 by 71%)
        nxt = nxt.localCheckpoint(eager=False)
        moved = nxt.agg(F.max("moved")).first()[0]
        cur = nxt.select("src", "dst")
        if not moved:
            break
    return cur.select("src", F.col("dst").alias("terminal"))


def bfs_depth(
    edges: DataFrame, roots: DataFrame, max_rounds: int = 32
) -> DataFrame:
    """Min-hop depth of every reachable node from a root set, by
    level-synchronous BFS over directed (src → dst) edges — the
    analogue of the reference's page/category depth summary
    (PageDepthSummary semantics: distance from the root category).

    ``roots`` is an (id) frame at depth 0. Each round expands the
    frontier one hop (edge join), drops already-seen nodes
    (anti-join against the accumulated depth table), and stops when
    the frontier empties; the emptiness probe is the same count that
    materializes the round's checkpoint, so a round costs one job.
    Level order guarantees first arrival IS min depth. Raises only if
    the frontier can STILL expand after ``max_rounds`` rounds (a graph
    whose eccentricity equals max_rounds completes; a silent cap would
    mislabel deeper nodes as unreachable)."""
    # the edge plan is re-joined every round — materialize it once or
    # each round re-runs the caller's whole derivation pipeline
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    depth = roots.select("id", F.lit(0).alias("depth")).localCheckpoint(
        eager=True
    )
    frontier = depth
    for rnd in range(1, max_rounds + 2):
        nxt = (
            frontier.join(edges, frontier.id == edges.src)
            .select(F.col("dst").alias("id"), F.lit(rnd).alias("depth"))
            .distinct()
            .join(depth.select("id"), "id", "left_anti")
            .localCheckpoint(eager=False)
        )
        n_new = nxt.count()
        if n_new == 0:
            return depth
        if rnd > max_rounds:
            raise RuntimeError(
                f"bfs_depth did not converge in {max_rounds} rounds"
            )
        depth = depth.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    raise AssertionError("unreachable")


DRIVER_CC_THRESHOLD = 2_000_000


def _driver_edges(edges: DataFrame) -> pd.DataFrame | None:
    """The regime decision and the driver path's input in ONE job:
    collect at most DRIVER_CC_THRESHOLD + 1 (src, dst) rows. At or
    under the threshold the frame IS the whole edge list; over it,
    None and the caller goes distributed. The threshold is read at
    call time. Cost above the threshold: up to 2M + 1 rows (~32 MB)
    reach the driver and are dropped before the distributed path
    starts — the price of a driver-regime call being one job rather
    than a size-probe job plus a collect job."""
    pdf = edges.select("src", "dst").limit(DRIVER_CC_THRESHOLD + 1).toPandas()
    return pdf if len(pdf) <= DRIVER_CC_THRESHOLD else None


def _canon_edges(df: DataFrame) -> DataFrame:
    """Distinct high→low orientation (src > dst), self-loops dropped."""
    return (
        df.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Undirected edges (src, dst) → (id, component) with component =
    min node id in the component. Every node appearing in ``edges``
    (including self-loop-only nodes) gets a row.

    Equivalence graphs are usually broadcast-sized even when the
    corpus is 100 TB (the reference's redirect set is ~40M rows,
    RedirectCache.java:59) — at or under DRIVER_CC_THRESHOLD edges we
    union-find on the driver in one pass over the edges
    ``_driver_edges`` collected, the same driver-side-cache strategy
    grisp uses for redirects (DumpExtractor.java:325-344).

    Above it, large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): O(log²·) rounds
    regardless of graph diameter, where min-label propagation needs
    ~diameter rounds. Each round is two grouped aggregations + joins
    over the (shrinking) edge set; at fixpoint every edge is (node,
    component min), i.e. a star. Raises if ``max_rounds`` is exhausted
    before the fixpoint — a non-star edge set would silently mislabel
    components."""
    pdf = _driver_edges(edges)
    if pdf is not None:
        return _driver_union_find(edges.sparkSession, pdf)
    all_nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    # non-eager: the count below materializes the checkpoint (one job)
    cur = _canon_edges(edges).localCheckpoint(eager=False)
    n_cur = cur.count()
    converged = False
    for _ in range(max_rounds):
        # large-star: every node u attaches its LARGER neighbors to
        # m = min(Γ(u) ∪ {u})
        sym = cur.union(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # small-star: on high→low edges, every node u attaches its
        # smaller neighbors AND itself to m = min(Γ≤(u) ∪ {u})
        hi_lo = _canon_edges(large)
        smins = hi_lo.groupBy("src").agg(F.min("dst").alias("m"))
        small = hi_lo.join(smins, "src").select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        ).union(smins.select("src", F.col("m").alias("dst")))
        nxt = _canon_edges(small).localCheckpoint(eager=False)
        # both sides are distinct sets: equal size + empty one-sided
        # difference ⟹ equal (one count + one probe, not two probes);
        # the count doubles as the checkpoint materializer
        n_nxt = nxt.count()
        changed = n_nxt != n_cur or nxt.exceptAll(cur).limit(1).count() > 0
        cur, n_cur = nxt, n_nxt
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # fixpoint stars: (node → component min) for every non-root node;
    # nodes with no surviving edges (isolated / self-loop-only) map to
    # themselves, like the driver union-find
    roots = cur.select(F.col("dst").alias("id"), F.col("dst").alias("component"))
    members = cur.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    stars = members.union(roots).distinct()
    # eager: like the driver path, the result is materialized before
    # returning, so callers may unpersist ``edges`` right after
    return (
        all_nodes.join(stars, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
        .localCheckpoint(eager=True)
    )


def union_find_pairs(pairs) -> dict[int, int]:
    """Pure-python min-id union-find over (src, dst) pairs: the single
    implementation behind both the driver-side CC regime here and the
    fused-broadcast canonical map (canonicalize.union_find_mapping).
    Returns {node: component} for every node that appears in a pair
    (component = min id in the component)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in pairs:
        ra, rb = find(int(s)), find(int(d))
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def _driver_union_find(spark, pdf: pd.DataFrame) -> DataFrame:
    """Exact same (id, component) contract, computed on the driver
    from the collected (src, dst) frame."""
    comp = union_find_pairs(zip(pdf["src"], pdf["dst"]))
    # pandas input → Arrow conversion on the driver; the list overload
    # would spawn pickle-mode python workers per partition (see
    # resolve_chains' driver path)
    out = pd.DataFrame(
        sorted(comp.items()), columns=["id", "component"], dtype="int64"
    )
    return spark.createDataFrame(out, "id long, component long")
