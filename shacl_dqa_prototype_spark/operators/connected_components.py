"""E5 — canonicalization via connected components (alternating
large-star / small-star, Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — the same algorithm GraphFrames uses).

Driver-controlled fixpoint of pure DataFrame jobs; ``localCheckpoint()``
every iteration truncates lineage so plans stay O(1) deep no matter how
many rounds run. Node ids are plain strings (IRIs) — min/least give the
deterministic component representative.

Why this and not min-propagation: large-star halves tall components
geometrically, so convergence is O(log d) rounds even for pathological
chain-shaped components — the property that survives a 100× scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def _large_star(sym: DataFrame) -> DataFrame:
    """For every node u: connect each strictly-larger neighbor v to
    m = min(Γ(u) ∪ {u})."""
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.withColumn("mn", F.least("mn", F.col("src")))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge large→small, then for every node u connect all its
    ≤-neighbors (and u itself) to m = min(N≤(u) ∪ {u})."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst")).distinct()
    mins = oriented.groupBy("src").agg(F.min("dst").alias("mn"))
    out = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .unionByName(mins.select("src", F.col("mn").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return out


def _driver_union_find(rows: list) -> list[tuple[str, str]]:
    """Union-find with path compression; representative = min member.
    Returns (node, component) rows for every non-representative node —
    the same contract as the distributed fixpoint."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for src, dst in rows:
        ra, rb = find(src), find(dst)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = []
    for node in parent:
        root = find(node)
        if root != node:
            out.append((node, root))
    return out


def connected_components(
    edges: DataFrame, max_iter: int = 25,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """edges(src, dst) → mapping(node, component) with component = min
    member of each component. Nodes not in any edge are absent (identity).

    ONE Spark job per iteration: the eager localCheckpoint both truncates
    lineage (each round's plan references the previous result ~8×, so
    without a per-round cut the tree grows 8^k and analysis OOMs) and —
    via observe() riding the same materialization — yields the
    order-insensitive edge-set signature (count + two hash sums,
    collision-safe enough for a fixpoint test) with no extra action.

    Adaptive small-graph path: equivalence-edge sets are usually a tiny
    fraction of the corpus (only entities with sameAs evidence), and the
    iterative loop costs ~1s of fixed driver/job overhead per round. When
    the deduped edge set fits comfortably on the driver
    (< ``driver_threshold`` rows ≈ tens of MB), a single collect + local
    union-find replaces 4-6 distributed rounds; above it, the
    large-star/small-star fixpoint runs — the path that scales to graphs
    that never fit one machine. The edge count that picks the path is an
    observe() on the eager localCheckpoint of the deduped edges, so the
    choice costs no job of its own."""
    from pyspark.sql import Observation

    spark = edges.sparkSession
    obs = Observation("cc-edges")
    cur = _symmetrize(edges).observe(
        obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    n_edges = obs.get["n"]
    if n_edges <= driver_threshold:
        # Arrow both ways: a Row-object collect() + createDataFrame(list)
        # costs tens of driver-seconds per million rows — measured as the
        # dominant NON-SCALING term of the 8M-doc construction (the 2- and
        # 8-core configs paid the identical ~80 s, flattening the
        # strong-scaling curve). toPandas()/createDataFrame(pandas) ride
        # the session's Arrow exchange instead.
        edges_pdf = cur.toPandas()
        cur.unpersist()  # collected; the checkpoint blocks are dead weight
        rows = _driver_union_find(
            list(zip(edges_pdf["src"], edges_pdf["dst"])))
        if not rows:
            return spark.createDataFrame([], "node string, component string")
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["node", "component"]),
            schema="node string, component string")
    prev_sig = None
    converged = False
    for i in range(max_iter):
        sym = _symmetrize(cur)
        after = _small_star(_large_star(sym).unionByName(sym).distinct())
        obs = Observation(f"cc-{i}")
        after = after.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # decimal sums: long would overflow under ANSI mode
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h1"),
            F.sum(F.xxhash64("dst", "src", F.lit(7)).cast("decimal(38,0)")).alias("h2"),
        )
        prev = cur
        cur = after.localCheckpoint(eager=True)  # one action per round
        # the new checkpoint is materialized (eager), so the previous
        # round's edge-set blocks are unreachable — release them instead of
        # letting up to max_iter edge-set copies pile up in storage memory
        prev.unpersist()
        m = obs.get
        cur_sig = (m["n"], m["h1"], m["h2"])
        if cur_sig == prev_sig:
            converged = True
            break
        prev_sig = cur_sig
    if not converged:
        # falling through would return an INTERMEDIATE edge set as if it
        # were the final node→component mapping (multiple rows per node,
        # non-minimal representatives) — canonicalize_triples would then
        # fan out and rewrite subjects inconsistently with no warning
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "large-star/small-star rounds; raise max_iter")
    return cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subject and IRI-object columns through the CC mapping;
    identity for unmapped nodes.

    The mapping covers only nodes with equivalence edges — usually tiny
    relative to T, so the planner (parquet size stats + AQE runtime stats)
    picks a broadcast join on its own. The hint is NOT forced: at
    10^12-doc scale an equivalence map can exceed executor memory, and a
    hard-coded broadcast hint would OOM exactly where a shuffle join (both
    sides hashed on the node id) still works."""
    t = (
        triples.join(mapping.withColumnsRenamed({"node": "s", "component": "s_canon"}), "s", "left")
        .withColumn("s", F.coalesce("s_canon", "s"))
        .drop("s_canon")
    )
    t = (
        t.join(mapping.withColumnsRenamed({"node": "o", "component": "o_canon"}), "o", "left")
        .withColumn(
            "o",
            F.when(F.col("o_kind") == "iri", F.coalesce("o_canon", "o")).otherwise(F.col("o")),
        )
        .drop("o_canon")
    )
    return t.dropDuplicates(["s", "p", "o", "o_kind", "o_dtype", "o_lang"])
