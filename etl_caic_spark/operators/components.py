"""Connected components — the one CC operator. It turns pairwise
evidence (near-dup pairs, neighbor pairs, graph edges) into groups:
every node is labeled with the minimum node id it can reach. Consumers:
dedup_groups below (dedup_groups, corpus_curation_pipeline,
link_entity_resolution), geo_dbscan_core (plans/warehouseq.py),
graph_connected_components (plans/wave9c.py), dedup_cluster_canonical
(plans/wave9d.py) and dedup_semantic_embedding (plans/wave11b.py).

Size gate: when the raw edge list has at most ``driver_edge_cutoff``
rows (1M pairs ≈ 16 MB of longs, trivially driver-resident), ONE
bounded ``limit(cutoff+1).collect()`` job feeds a driver union-find,
and the distributed loop's per-round fixed cost (a take(1) convergence
probe, a contraction join chain, plus a checkpoint + take(1) per
pointer-doubling jump — a dozen serial blocking jobs even for a
duplicate-clique graph) never runs. Union-find is insensitive to
duplicate, self-loop and asymmetric edges, so the raw pairs ARE its
input: the small regime runs no symmetrize or distinct shuffle. Gating
on raw pairs is conservative — a heavily duplicated list can exceed the
cutoff while its distinct edge set would fit — which only sends
borderline inputs to the distributed path. Above the cutoff, the
regime a 100 TB corpus's candidate pairs land in, the probe
short-circuits at cutoff+1 rows and the loop below runs. Both paths
return the same (v, component) rows with the same types.
``driver_edge_cutoff=0`` forces the distributed path (tests).

Distributed path: star contraction + pointer doubling. Plain hash-min
label propagation needs DIAMETER rounds (13 on the sf0.1 event graph —
the classic CC scale trap). This loop instead contracts the edge frame
by the current labels every round and runs min-label over the
CONTRACTED graph, the star-contraction scheme of the Shiloach-Vishkin /
"Connected Components in MapReduce" family — and SHORTCUTS the
per-round relabel map to its fixpoint by pointer doubling before
applying it. Without the shortcut a min step on a path graph moves
every label by exactly one hop, so convergence is linear in the chain
length (a 200-node path needs 199 rounds), and duplicate chains
A~B~C~... are exactly the motif dedup clustering exists for. The
relabel map (rep -> newlabel) strictly DECREASES along pointers, so it
is an acyclic forest, and map := map(map) collapses a length-L chain in
ceil(log2 L) self-compositions. Every relabel join runs at
REPRESENTATIVE scale (one row per live label, shrinking every round),
never edge scale.

Convergence is detected, not assumed: the outer loop stops when the
contracted edge set is empty and the inner loop when no pointer moved
(one-row take(1) each). Both 64-step caps are backed by geometric
decay (doubling covers 2^64-length chains in 64 jumps; a fully
shortcut min round at least halves the live-component-graph diameter),
and both raise RuntimeError instead of returning partial labels
(tests/test_components.py pins a 5,000-node shuffled path above the
gate). lab/carcs/map localCheckpoint per round — the iterative-plan
lineage discipline shared with graph_hits (plans/wave8c.py).

Every checkpoint here is wrapped in util.strip_plan_stats: checkpoints
carry the origin plan's Catalyst sizeInBytes into the new LogicalRDD,
and the doubling SELF-join then squares that statistic every iteration
— the BigInteger's bit length doubles per jump and Catalyst planning
itself becomes the bottleneck (minutes of driver CPU inside
BigInteger.multiplyToomCook3, found by jstack when a 600k-node chain
probe's rounds grew 2 s -> 84 s on constant-size frames). Stripping
the carried stats pins the estimate at defaultSizeInBytes; AQE still
re-plans every join from true runtime sizes, so execution strategy is
unchanged."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_caic_spark.util import strip_plan_stats

MAX_ROUNDS = 64
MAX_JUMPS = 64


def connected_components(
    edges: DataFrame, driver_edge_cutoff: int = 1_000_000
) -> DataFrame:
    """edges(a, b) undirected -> (v, component) for every endpoint,
    where component is the MINIMUM node id reachable from v (the
    canonical representative). Size-gated (module docstring)."""
    verts = edges.select(F.col("a").alias("v")).unionAll(
        edges.select(F.col("b").alias("v"))
    )
    if driver_edge_cutoff > 0:
        probe = edges.select("a", "b").limit(driver_edge_cutoff + 1).collect()
        if len(probe) <= driver_edge_cutoff:
            # vtype from the POST-UNION schema: if a/b differ in width
            # (int vs bigint) the union widens, and the driver path must
            # declare the type the distributed path produces.
            return _driver_union_find(
                probe, edges.sparkSession, verts.schema["v"].dataType
            )
    lab = _ckpt(verts.distinct().select("v", F.col("v").alias("label")))
    carcs = _ckpt(edges.select(F.col("a").alias("s"), F.col("b").alias("d")))
    for _ in range(MAX_ROUNDS):
        if not carcs.take(1):  # fixpoint: no edges between distinct labels
            return lab.select("v", F.col("label").alias("component"))
        sym = carcs.unionAll(
            carcs.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
        nbmin = sym.groupBy(F.col("s").alias("rep")).agg(F.min("d").alias("mn"))
        reps = lab.select(F.col("label").alias("rep")).distinct()
        replab = reps.join(nbmin, "rep", "left").select(
            "rep",
            F.least(F.col("rep"), F.coalesce(F.col("mn"), F.col("rep"))).alias(
                "newlabel"
            ),
        )
        replab = _shortcut(replab)
        lab = (
            lab.join(replab, lab.label == replab.rep)
            .select("v", F.col("newlabel").alias("label"))
        )
        lab = _ckpt(lab)
        ra = replab.select(F.col("rep").alias("s"), F.col("newlabel").alias("ns"))
        rb = replab.select(F.col("rep").alias("d"), F.col("newlabel").alias("nd"))
        carcs = (
            carcs.join(ra, "s")
            .join(rb, "d")
            .filter(F.col("ns") != F.col("nd"))
            .select(F.col("ns").alias("s"), F.col("nd").alias("d"))
            .distinct()
        )
        carcs = _ckpt(carcs)
    raise RuntimeError(
        f"connected_components: contracted edge frame still non-empty "
        f"after {MAX_ROUNDS} rounds — returning partial labels is never "
        f"an option"
    )


def _ckpt(df: DataFrame) -> DataFrame:
    """localCheckpoint + carried-stats strip (module docstring)."""
    return strip_plan_stats(df.localCheckpoint())


def _shortcut(replab: DataFrame) -> DataFrame:
    """Pointer-double ``rep -> newlabel`` to its fixpoint: afterwards
    every rep points at the root of its pointer tree (newlabel values
    are all self-mapped). Pointers strictly decrease, so the map is an
    acyclic forest and map := map(map) converges in ceil(log2 L)
    iterations for the longest chain L."""
    for _ in range(MAX_JUMPS):
        m2 = replab.select(
            F.col("rep").alias("r2"), F.col("newlabel").alias("nl2")
        )
        jumped = (
            replab.join(m2, replab["newlabel"] == m2["r2"], "left")
            .select(
                "rep",
                F.coalesce("nl2", "newlabel").alias("newlabel"),
                (
                    F.col("nl2").isNotNull()
                    & (F.col("nl2") != F.col("newlabel"))
                ).alias("_moved"),
            )
        )
        jumped = _ckpt(jumped)
        replab = jumped.select("rep", "newlabel")
        if not jumped.where("_moved").take(1):  # fixpoint: all roots
            return replab
    raise RuntimeError(
        f"connected_components: relabel map did not reach fixpoint in "
        f"{MAX_JUMPS} pointer-doubling jumps (covers chains of length "
        f"2^{MAX_JUMPS}) — pointer cycle, which the strictly-decreasing "
        f"min construction should make impossible"
    )


def _driver_union_find(rows, spark, vtype) -> DataFrame:
    """Min-root union-find over a bounded, already-collected (a, b)
    row list — duplicates, self-loops, and asymmetric orientation are
    all absorbed by the union, so raw pairs need no distinct/symmetrize
    pre-pass. Path-halving + union-by-min keeps the root of every tree
    at the component's minimum vertex id, matching the distributed
    loop's output exactly (same (v, component) rows, component = min
    id)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for s, d in rows:  # bounded by driver_edge_cutoff at the call site
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            # union by min so the surviving root is the smaller id
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    out = [(v, find(v)) for v in parent]
    schema = T.StructType(
        [
            T.StructField("v", vtype, True),
            T.StructField("component", vtype, True),
        ]
    )
    # Arrow path (pandas input): ships the rows as one Arrow batch in a
    # couple of partitions — the list-of-tuples path pickles per-slice and
    # measured ~5s for a 2-row coalesce(1) on local[32].
    pdf = pd.DataFrame(out, columns=["v", "component"])
    return spark.createDataFrame(pdf, schema=schema)


def dedup_groups(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Keep one representative (the min id) per connected near-dup
    component of ``pairs(doc_a, doc_b)``; singletons keep themselves."""
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    joined = df.join(comp, df[id_col] == comp["v"], "left")
    return joined.select(
        df[id_col],
        F.coalesce("component", df[id_col]).alias("group_id"),
    ).withColumn("is_representative", F.col(id_col) == F.col("group_id"))
