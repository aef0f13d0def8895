"""Connected components over near-duplicate pair graphs.

The last stage of a dedup funnel: pair lists (from MinHash / SimHash /
n-gram Jaccard) are edges; a training pipeline needs the *transitive*
closure — if A≈B and B≈C, keep one canonical doc of {A,B,C} — which is
connected components with the min doc id as the component label.

Algorithm: iterative label propagation (each node takes the min label in
its closed neighborhood) PLUS pointer halving (each label is then
shortcut through the just-updated mapping, comp ← comp(comp)), repeated
until fixpoint. Propagation alone needs O(diameter) rounds — measured 21
rounds on the sf0.1 semdedup graph, whose cosine-0.3 fixture edges form
~20-hop chains — while the halving step jumps labels toward the
component minimum geometrically, so convergence is O(log diameter)
rounds. Every round is a full shuffle over the label table, so at 100 TB
the round count IS the cost model. Driver-side loop with a convergence
check is the sanctioned pattern for iterative algorithms on Spark.
Labels are eagerly localCheckpointed per iteration so lineage stays O(1)
instead of growing per loop.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Edge-count gate under which the (already materialized, distinct,
#: symmetrized) edge set is solved with a driver-side union-find instead of
#: the iterative shuffle loop. Round-16 measurement: each distributed round
#: costs ~4 shuffles + an eager checkpoint + a convergence probe regardless
#: of size — 1.0-1.5 s/round on a 1,535-node label table, ×6 rounds on the
#: sf0.1 semdedup graph — while a union-find over the same 2,898 collected
#: edges is milliseconds. This is the standard finish-small-remainders step
#: of large-scale CC (the local solve in Kiveris et al., "Connected
#: Components in MapReduce and Beyond"): at 100 TB the gate simply never
#: fires until contraction has shrunk the quotient below it, and 200k edges
#: ≈ 3 MB through Arrow — broadcast-sized driver traffic, same class as the
#: IVF centroid collects.
LOCAL_FINISH_EDGES = 200_000


def _local_components(sym: DataFrame) -> DataFrame:
    """Exact min-label components of a small symmetrized edge set via
    driver-side union-find (roots kept at the set minimum, so the labels
    are identical to the distributed fixpoint)."""
    id_type = sym.schema["a"].dataType
    pdf = sym.toPandas()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # smaller id stays the root ⇒ root == set min

    nodes = sorted(set(pdf["a"].tolist()) | set(pdf["b"].tolist()))
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("comp", id_type)]
    )
    return sym.sparkSession.createDataFrame(
        [(n, find(n)) for n in nodes], schema
    )


def bounded_min_relax_local(src, dst, init_ids, init_vals, rounds, hop_weight):
    """``rounds`` SYNCHRONOUS min-relaxation steps — val[dst] ← min(val[dst],
    val[src] + hop_weight) over int64 node ids — solved with numpy on the
    driver. The local twin of the mining queries' bounded-round iterative
    loops (BFS depth: hop_weight 1 over seeds; min-label propagation:
    hop_weight 0 over all-own-label init), gated by the same small-graph
    threshold as :func:`connected_components`' local finish. Each numpy
    round copies the value vector first, so updates never propagate within
    a round — exactly the distributed per-round semantics, making the
    result identical after the SAME number of rounds; the early break fires
    only at a fixpoint, where further rounds are no-ops by definition.
    Returns ``(ids, vals)`` for nodes holding a finite value."""
    import numpy as np

    ids = np.unique(np.concatenate([src, dst, init_ids]))
    src_i = np.searchsorted(ids, src)
    dst_i = np.searchsorted(ids, dst)
    inf = np.int64(2**62)
    val = np.full(len(ids), inf, dtype=np.int64)
    val[np.searchsorted(ids, init_ids)] = init_vals
    for _ in range(rounds):
        cand = val[src_i] + np.int64(hop_weight)
        new = val.copy()
        np.minimum.at(new, dst_i, cand)
        if np.array_equal(new, val):
            break
        val = new
    mask = val < inf
    return ids[mask], val[mask]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
    local_finish_edges: int | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component =
    min node id reachable over undirected edges. Deterministic.

    ``local_finish_edges`` gates the driver-side union-find for small edge
    sets (default ``LOCAL_FINISH_EDGES``; 0 keeps every input on the
    distributed loop).
    """
    if local_finish_edges is None:
        local_finish_edges = LOCAL_FINISH_EDGES
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # Materialize the edge set ONCE: it is consumed by every iteration's
    # join, and without this the entire upstream pair pipeline (which may be
    # an applyInPandas gram or an LSH candidate join) re-executes per
    # iteration.
    sym = sym.localCheckpoint(eager=True)
    # count() on the checkpointed blocks is block-metadata cheap, and the
    # local path it gates removes whole multi-shuffle rounds.
    if local_finish_edges > 0 and sym.count() <= local_finish_edges:
        return _local_components(sym)
    # Lineage MUST be truncated every iteration (eager localCheckpoint, not
    # persist): iteration N's logical plan otherwise embeds iteration N-1's
    # twice (propagation join + convergence check), so Catalyst analysis
    # grows ~2^N even though execution reads the cache — measured live as
    # 0.5 s → 80 s per iteration by iteration 7 on a 1449-edge graph.
    # Checkpointed iterations are constant-cost; ContextCleaner reclaims
    # each generation when its reference drops.
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )

    changed = 0
    for it in range(max_iterations):
        # One checkpointed round = path compression + TWO neighbor-min
        # hops, all in a single plan, so each round costs exactly two jobs
        # (the eager checkpoint + the convergence probe) yet advances the
        # component-min ~3-4 hops. Round count is the cost model here —
        # every round shuffles the full label table — and pure one-hop
        # propagation needs O(diameter) rounds (measured: 21 on the sf0.1
        # semdedup graph).
        #
        # compression: comp ← comp(comp) through the PREVIOUS mapping.
        # labels is checkpointed, so referencing it twice (self-join) reads
        # the cached blocks instead of recomputing lineage. comp(x) is
        # always a same-component node id with comp(x) ≤ x, so the
        # shortcut preserves the fixpoint (min id per component).
        ptr = labels.select(
            F.col("node").alias("pnode"), F.col("comp").alias("pcomp")
        )
        cur = labels.join(ptr, labels.comp == ptr.pnode, "left").select(
            "node",
            F.col("comp").alias("old_comp"),
            F.coalesce("pcomp", "comp").alias("comp"),
        )
        # two propagation hops: comp ← min(comp, neighbors' comps), twice.
        # old_comp rides along so the convergence flag needs no extra join.
        for _hop in range(2):
            nbr = (
                sym.join(cur, sym.b == cur.node)
                .groupBy(sym.a.alias("node"))
                .agg(F.min("comp").alias("nbr_comp"))
            )
            cur = cur.join(nbr, "node", "left").select(
                "node",
                "old_comp",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
            )
        new_labels = cur.withColumn(
            "chg", F.col("comp") != F.col("old_comp")
        ).localCheckpoint(eager=True)
        changed = new_labels.filter("chg").limit(1).count()
        # projection over the checkpointed batch — no extra materialization
        labels = new_labels.select("node", "comp")
        if changed == 0:
            break
        # Edge CONTRACTION (round 16): rewrite every edge onto the current
        # labels and drop the (now intra-cluster) self-loops. Near-dup
        # graphs are clique-heavy — every dup class of size k contributes
        # k(k-1) directed edges but collapses to ONE label after the first
        # min-propagation — so without this, every round re-shuffles the
        # full clique fan-out (measured: the sf3 fixture's 30-cliques put
        # ext_dedup_components at exp₃ 1.14, linear in raw edges). With it,
        # rounds 2+ run on the quotient graph (inter-cluster edges only),
        # making total cost ≈ one linear pass over E plus log-diameter
        # rounds over the contracted remainder. Connectivity of the
        # quotient composes with the node→comp mapping, and comp ids are
        # themselves node ids, so the propagation/compression joins above
        # work unchanged; label updates for a contracted representative
        # reach its members through the next round's compression step.
        # Contraction runs in the FIRST TWO rounds only: dup-class cliques
        # (k(k-1) directed edges each) collapse to a single label in round
        # 0's min-propagation, so the first contraction removes nearly all
        # clique mass and the second catches stragglers; every later round
        # then joins the small quotient graph instead of the raw edge set.
        # Measured per-round contraction at sf0.1 cost MORE than it saved
        # (2 extra joins + a checkpoint per round on an already-tiny
        # quotient: 1.5 s → 3.5 s), while capping it at two keeps the sf1+
        # win. NO early exit on an edgeless quotient either way: members
        # can lag their representative's label by one compression step, so
        # the loop must run until changed==0 — trailing rounds against an
        # edgeless set are compression-only, O(V) not O(E).
        if it < 2:
            cmap_a = labels.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
            cmap_b = labels.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
            sym = (
                sym.join(cmap_a, "a")
                .join(cmap_b, "b")
                .select(F.col("ca").alias("a"), F.col("cb").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .distinct()
                .localCheckpoint(eager=True)
            )
    if changed != 0:
        # A chain longer than max_iterations hops would otherwise silently
        # yield split components — wrong dedup clusters. Surface it.
        warnings.warn(
            f"connected_components hit max_iterations={max_iterations} without "
            "converging; returned labels may split long-chain components. "
            "Raise max_iterations (iterations needed ~= cluster diameter).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("node", "comp")
