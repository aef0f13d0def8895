r"""Round-6 corpus/statistics mining queries (SURVEY.md §2.9g): PMI bigram
collocations, exact φ-heavy-hitters, and an iterative link-graph PageRank.

Like the rest of the §2.9 family these model operations a training-data
pipeline runs at corpus scale (the reference stops at city-level weather
aggregation, app.py:101-153, so these derive from the north-star extension
charter, not reference behavior). Every formula is a pure column expression
mirrored exactly in the DuckDB oracle; the PageRank iteration count is
fixed and unrolled identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import load, register

# ---------------------------------------------------------------------------
# ext_pmi_collocations — pointwise-mutual-information bigram mining
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5

_PMI_ORACLE = rf"""
WITH toks AS (
    SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
), big AS (
    SELECT t[i] AS w1, t[i+1] AS w2
    FROM toks, unnest(generate_series(1, len(t)-1)) u(i)
), c12 AS (
    SELECT w1, w2, count(*)::BIGINT AS n12 FROM big GROUP BY w1, w2
), c1 AS (
    SELECT w1, sum(n12)::BIGINT AS n1 FROM c12 GROUP BY w1
), c2 AS (
    SELECT w2, sum(n12)::BIGINT AS n2 FROM c12 GROUP BY w2
), tot AS (
    SELECT sum(n12)::BIGINT AS n FROM c12
)
SELECT w1, w2, n12,
       round(ln(n12::DOUBLE * tot.n / (c1.n1::DOUBLE * c2.n2)), 6) AS pmi
FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tot
WHERE n12 >= {_PMI_MIN_COUNT}
"""


@register("ext_pmi_collocations", _PMI_ORACLE)
def ext_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: score every bigram by pointwise mutual
    information ln(p(w1,w2) / (p(w1)·p(w2))) — the classic measure for
    multiword expressions ("new york"-style units a tokenizer or phrase
    vocabulary should keep together; Church & Hanks 1990).

    Scale shape: bigrams come from one narrow arrays_zip (no shuffle), the
    (w1,w2) count is one hash agg with map-side partial combine, and the
    marginal counts c1/c2 are RE-AGGREGATIONS of the already-collapsed
    bigram table (vocab² → vocab, never re-reading the corpus). The two
    marginal joins shuffle vocabulary-sized tables keyed by a single token
    — Zipf-skewed (stopword heads), which is exactly the AQE skew-join
    case — and the grand total joins as a broadcast 1-row literal. The
    min-count filter applies BEFORE the joins, shrinking the left side
    first."""
    docs = load(spark, sf_dir, "documents")
    docs = docs.select(F.split(F.trim("text"), r"\s+").alias("tk"))
    t = F.col("tk")
    m = F.greatest(F.size(t) - 1, F.lit(0))
    big = (
        docs.select(
            F.explode(
                F.zip_with(
                    F.slice(t, 1, m),
                    F.slice(t, 2, m),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    c2 = c12.groupBy("w2").agg(F.sum("n12").alias("n2"))
    tot = c12.agg(F.sum("n12").alias("n"))
    return (
        c12.filter(F.col("n12") >= _PMI_MIN_COUNT)
        .join(c1, "w1")
        .join(c2, "w2")
        .join(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n12",
            F.round(
                F.log(
                    F.col("n12").cast("double")
                    * F.col("n")
                    / (F.col("n1").cast("double") * F.col("n2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# ext_heavy_hitters — exact φ-frequent items per group
# ---------------------------------------------------------------------------

_HH_PHI = 0.005  # report users owning ≥0.5% of an event type's traffic

_HH_ORACLE = f"""
WITH per AS (
    SELECT event_type, user_id, count(*)::BIGINT AS n_events
    FROM events GROUP BY event_type, user_id
), tot AS (
    SELECT event_type, sum(n_events)::BIGINT AS n_total
    FROM per GROUP BY event_type
)
SELECT per.event_type, per.user_id, per.n_events,
       round(per.n_events::DOUBLE / tot.n_total, 6) AS share
FROM per JOIN tot USING (event_type)
WHERE per.n_events::DOUBLE / tot.n_total >= {_HH_PHI}
"""


@register("ext_heavy_hitters", _HH_ORACLE)
def ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact φ-heavy-hitters: per event type, every user holding ≥φ=0.5% of
    that type's events — the frequent-items primitive behind abuse/bot
    triage, spam-source detection, and dedup-candidate triage.

    Exact IS the scale path here: count is a distributive aggregate (full
    map-side combine — the shuffle carries one row per (type, user) pair,
    not per event), and the per-type totals RE-AGGREGATE the collapsed
    table and broadcast back (totals are |event_type| rows). The sketch
    alternative (Misra-Gries / count-min, one pass, bounded memory, no
    second agg) trades that guarantee for ε-error; Spark's built-in
    ``df.stat.freqItems`` implements the lossy-counting variant and is
    pinned in tests as a SUPERSET of this exact answer — the property the
    sketch actually guarantees."""
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n_events"))
    tot = per.groupBy("event_type").agg(F.sum("n_events").alias("n_total"))
    share = F.col("n_events").cast("double") / F.col("n_total")
    return (
        per.join(F.broadcast(tot), "event_type")
        .filter(share >= _HH_PHI)
        .select(
            "event_type",
            "user_id",
            "n_events",
            F.round(share, 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# ext_link_pagerank — fixed-iteration PageRank on a deterministic link graph
# ---------------------------------------------------------------------------

_PR_ITERS = 3
_PR_DAMP = 0.85

# Deterministic synthetic out-links (the documents table has no native link
# column): every doc cites 3 targets by affine hash of its id. Modulo the
# doc count keeps targets in-range when ids are dense; when they are not,
# the inner join against real ids drops dangling edges IDENTICALLY in both
# engines, so the graphs — and the ranks — still agree exactly.
#: The affine citation-edge legs (a, b) of dst = (src*a + b) mod n —
#: ONE definition shared by the Spark edge builder, every DuckDB oracle
#: string, and both numpy local-finish twins (ADVICE r16: the constants
#: were spelled out in four places; editing one silently broke
#: local/distributed equivalence).
_EDGE_LEGS = [(31, 7), (57, 13), (91, 3)]

_PR_EDGES_SQL = """
    SELECT d.doc_id AS src, ((d.doc_id * {a} + {b}) % n.cnt) AS dst
    FROM documents d CROSS JOIN (SELECT count(*) AS cnt FROM documents) n
"""


def _citation_edges_raw(docs, n_df):
    """All three affine-hash edge legs in ONE pass over the corpus.

    The original form union-ed three per-leg projections, which Catalyst
    plans as three separate scans of the documents table; exploding a
    3-element array emits the identical (src, dst) multiset from a single
    scan — at 100 TB that is one corpus read instead of three, and at
    sf0.1 it took the degree-distribution id from ~1.0-1.3 s (2× of its
    baseline row, the round-14 guard investigation) to ~0.8 s and
    triangle_count to 0.73× of baseline. Row order differs from the union form
    (grouped per src instead of concatenated per leg), which no consumer
    observes: every downstream op is a distinct/groupBy/join. The DuckDB
    oracles keep the UNION ALL spelling — same multiset."""
    legs = [
        ((F.col("doc_id") * a + b) % F.col("cnt")) for a, b in _EDGE_LEGS
    ]
    return docs.join(F.broadcast(n_df)).select(
        F.col("doc_id").alias("src"),
        F.explode(F.array(*legs)).alias("dst"),
    )


def _pr_oracle() -> str:
    edges = " UNION ALL ".join(
        _PR_EDGES_SQL.format(a=a, b=b) for a, b in _EDGE_LEGS
    )
    sql = f"""
WITH edges_raw AS ({edges}),
edges AS (
    SELECT e.src, e.dst FROM edges_raw e
    JOIN documents t ON t.doc_id = e.dst
),
deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src),
n AS (SELECT count(*)::DOUBLE AS cnt FROM documents),
r0 AS (SELECT doc_id, 1.0 / n.cnt AS rank FROM documents CROSS JOIN n)
"""
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        sql += f""",
contrib{i} AS (
    SELECT e.dst AS doc_id, sum(r.rank / d.outdeg) AS c
    FROM edges e
    JOIN {prev} r ON r.doc_id = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
),
r{i} AS (
    SELECT d.doc_id,
           (1 - {_PR_DAMP}) / n.cnt + {_PR_DAMP} * coalesce(c.c, 0) AS rank
    FROM documents d CROSS JOIN n
    LEFT JOIN contrib{i} c ON c.doc_id = d.doc_id
)"""
        prev = f"r{i}"
    sql += f"""
SELECT doc_id, round(rank * 1e6, 3) AS rank_ppm FROM {prev}
"""
    return sql


@register("ext_link_pagerank", _pr_oracle())
def ext_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, d=0.85) over a deterministic synthetic
    citation graph — the iterative-algorithm template on DataFrames, and a
    real corpus-curation signal (rank-weighted sampling of crawled pages;
    dangling-free here since every node emits 3 edges and off-graph targets
    are dropped identically on both sides).

    Iterative shape on Spark: the edge list is built ONCE, repartitioned by
    join key and MATERIALIZED (eager localCheckpoint — what GraphX/Pregel
    do with the edge RDD), so each iteration is one shuffle join
    (ranks ⋈ edges) + one hash agg keyed by destination against the cached
    partitions instead of re-deriving edges from the scan; lineage stays
    constant instead of growing per iteration (round-11 fix for the 1.3×
    bench drift — isolated re-measure 1.28 s current vs 1.12 s
    checkpointed vs 1.224 s baseline). For k≫10, checkpoint the RANKS
    every few iterations too, as ext_dedup_components does. Rank mass is
    reported in parts-per-million so the fixed rounding retains ~7
    significant digits across engines."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n_df = docs.agg(F.count(F.lit(1)).alias("cnt"))
    edges_raw = _citation_edges_raw(docs, n_df)
    edges = edges_raw.join(
        docs.select(F.col("doc_id").alias("dst")), "dst"
    ).select("src", "dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges_deg = edges.join(deg, "src").repartition("src").localCheckpoint(eager=True)

    n = F.col("cnt").cast("double")
    ranks = docs.join(F.broadcast(n_df)).select(
        "doc_id", (F.lit(1.0) / n).alias("rank")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges_deg.join(ranks.withColumnRenamed("doc_id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("c"))
            .withColumnRenamed("dst", "doc_id")
        )
        ranks = (
            docs.join(F.broadcast(n_df))
            .join(contrib, "doc_id", "left")
            .select(
                "doc_id",
                (
                    (1 - _PR_DAMP) / n
                    + _PR_DAMP * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select(
        "doc_id", F.round(F.col("rank") * 1e6, 3).alias("rank_ppm")
    )


# ---------------------------------------------------------------------------
# ext_graph_bfs_depth — k≫10 iterative BFS with periodic lineage checkpoints
# ---------------------------------------------------------------------------

_BFS_ITERS = 15
_BFS_CKPT_EVERY = 5
_BFS_SEED_MOD = 97


def _bfs_oracle() -> str:
    edges = " UNION ALL ".join(
        _PR_EDGES_SQL.format(a=a, b=b) for a, b in _EDGE_LEGS
    )
    # AS MATERIALIZED is load-bearing: each d{{i}} references its
    # predecessor TWICE (kept rows ∪ relaxed rows), so letting DuckDB
    # inline the chain expands 2^15 copies of the base scan ("Too many
    # open files" before it even plans).
    sql = f"""
WITH edges_raw AS ({edges}),
edges AS MATERIALIZED (
    SELECT e.src, e.dst FROM edges_raw e
    JOIN documents t ON t.doc_id = e.dst
),
d0 AS MATERIALIZED (
    SELECT doc_id, 0::BIGINT AS dist FROM documents
    WHERE doc_id % {_BFS_SEED_MOD} = 0
)"""
    prev = "d0"
    for i in range(1, _BFS_ITERS + 1):
        sql += f""",
d{i} AS MATERIALIZED (
    SELECT doc_id, min(dist)::BIGINT AS dist FROM (
        SELECT doc_id, dist FROM {prev}
        UNION ALL
        SELECT e.dst AS doc_id, d.dist + 1 AS dist
        FROM edges e JOIN {prev} d ON d.doc_id = e.src
    ) u GROUP BY doc_id
)"""
        prev = f"d{i}"
    sql += f"""
SELECT doc_id, dist FROM {prev}
"""
    return sql


@register("ext_graph_bfs_depth", _bfs_oracle())
def ext_graph_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS depth (15 rounds) over the citation graph — hop
    distance from a deterministic seed set (doc_id % 97 == 0), the standard
    crawl-frontier / influence-radius primitive, and the k≫10 iterative
    template `ext_link_pagerank`'s docstring prescribes but (until this id)
    nothing exercised: at 3 rounds a growing lineage is survivable, at 15
    it is not.

    Iterative shape on Spark: edges are built ONCE, repartitioned on the
    join key and eagerly localCheckpoint'd (the GraphX edge-RDD shape);
    each round is one shuffle join (frontier ⋈ edges) + one min hash-agg.
    The distance table is additionally localCheckpoint'd every
    _BFS_CKPT_EVERY rounds — WITHOUT the periodic cut, every round appends
    a join+agg to the plan and analysis/codegen cost grows superlinearly in
    k (the same lineage blow-up ext_dedup_components cuts per round;
    checkpointing every round would pay k materializations, every-m
    amortizes to k/m). Distances stay BIGINT end-to-end, so the oracle
    compare is exact — no float knife-edges at any scale. Unreached nodes
    are absent rather than NULL (frontier semantics; count(rows) < N is the
    coverage signal a curation pipeline reads off this table)."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    # Small-graph local finish (round 16, same gate as connected_components'
    # union-find): the 15 relaxation rounds cost ~4.6 s of per-round
    # shuffle/checkpoint overhead on the sf0.1 graph (5k nodes, 15k edges)
    # while the identical synchronous min-relaxation over collected int64
    # arrays is milliseconds. 3n is the exact raw edge count (three affine
    # legs per doc); past the gate the distributed loop below runs
    # unchanged — that loop IS the 100 TB shape.
    from ..operators.components import LOCAL_FINISH_EDGES, bounded_min_relax_local

    n = docs.count()
    if 0 < 3 * n <= LOCAL_FINISH_EDGES:
        import numpy as np
        import pandas as pd

        ids = docs.toPandas()["doc_id"].to_numpy("int64")
        src = np.concatenate([ids] * 3)
        dst = np.concatenate([(ids * a + b) % n for a, b in _EDGE_LEGS])
        keep = np.isin(dst, ids)  # same pruning as the dst⋈documents join
        seeds = ids[ids % _BFS_SEED_MOD == 0]
        out_ids, out_dist = bounded_min_relax_local(
            src[keep], dst[keep], seeds,
            np.zeros(len(seeds), dtype=np.int64),
            rounds=_BFS_ITERS, hop_weight=1,
        )
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": out_ids, "dist": out_dist}),
            "doc_id long, dist long",
        )
    n_df = docs.agg(F.count(F.lit(1)).alias("cnt"))
    edges_raw = _citation_edges_raw(docs, n_df)
    edges = (
        edges_raw.join(docs.select(F.col("doc_id").alias("dst")), "dst")
        .select("src", "dst")
        .repartition("src")
        .localCheckpoint(eager=True)
    )

    dist = docs.filter(F.col("doc_id") % _BFS_SEED_MOD == 0).select(
        "doc_id", F.lit(0).cast("long").alias("dist")
    )
    for i in range(1, _BFS_ITERS + 1):
        hop = (
            edges.join(dist.withColumnRenamed("doc_id", "src"), "src")
            .select(
                F.col("dst").alias("doc_id"),
                (F.col("dist") + F.lit(1).cast("long")).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(hop)
            .groupBy("doc_id")
            .agg(F.min("dist").alias("dist"))
        )
        if i % _BFS_CKPT_EVERY == 0 and i < _BFS_ITERS:
            dist = dist.localCheckpoint(eager=True)
    return dist


# ---------------------------------------------------------------------------
# ext_triangle_count — triangle census of the citation graph
# ---------------------------------------------------------------------------


def _tri_oracle() -> str:
    edges = " UNION ALL ".join(
        _PR_EDGES_SQL.format(a=a, b=b) for a, b in _EDGE_LEGS
    )
    return f"""
WITH edges_raw AS ({edges}),
und AS (
    SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
    FROM edges_raw WHERE src <> dst
),
wedge AS (
    SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
    FROM und e1 JOIN und e2 ON e1.hi = e2.lo
)
SELECT (SELECT count(*) FROM und)::BIGINT AS n_edges,
       (SELECT count(*) FROM wedge)::BIGINT AS n_wedges,
       (SELECT count(*) FROM wedge w
         WHERE EXISTS (SELECT 1 FROM und e3
                        WHERE e3.lo = w.a AND e3.hi = w.c))::BIGINT
           AS n_triangles
"""


@register("ext_triangle_count", _tri_oracle())
def ext_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census (edges / wedges / triangles) of the same synthetic
    citation graph PageRank uses — the clustering-coefficient numerator and
    the standard graph-quality probe for link-spam clusters in crawl data.

    This is the classic ordered-orientation algorithm (node-iterator++):
    undirected edges canonicalize to lo<hi ONCE (dedupe hash-agg), wedges
    come from ONE equi self-join on the middle vertex (e1.hi = e2.lo, so
    a<b<c — each triangle is generated exactly once, no /6 correction or
    post-hoc distinct), and closure is a left-semi equi join of wedges
    against the edge set. All three steps are hash-partitioned joins —
    no BroadcastNestedLoop anywhere. At 100 TB-graph scale the refinement
    is DEGREE ordering instead of id ordering (orient each edge
    low-degree → high-degree), which bounds per-vertex wedge fan-out by
    sqrt(m) and tames hub skew; id order keeps the oracle exactly
    mirrorable here and the join shape is identical."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n_df = docs.agg(F.count(F.lit(1)).alias("cnt"))
    edges_raw = _citation_edges_raw(docs, n_df)
    und = (
        edges_raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .distinct()
    )
    wedge = und.alias("e1").join(
        und.alias("e2"), F.col("e1.hi") == F.col("e2.lo")
    ).select(
        F.col("e1.lo").alias("a"),
        F.col("e1.hi").alias("b"),
        F.col("e2.hi").alias("c"),
    )
    closed = wedge.join(
        und.select(F.col("lo").alias("a"), F.col("hi").alias("c")),
        ["a", "c"],
        "left_semi",
    )
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges = wedge.agg(F.count(F.lit(1)).alias("n_wedges"))
    n_tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    return n_edges.join(n_wedges).join(n_tri)


# ---------------------------------------------------------------------------
# ext_graph_degree_dist — degree distribution of the citation graph
# ---------------------------------------------------------------------------


def _degree_oracle() -> str:
    edges = " UNION ALL ".join(
        _PR_EDGES_SQL.format(a=a, b=b) for a, b in _EDGE_LEGS
    )
    return f"""
WITH edges_raw AS ({edges}),
und AS (
    SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
    FROM edges_raw WHERE src <> dst
),
deg AS (
    SELECT node, count(*)::BIGINT AS degree
    FROM (SELECT lo AS node FROM und UNION ALL SELECT hi FROM und)
    GROUP BY node
)
SELECT degree, count(*)::BIGINT AS n_nodes
FROM deg GROUP BY degree
"""


@register("ext_graph_degree_dist", _degree_oracle())
def ext_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the (undirected, deduplicated) citation
    graph — the first thing run on any link graph: its shape separates
    organic link structure from spam farms and decides whether PageRank /
    triangle counting need skew treatment (the hub tail IS the skew).

    Scale shape: edges canonicalize and dedupe in one hash-agg; per-node
    degree = one count over the exploded endpoints (UNION ALL is
    plan-level concatenation, no shuffle of its own); the histogram
    re-aggregates node-grain counts into degree-grain rows — output is
    max-degree-sized, tiny regardless of graph size. Same graph
    construction as ext_link_pagerank/ext_triangle_count, so the three
    read as one coherent graph-analytics family."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    n_df = docs.agg(F.count(F.lit(1)).alias("cnt"))
    edges_raw = _citation_edges_raw(docs, n_df)
    und = (
        edges_raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .distinct()
    )
    nodes = und.select(F.col("lo").alias("node")).unionByName(
        und.select(F.col("hi").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# ---------------------------------------------------------------------------
# ext_entity_match — blocked fuzzy record linkage (entity resolution)
# ---------------------------------------------------------------------------

_ENTITY_MAX_DIST = 2

_ENTITY_ORACLE = f"""
    WITH c AS (
        SELECT c_custkey, c_name, c_nationkey, length(c_name) AS n_len
        FROM customer WHERE c_name IS NOT NULL
    )
    SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
           levenshtein(a.c_name, b.c_name)::BIGINT AS name_dist
    FROM c a JOIN c b
      ON a.c_nationkey = b.c_nationkey
     AND a.n_len = b.n_len
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= {_ENTITY_MAX_DIST}
"""


@register("ext_entity_match", _ENTITY_ORACLE)
def ext_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage (entity resolution): customer pairs
    within a (nation, name length) block — phonetic or prefix keys slot in
    the same way — at Levenshtein distance ≤ 2. The canonical "same
    real-world entity, dirty spelling" dedup over structured records,
    complementing the text-corpus dedup tier.

    Scale shape: NEVER all-pairs, and NOT block-quadratic either — equal-
    length ed ≤ 2 decomposes exactly into Hamming ≤ 2 (3 interleaved
    position-class keys, immune to constant prefixes) ∪ 1-ins+1-del
    (deletion-1 neighborhood keys), over exact-dup class representatives
    (operators/relational.py edit_distance_pairs, which documents the two
    measured-and-rejected designs). The SQL oracle keeps the quadratic
    within-block formulation — hash-matching it proves the filter loses
    no pair. Measured at sf0.1: block-quadratic 13.3 s → 3.9 s (0.7× of
    DuckDB's quadratic, from 2.5×)."""
    from ..operators.relational import edit_distance_pairs

    c = load(spark, sf_dir, "customer")
    return edit_distance_pairs(
        c,
        id_col="c_custkey",
        text_col="c_name",
        block_cols=["c_nationkey"],
        max_dist=_ENTITY_MAX_DIST,
    ).withColumnsRenamed({"dist": "name_dist"})


# ---------------------------------------------------------------------------
# ext_graph_communities — bounded-round synchronous label propagation
# ---------------------------------------------------------------------------

_LPA_ITERS = 8
_LPA_CKPT_EVERY = 4


def _lpa_oracle() -> str:
    edges = " UNION ALL ".join(
        _PR_EDGES_SQL.format(a=a, b=b) for a, b in _EDGE_LEGS
    )
    # Same AS MATERIALIZED discipline as _bfs_oracle: every l{i} references
    # its predecessor twice (kept labels ∪ propagated labels), so an
    # inlined chain would expand 2^8 copies of the base scan.
    sql = f"""
WITH edges_raw AS ({edges}),
directed AS MATERIALIZED (
    SELECT e.src, e.dst FROM edges_raw e
    JOIN documents t ON t.doc_id = e.dst
),
und AS MATERIALIZED (
    SELECT src, dst FROM directed
    UNION
    SELECT dst AS src, src AS dst FROM directed
),
l0 AS MATERIALIZED (
    SELECT doc_id, doc_id AS label FROM documents
)"""
    prev = "l0"
    for i in range(1, _LPA_ITERS + 1):
        sql += f""",
l{i} AS MATERIALIZED (
    SELECT doc_id, min(label)::BIGINT AS label FROM (
        SELECT doc_id, label FROM {prev}
        UNION ALL
        SELECT u.dst AS doc_id, l.label AS label
        FROM und u JOIN {prev} l ON l.doc_id = u.src
    ) x GROUP BY doc_id
)"""
        prev = f"l{i}"
    sql += f"""
SELECT doc_id, label AS community FROM {prev}
"""
    return sql


@register("ext_graph_communities", _lpa_oracle())
def ext_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by bounded-round synchronous min-label
    propagation (8 rounds) over the UNDIRECTED citation graph — the
    deterministic LPA variant: every node starts as its own label and each
    round adopts min(own label, neighbor labels). After k rounds each
    node carries the smallest id within graph distance k — converged
    components where the diameter is under k, "radius-k communities"
    elsewhere; the fixed round count is what keeps the result (and the
    oracle) deterministic where classic argmax-frequency LPA is
    tie-break-chaotic. Completes the iterative-graph family
    (pagerank k=3, BFS k=15, this id k=8 with a DIFFERENT per-round
    operator: label min over a symmetrized edge set).

    Iterative shape on Spark (the `ext_dedup_components` /
    `ext_graph_bfs_depth` machinery): the symmetrized edge list is built
    ONCE, repartitioned on the join key and eagerly localCheckpoint'd;
    each round is one shuffle join (labels ⋈ edges) + one min hash-agg;
    the label table is localCheckpoint'd every _LPA_CKPT_EVERY rounds to
    cut the growing lineage (uncheckpointed k=15 BFS DNF'd in 9 min —
    same failure class). Labels stay BIGINT end-to-end, so the oracle
    compare is exact. At 100 TB the edge build is one shuffle, each round
    shuffles label-grain rows (8 B ids + 8 B labels — digest-tier), and
    the round count is a constant: total cost is k × (join + agg) with
    flat lineage."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    # Small-graph local finish (round 16): identical synchronous min-label
    # rounds over collected int64 arrays — see ext_graph_bfs_depth; the
    # undirected edge set is ≤ 6n, so the gate check stays exact without
    # materializing it. Distinct-ing the symmetrized multiset is unnecessary
    # under min (idempotent), so the local twin skips it.
    from ..operators.components import LOCAL_FINISH_EDGES, bounded_min_relax_local

    n = docs.count()
    if 0 < 6 * n <= LOCAL_FINISH_EDGES:
        import numpy as np
        import pandas as pd

        ids = docs.toPandas()["doc_id"].to_numpy("int64")
        src = np.concatenate([ids] * 3)
        dst = np.concatenate([(ids * a + b) % n for a, b in _EDGE_LEGS])
        keep = np.isin(dst, ids)
        src, dst = src[keep], dst[keep]
        out_ids, out_lab = bounded_min_relax_local(
            np.concatenate([src, dst]),  # symmetrized: both directions
            np.concatenate([dst, src]),
            ids, ids.copy(),             # every node starts as its own label
            rounds=_LPA_ITERS, hop_weight=0,
        )
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": out_ids, "community": out_lab}),
            "doc_id long, community long",
        )
    n_df = docs.agg(F.count(F.lit(1)).alias("cnt"))
    edges_raw = _citation_edges_raw(docs, n_df)
    directed = edges_raw.join(
        docs.select(F.col("doc_id").alias("dst")), "dst"
    ).select("src", "dst")
    und = (
        directed.unionByName(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition("src")
        .localCheckpoint(eager=True)
    )

    labels = docs.select("doc_id", F.col("doc_id").alias("label"))
    for i in range(1, _LPA_ITERS + 1):
        prop = und.join(labels.withColumnRenamed("doc_id", "src"), "src").select(
            F.col("dst").alias("doc_id"), "label"
        )
        labels = (
            labels.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
        if i % _LPA_CKPT_EVERY == 0 and i < _LPA_ITERS:
            labels = labels.localCheckpoint(eager=True)
    return labels.select("doc_id", F.col("label").alias("community"))
