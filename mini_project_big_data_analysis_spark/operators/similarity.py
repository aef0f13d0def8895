"""Similarity search over embedding columns (north-star extension).

Two paths:

- ``cosine_topk`` — brute force: broadcast the (tiny) query vector set,
  compute cosine with codegen'd higher-order functions, TakeOrderedAndProject
  top-k. Exact; the right answer up to ~10⁷ candidates per executor-pass.
- ``lsh_bucketed_topk`` — the scale path: random-hyperplane LSH signature
  (deterministic seed) assigns every vector to a bucket; search touches only
  buckets matching the query signature (optionally within Hamming radius).
  Recall < 1.0 by construction; bucket count and radius trade recall for
  scan fraction. At 100 TB, bucket becomes a parquet partition key so a
  query prunes partitions instead of scanning the corpus.

Embedding-space near-dup (``embedding_near_dup_pairs``) reuses the blocking
idea: only pairs sharing a bucket (or an explicit block key) are compared.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from ..functions.vector_fns import cosine, dot, l2_normalize


def _spread(vectors: DataFrame) -> DataFrame:
    """Raise input parallelism to the session default when the scan reads
    fewer files than cores (a single small parquet file reads as ONE
    partition locally — the non-codegen higher-order cosine would then run
    on one core). Plan-side check only: the planned partition count runs
    no job. Files larger than ``maxPartitionBytes`` are range-split by the
    scan itself, and at cluster scale the scan has >= defaultParallelism
    splits — so on the 100 TB path this is a no-op branch and no shuffle is
    added. The frame must be a batch frame on a classic session (its
    ``rdd`` is read)."""
    sc = vectors.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Planned partition count, not file count: Spark packs many small files
    # into few splits (openCostInBytes/maxSplitBytes), so a file-count proxy
    # under-detects the 1-partition regime — and large files are
    # range-split, so it over-detects too. getNumPartitions only runs
    # physical planning; no job is launched.
    n_parts = vectors.rdd.getNumPartitions()
    if 0 < n_parts < target:
        return vectors.repartition(target)
    return vectors


def _topk_per_query(
    scored: DataFrame, query_id_col: str, id_col: str, k: int
) -> DataFrame:
    """Distributed per-query top-k without shuffling the scored rows.

    Two-phase: (1) top-k per (query, input partition) — grouping on
    spark_partition_id means every group is wholly map-local, so the shuffle
    carries only k·partitions rows per query; (2) merge the partial top-k
    arrays per query. A row_number() window over the raw scores would
    instead shuffle EVERY scored row on query_id — the full corpus per
    query at 100 TB.

    Sort key is struct(-cosine_sim, id): descending similarity, ascending id
    tiebreak, exact float negation. Returns (query_id, id, cosine_sim, rank).
    """
    key = F.struct(
        (-F.col("cosine_sim")).alias("neg_sim"), F.col(id_col).alias("id")
    )
    # NULL similarities (zero-norm vectors) would sort FIRST in array_sort's
    # struct ordering — drop them, matching the old Window's desc-nulls-last.
    scored = scored.filter(F.col("cosine_sim").isNotNull())
    partial = (
        scored.groupBy(F.col(query_id_col), F.spark_partition_id().alias("__part"))
        .agg(F.slice(F.array_sort(F.collect_list(key)), 1, k).alias("topk"))
    )
    merged = partial.groupBy(query_id_col).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("topk"))), 1, k).alias("topk")
    )
    return merged.select(
        query_id_col, F.posexplode("topk").alias("__pos", "__e")
    ).select(
        query_id_col,
        F.col("__e.id").alias(id_col),
        (-F.col("__e.neg_sim")).alias("cosine_sim"),
        (F.col("__pos") + 1).cast("int").alias("rank"),
    )


def cosine_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``query`` is expected to be small: ``crossJoin(broadcast(q))`` streams the
    corpus once past every query with no shuffle of the big side. By default
    the trivial self-match is dropped (queries are usually drawn from the
    corpus — same id space); pass ``exclude_self=False`` for disjoint id
    spaces. NULL-cosine rows (zero-norm vectors) are dropped, not ranked
    last. Ranking uses the two-phase
    ``_topk_per_query`` — only k·partitions rows per query ever shuffle,
    never the scored corpus. Ties broken by id so results are deterministic.
    """
    q = F.broadcast(query.select(F.col(query_id_col), F.col(vec_col).alias("qvec")))
    scored = _spread(vectors).crossJoin(q)
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    scored = scored.withColumn(
        "cosine_sim", F.round(cosine(vec_col, "qvec"), 6)
    ).select(query_id_col, id_col, "cosine_sim")
    return _topk_per_query(scored, query_id_col, id_col, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (public trick: Charikar's SimHash
    for cosine; seeded so plans are reproducible across runs/executors)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def add_lsh_bucket(
    vectors: DataFrame,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Assign each vector a 2^n_planes-ary bucket = sign pattern against
    ``n_planes`` random hyperplanes. Pure column expressions: the dot
    product against each (literal) hyperplane is a codegen loop; the bucket
    id is a bit-packed int usable as a partition / cluster key.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(x)) for x in plane])
        bit = (dot(F.col(vec_col), plane_col) > 0).cast("int")
        bucket = bucket + F.shiftleft(bit, i)
    return vectors.withColumn(out_col, bucket)


def _multi_table_buckets_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """Arrow-vectorized ``array<float> -> array<int>``: the vector's bucket
    id in each of ``n_tables`` independent hyperplane sets, one matmul per
    Arrow batch against a closure-captured (tables × planes, dim) matrix.

    Replaces ``n_tables × n_planes`` inlined literal-array dot expressions —
    that form worked for one table but at 6 tables built a ~2300-literal
    projection whose Catalyst canonicalization dominated runtime (same
    failure mode as the IVF centroid expressions, see _nearest_cells_udf)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    mats = np.stack(
        [np.asarray(_hyperplanes(dim, n_planes, seed + t)) for t in range(n_tables)]
    )  # (T, P, dim)
    flat = mats.reshape(-1, dim)
    weights = 1 << np.arange(n_planes)

    def buckets(vecs):
        if len(vecs) == 0:  # empty Arrow batch: (0,)-shaped asarray can't matmul
            return pd.Series([], dtype=object)
        m = np.asarray([np.asarray(v, dtype="float64") for v in vecs])
        signs = (m @ flat.T) > 0  # (n, T*P)
        bits = signs.reshape(len(m), n_tables, n_planes)
        out = (bits * weights).sum(axis=2).astype("int32")
        return pd.Series([row.tolist() for row in out])

    return pandas_udf(buckets, "array<int>")


def _hamming_masks(n_planes: int, radius: int) -> list[int]:
    """All XOR masks within Hamming distance ``radius`` of 0 over
    ``n_planes`` bits, sorted. radius=0 → [0] (exact bucket only)."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))
    return sorted(masks)


def lsh_bucketed_topk(
    vectors: DataFrame,
    query: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    probe_radius: int = 1,
    n_tables: int = 1,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k over LSH buckets, with the two standard recall
    levers: multi-probe and multi-table.

    - **multi-probe** (``probe_radius``): each query probes every bucket
      within Hamming distance r of its own signature — a near-neighbor
      differing on one hyperplane's sign lands one bit-flip away. Probes
      explode the (tiny, broadcast) QUERY side only; the scan fraction per
      table is (Σ_{i≤r} C(n_planes, i)) / 2^n_planes.
    - **multi-table** (``n_tables``): L independent hyperplane sets
      (seeded seed+t); a candidate needs to collide in ANY table — the
      OR-construction that drives recall → 1 exponentially in L. The corpus
      computes all L bucket ids in one pass (row-local column expressions)
      and is exploded ×L on the (table, bucket) join key; candidates hit in
      several tables are deduped BEFORE scoring.

    The join stays an equi-join on a small int key, partition-prunable when
    the corpus is written bucketed by table-0's bucket. Tuning note: recall
    at fixed settings depends on how similar the true neighbors are —
    near-dup corpora (cosine ≥ 0.8, per-plane agreement ≥ 0.85) reach
    recall ≈ 1 with 1 table and radius 1 while scanning a few percent; on
    uniform-random vectors (top-k cosine ≈ 0.3) no sublinear method
    separates neighbors, and recall must be bought with more tables — the
    fixture tests pin both regimes."""
    buckets_udf = _multi_table_buckets_udf(dim, n_planes, n_tables, seed)
    corpus = _spread(vectors).select(
        id_col,
        vec_col,
        F.posexplode(buckets_udf(F.col(vec_col))).alias("lsh_table", "lsh_bucket"),
    )
    queries = query.select(
        F.col(query_id_col),
        F.col(vec_col).alias("qvec"),
        F.posexplode(buckets_udf(F.col(vec_col))).alias("lsh_table", "__qbucket"),
    )
    masks = _hamming_masks(n_planes, probe_radius)
    probes = queries.select(
        query_id_col,
        "qvec",
        "lsh_table",
        F.explode(
            F.array(*[F.col("__qbucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("lsh_bucket"),
    )
    candidates = corpus.join(F.broadcast(probes), on=["lsh_table", "lsh_bucket"])
    if exclude_self:
        # Same id space (queries drawn from the corpus): drop the trivial
        # self-match. Pass exclude_self=False for disjoint id spaces whose
        # ids may numerically collide (same contract as cosine_topk).
        candidates = candidates.filter(F.col(id_col) != F.col(query_id_col))
    # Score BEFORE deduping multi-table/multi-probe hits: cosine is
    # deterministic (dup rows carry equal scores), scoring is codegen-cheap,
    # and the dedup shuffle then moves (query, id, score) triples instead of
    # rows dragging two dim-length float arrays.
    scored = (
        candidates.withColumn("cosine_sim", F.round(cosine(vec_col, "qvec"), 6))
        .select(query_id_col, id_col, "cosine_sim")
        .dropDuplicates([query_id_col, id_col])
    )
    return _topk_per_query(scored, query_id_col, id_col, k)


def _centroids_from_corpus(
    vectors: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    refine: bool = True,
) -> list[tuple[int, list[float]]]:
    """Deterministic sampled-and-refined centroids.

    Seeds are the ``n_centroids`` corpus vectors with the SMALLEST
    ``xxhash64(id)`` — a uniform deterministic sample of the corpus. (The
    previous lowest-n-id seeding was degenerate on real corpora: ids arrive
    sorted/clustered by crawl order, so all n seeds could land in one
    semantic neighborhood and funnel the whole corpus into one giant cell —
    a straggler that never finishes at 100 TB.) ``orderBy(hash).limit(n)``
    compiles to TakeOrderedAndProject: each partition forwards its own
    top-n, never a full sort.

    One Lloyd refinement pass then balances the cells: assign every vector
    to its nearest seed (one Arrow matmul per batch), mean-pool per cell
    via posexplode × dim into a single hash aggregate (the
    ``label_centroids`` dataflow — map-side partials, cells×dim rows
    shuffled, no Python in the agg). Empty cells keep their seed. One extra
    corpus pass at index-build time buys bounded cell sizes at query time.

    Driver-side collect of n_centroids×dim floats — kilobytes,
    broadcast-sized by construction; deterministic, so plans and tests
    reproduce."""
    seed_rows = (
        vectors.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    seeds = [(i, list(r[1])) for i, r in enumerate(seed_rows)]
    if not refine or len(seeds) < 2:
        return seeds
    nearest1 = _nearest_cells_udf(seeds, 1)
    mean_rows = (
        vectors.select(
            F.element_at(nearest1(F.col(vec_col)), 1).alias("__cell"),
            F.posexplode(vec_col).alias("__pos", "__v"),
        )
        .groupBy("__cell", "__pos")
        .agg(F.avg(F.col("__v").cast("double")).alias("__m"))
        .collect()
    )
    by_cell: dict[int, dict[int, float]] = {}
    for r in mean_rows:
        by_cell.setdefault(r["__cell"], {})[r["__pos"]] = r["__m"]
    refined: list[tuple[int, list[float]]] = []
    for i, seed_vec in seeds:
        comps = by_cell.get(i)
        if comps and len(comps) == len(seed_vec):
            refined.append((i, [comps[p] for p in range(len(seed_vec))]))
        else:  # empty cell: keep the seed vector
            refined.append((i, seed_vec))
    return refined


def _nearest_cells_udf(centroids: list[tuple[int, list[float]]], n_probe: int):
    """Arrow-vectorized ``array<float> -> array<int>``: indices of the
    ``n_probe`` nearest centroids by cosine, nearest first.

    One numpy matmul per Arrow batch against a closure-captured (and thus
    executor-broadcast, kilobyte-sized) normalized centroid matrix. This is
    deliberately NOT expressed as 16 inlined ``aggregate``/``zip_with``
    cosines over literal arrays: that variant built a multi-thousand-node
    expression tree whose canonicalization sent Catalyst into minutes-long
    optimization passes once aggregations stacked on top (observed live:
    a 500-row query un-terminated at 280 s, vs ~5 s with this UDF), and the
    higher-order functions don't whole-stage-codegen anyway."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not centroids:
        # Zero centroids (only possible from a zero-row corpus): there are
        # no cells to probe, so every row maps to an empty cell list —
        # np.linalg.norm over a (0,)-shaped matrix would AxisError instead.
        def no_cells(vecs):
            return pd.Series([[] for _ in range(len(vecs))], dtype=object)

        return pandas_udf(no_cells, "array<int>")

    cmat = np.asarray([c for _, c in centroids], dtype="float64")
    norms = np.linalg.norm(cmat, axis=1)
    cmat = cmat / np.where(norms == 0.0, 1.0, norms)[:, None]

    def nearest_cells(vecs):
        if len(vecs) == 0:  # empty Arrow batch: (0,)-shaped asarray can't matmul
            return pd.Series([], dtype=object)
        m = np.asarray([np.asarray(v, dtype="float64") for v in vecs])
        vn = np.linalg.norm(m, axis=1)
        sims = (m / np.where(vn == 0.0, 1.0, vn)[:, None]) @ cmat.T
        # stable argsort descending => deterministic lowest-cell tiebreak
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    # explicit (fn, returnType) form: module-level `from __future__ import
    # annotations` stringifies hints, which the decorator can't resolve here
    return pandas_udf(nearest_cells, "array<int>")


def ivf_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is inverted-file-partitioned
    by nearest centroid; each query probes only its ``n_probe`` closest
    cells (scan fraction ≈ n_probe/n_centroids; recall grows with n_probe).

    Cell assignment is a vectorized pandas UDF (one Arrow batch = one
    matmul; see ``_nearest_cells_udf`` for why not inline expressions);
    probing is a broadcast equi-join on cell id, and scoring the surviving
    candidates is the same codegen'd relational ``cosine`` used by the
    exact path. At 100 TB the corpus is written partitioned by ``ivf_cell``
    and a query prunes partitions instead of scanning."""
    centroids = _centroids_from_corpus(vectors, n_centroids, id_col, vec_col)
    nearest1 = _nearest_cells_udf(centroids, 1)
    corpus = _spread(vectors).select(
        id_col, vec_col, F.element_at(nearest1(F.col(vec_col)), 1).alias("ivf_cell")
    )
    nearest_probe = _nearest_cells_udf(centroids, n_probe)
    probes = query.select(
        F.col(query_id_col),
        F.col(vec_col).alias("qvec"),
        F.explode(nearest_probe(F.col(vec_col))).alias("ivf_cell"),
    )
    scored = (
        corpus.join(F.broadcast(probes), on="ivf_cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine_sim", F.round(cosine(vec_col, "qvec"), 6))
        .select(query_id_col, id_col, "cosine_sim")
    )
    return _topk_per_query(scored, query_id_col, id_col, k)


def semantic_dedup(
    vectors: DataFrame,
    threshold: float,
    block_col: str | None = None,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cap: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): drop semantically-redundant
    documents by embedding similarity — cluster the corpus, find
    within-cluster pairs with cosine ≥ threshold, keep only the minimum-id
    representative of every connected near-dup group.

    ``block_col=None`` clusters by nearest deterministic centroid (one
    Arrow matmul per batch — the paper's k-means step, seeded identically
    to the IVF index so the two share layout); an explicit column makes the
    operator exact-within-block and SQL-mirrorable. Pipeline: exact-dup
    class collapse → blocked BLAS gram pairs over one representative per
    distinct (block, vector) — never all-pairs — → min-label connected
    components → left_anti of the dropped ids. At 100 TB each stage is the
    already-scale-shaped operator it delegates to.

    The class collapse is the round-7/8 dedup-tier lesson applied here:
    byte-identical vectors are pairwise cosine-1 (when norm > 0), so a
    D-member duplicate class needs NO gram work to connect. Since round 9
    the transitive closure ALSO runs on the collapsed graph: a member's
    component is by construction its representative's component (the class
    rep is the class min id, so an expanded component's min id is the min
    over its classes' reps), so connected components runs over the rep
    pair graph only — label-table size scales with DISTINCT embeddings,
    not corpus — and the dropped set is assembled row-locally as
    (members ≠ rep of connectable classes) ∪ (reps whose rep-graph
    component label isn't themselves). This removed the one data-
    proportional iterative stage: at sf10 components over all 200k member
    nodes was 17.3 s of a ~25 s total, vs ~2 s over the 2k reps
    (SCALING.md round-9 probe). Zero-norm, non-finite, and NULL vectors
    are not connectable — their uncollapsed cosine is NULL/NaN and
    produced no pairs (the ADVICE-r7 NULL-class rule), so their members
    all survive; threshold > 1 likewise yields no intra-class drops,
    matching cosine ≤ 1. Survivor sets are exactly the uncollapsed
    plan's; the recursive-CTE oracle pins the equivalence."""
    from .components import connected_components

    if block_col is None:
        centroids = _centroids_from_corpus(vectors, n_clusters, id_col, vec_col)
        nearest1 = _nearest_cells_udf(centroids, 1)
        vectors = vectors.withColumn(
            "semdedup_cell", F.element_at(nearest1(F.col(vec_col)), 1)
        )
        block_col = "semdedup_cell"
    classes = (
        vectors.filter(F.col(vec_col).isNotNull())
        .groupBy(
            F.col(block_col).alias("__blk"),
            F.md5(F.to_json(F.struct(F.col(vec_col)))).alias("__ck"),
        )
        .agg(
            F.min(id_col).alias("__rep"),
            F.sort_array(F.collect_list(id_col)).alias("__ids"),
            F.first(vec_col).alias("__vec"),
        )
    )
    reps = classes.select(
        F.col("__rep").alias(id_col),
        F.col("__blk").alias(block_col),
        F.col("__vec").alias(vec_col),
    )
    pairs = embedding_near_dup_pairs(
        reps,
        threshold,
        block_col=block_col,
        id_col=id_col,
        vec_col=vec_col,
        block_cap=block_cap,
    )
    comp = connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b")
    dropped_reps = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    # squared norm: > 0 and finite ⇔ the uncollapsed intra-class cosine
    # was exactly 1 (NaN/zero/inf vectors produced NULL/NaN, no pairs) —
    # only such classes drop their non-representative members
    sq = F.aggregate(
        F.col("__vec"),
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    dropped_members = (
        classes.filter(
            (F.size("__ids") >= 2)
            & (sq > 0)
            & (sq < F.lit(float("inf")))
            & F.lit(threshold <= 1.0)
        )
        .select(F.col("__rep"), F.explode("__ids").alias(id_col))
        .filter(F.col(id_col) != F.col("__rep"))
        .select(id_col)
    )
    dropped = dropped_reps.unionByName(dropped_members)
    return vectors.join(dropped, id_col, "left_anti").drop("semdedup_cell")


def label_centroids(
    vectors: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group centroid (mean-pooled embedding) in long format
    (group, pos, centroid_v) — class prototypes / cluster centers, the
    aggregation every curriculum or IVF build step needs.

    posexplode × dim rows feed ONE hash aggregate on (group, pos) with
    map-side partial sums, so the shuffle carries groups × dim partial
    rows, not the corpus — the dataflow equivalent of a vector UDAF, with
    no Python in the loop and a direct SQL mirror. Long format is the
    mergeable form; pivot to arrays at the consumer if needed."""
    return (
        vectors.select(group_col, F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(group_col, "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_v"))
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 8,
    seed: int = 42,
    strategy: str = "block_matmul",
    block_cap: int = 4096,
) -> DataFrame:
    """Pairs with cosine ≥ threshold, compared only within blocks.

    ``block_col=None`` uses LSH buckets as blocks (the scale default, needs
    ``dim``); an explicit column (e.g. a label or shard key) makes the
    operator exact-within-block and SQL-mirrorable for the oracle.

    Two physical strategies (same result set):

    - ``block_matmul`` (default): shuffle on the block key, then one BLAS
      gram-matrix per task via applyInPandas (Arrow). ~10× faster than
      pairwise expressions. Blocks larger than ``block_cap`` rows are
      decomposed into chunk-pair TRIANGLE TASKS (see ``_triangle_tasks``):
      every task holds ≤ 2·block_cap rows, so per-task memory
      (rows×dim doubles + cap² gram) and pair count are bounded no matter
      how skewed the blocking key is — an unbounded block is a straggler
      that never finishes at 100 TB. Result set is identical: chunks
      partition the block, and every chunk pair (including the diagonal)
      is exactly one task.
    - ``join``: within-block pair join with codegen'd cosine — streaming,
      no per-block memory requirement; AQE's skew-join splitting handles
      oversized blocks on this path.
    """
    if block_col is None:
        if dim is None:
            raise ValueError("dim required for LSH blocking")
        vectors = add_lsh_bucket(vectors, dim, n_planes, vec_col, seed)
        block_col = "lsh_bucket"
    if strategy == "join":
        a = vectors.select(
            F.col(block_col).alias("block"),
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("vec_a"),
        )
        b = vectors.select(
            F.col(block_col).alias("block"),
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vec_b"),
        )
        return (
            a.join(b, on=["block"])
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine_sim", F.round(cosine("vec_a", "vec_b"), 6))
            .filter(F.col("cosine_sim") >= threshold)
            .select("id_a", "id_b", "cosine_sim")
        )
    if strategy != "block_matmul":
        raise ValueError(f"unknown strategy {strategy!r}")

    import pandas as pd

    from pyspark.sql import types as T

    # id columns keep the caller's id type (string/UUID ids work, not just
    # bigint) — derive from the input schema instead of hardcoding LongType.
    id_type = vectors.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    def _mat_norms(pdf: "pd.DataFrame") -> tuple["np.ndarray", "np.ndarray"]:
        M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(M, axis=1)
        norms[norms == 0.0] = np.nan  # zero vectors never match (NULL-like)
        return M, norms

    def _empty() -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "id_a": pd.Series([], dtype=object),
                "id_b": pd.Series([], dtype=object),
                "cosine_sim": np.array([], dtype=np.float64),
            }
        )

    def per_task(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ca = int(pdf["__ca"].iloc[0])
        cb = int(pdf["__cb"].iloc[0])
        if ca == cb:
            # diagonal task: upper triangle within one chunk
            pdf = pdf.sort_values(id_col)
            ids = pdf[id_col].to_numpy()
            if len(ids) < 2:
                return _empty()
            M, norms = _mat_norms(pdf)
            # divide-after-matmul, bit-identical to the pre-cap arithmetic
            # (and thus to the 6-dp-rounded oracle boundary)
            S = (M @ M.T) / np.outer(norms, norms)
            iu = np.triu_indices(len(ids), k=1)
            sims = np.round(S[iu], 6)
            mask = sims >= threshold
            return pd.DataFrame(
                {
                    "id_a": ids[iu[0][mask]],
                    "id_b": ids[iu[1][mask]],
                    "cosine_sim": sims[mask],
                }
            )
        # off-diagonal task: full bipartite gram between the two chunks;
        # each unordered cross-chunk pair occurs in exactly this one task
        a_pdf = pdf[pdf["__chunk"] == ca]
        b_pdf = pdf[pdf["__chunk"] == cb]
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return _empty()
        ids_a = a_pdf[id_col].to_numpy()
        ids_b = b_pdf[id_col].to_numpy()
        MA, na = _mat_norms(a_pdf)
        MB, nb = _mat_norms(b_pdf)
        S = (MA @ MB.T) / np.outer(na, nb)
        sims = np.round(S, 6)
        ai, bi = np.nonzero(sims >= threshold)
        xa, xb = ids_a[ai], ids_b[bi]
        # canonical (id_a < id_b) orientation, same as the diagonal/join paths
        lo = np.where(xa < xb, xa, xb)
        hi = np.where(xa < xb, xb, xa)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine_sim": sims[ai, bi]})

    from .relational import triangle_tasks

    tasks = triangle_tasks(
        vectors.select(F.col(block_col).alias("block"), id_col, vec_col),
        id_col,
        block_cap,
    )
    return tasks.groupBy("block", "__ca", "__cb").applyInPandas(per_task, out_schema)
