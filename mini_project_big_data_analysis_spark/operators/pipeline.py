"""Training-data pipeline operators: deterministic split / sample / mix /
sequence-packing over document corpora.

These are the corpus-preparation steps between "deduplicated documents" and
"training batches" in an LLM data pipeline. None exists in the reference
(whose pipeline stops at a dashboard), but they are the natural extension of
its ingest→clean→aggregate flow to the training-data domain this engine
targets, and every one is built for the 100 TB shape:

- **Determinism via content hashing, not RNG.** Every assignment (split,
  sample keep/drop, mixture pick) is a pure function of a row's id and a
  salt: ``md5(id || salt)`` → 32-bit bucket. Re-runs, retries, and adding
  machines cannot change the output (Spark's ``rand()`` is
  partition-placement-dependent; a hash is not), and the same formula runs
  in any ANSI SQL engine — which is what makes the DuckDB oracles byte-exact.
- **No shuffle for split/sample/mix** — they are row-local ``withColumn`` /
  ``filter`` operations that pipeline into whatever scan precedes them, and
  they compose with partition pruning and pushdown untouched.
- **One shuffle for packing** — sequence packing is a prefix-sum, inherently
  order-dependent; it shards first (hash of doc id) and packs each shard
  independently with a window, so the only shuffle is by shard key and no
  single task ever sees more than one shard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Bucket space for hash assignment: md5-prefix → [0, 2^32).
_BUCKETS = 1 << 32


def hash_bucket(col: Column | str, salt: str = "") -> Column:
    """Deterministic 32-bit bucket from a row id: first 8 hex chars of
    ``md5(id || salt)`` as an unsigned int. Mirrored in SQL as
    ``('0x' || substr(md5(id || salt), 1, 8))::UBIGINT``."""
    keyed = F.concat(F.col(col).cast("string") if isinstance(col, str) else col.cast("string"), F.lit(salt))
    return F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("bigint")


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split (train/val/test/...) by hash.

    ``weights`` maps split name → fraction; fractions are cut points on the
    hash-bucket space in the dict's iteration order, so the assignment is a
    row-local CASE over ``hash_bucket`` — no shuffle, no RNG, stable under
    re-partitioning and incremental re-runs (a new file's rows land in
    splits without moving any old row: the property RNG-based splits lose).
    The salt versions the split: bump it to draw a fresh assignment.
    """
    total = sum(weights.values())
    bucket = hash_bucket(id_col, salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cut = int(acc * _BUCKETS)
        cond = bucket < F.lit(cut)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)


def stratified_sample_hash(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its hash
    bucket falls under its stratum's rate. The workhorse for rebalancing a
    corpus (e.g. cap English at 10%, keep low-resource languages whole)
    without an RNG: same input ⇒ same sample, on any cluster size, and the
    filter is row-local (pipelines into the scan, no shuffle).
    """
    bucket = hash_bucket(id_col, salt)
    rate_expr = None
    for stratum, rate in rates.items():
        cond = F.col(strata_col) == stratum
        rate_expr = F.when(cond, rate) if rate_expr is None else rate_expr.when(cond, rate)
    rate_expr = F.lit(default_rate) if rate_expr is None else rate_expr.otherwise(default_rate)
    return df.filter(bucket < (rate_expr * _BUCKETS).cast("bigint"))


def dataset_mix(
    sources: list[tuple[str, DataFrame, float]],
    id_col: str = "doc_id",
    salt: str = "mix-v1",
    source_col: str = "source",
) -> DataFrame:
    """Weighted mixture of corpora with provenance: hash-sample each source
    at its weight, tag it, union by name. The standard "30% code, 60% web,
    10% books" recipe as one deterministic operator — each leg stays a
    row-local filter on its own scan (no shuffle; the union is a plan-level
    concatenation), so each source's pushdown/pruning survives intact.
    """
    legs = []
    for name, df, weight in sources:
        keep = hash_bucket(id_col, salt + name) < int(weight * _BUCKETS)
        legs.append(df.filter(keep).withColumn(source_col, F.lit(name)))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def pack_sequences(
    df: DataFrame,
    capacity: int,
    n_shards: int = 64,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: str = "pack-v1",
) -> DataFrame:
    """Sequence packing: concatenate documents in deterministic order and
    cut at ``capacity``-token boundaries (the standard LM-pretraining
    "concat then chunk" packing). Emits per-document placement:
    ``(shard, pack_id, pack_offset)`` — pack ``(shard, pack_id)`` holds the
    bytes ``[pack_offset, pack_offset + n_tokens)`` of each member, with
    documents straddling a boundary flagged ``spans_boundary``.

    Scale shape: a global prefix-sum would serialize, so documents are first
    hash-sharded (deterministic, ``n_shards``-way); each shard packs
    independently under one window — the plan is a single shuffle on the
    shard key, then a per-shard sort feeding a running sum. Shards are
    independent training streams, which is exactly how multi-worker loaders
    consume packed data.
    """
    shard = (hash_bucket(id_col, salt) % n_shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return (
        df.select(id_col, token_col)
        .withColumn("shard", shard)
        .withColumn("pack_start", start)
        .select(
            id_col,
            "shard",
            token_col,
            F.floor(F.col("pack_start") / capacity).cast("bigint").alias("pack_id"),
            (F.col("pack_start") % capacity).cast("bigint").alias("pack_offset"),
            (
                F.floor(F.col("pack_start") / capacity)
                != F.floor((F.col("pack_start") + F.col(token_col) - 1) / capacity)
            ).alias("spans_boundary"),
        )
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    k-token gram with the benchmark set (the n-gram collision check every
    LLM data pipeline runs before training, so eval data doesn't leak into
    the corpus).

    Returns (id, n_shared_grams) for flagged docs only. Scale shape: the
    benchmark side is eval suites — thousands of docs, not billions — so
    its distinct gram set broadcasts; the training side streams through a
    broadcast hash join after its gram explode. No shuffle of training
    data at all: explode → broadcast-join → partial-agg on the id.
    """
    from pyspark.sql import functions as F

    from ..functions.text_fns import shingles_from_tokens, whitespace_tokens

    # Tokenize in a STAGED select so the shingle transform references a
    # materialized array, not an inline split re-evaluated per gram (the
    # quadratic-in-doc-length trap; see shingles_from_tokens docstring).
    bench_grams = (
        benchmark.select(whitespace_tokens(text_col).alias("__toks"))
        .select(F.explode(shingles_from_tokens("__toks", k)).alias("g"))
        .distinct()
    )
    # The interpreted shingle HOF dominates cost and a single-file input
    # would run it on one core — spread to cluster parallelism first
    # (measured 9s -> 0.6s at sf0.1 on local[32]).
    n_parts = max(train.sparkSession.sparkContext.defaultParallelism, 8)
    train_grams = (
        train.repartition(n_parts, id_col)
        .select(F.col(id_col), whitespace_tokens(text_col).alias("__toks"))
        .select(F.col(id_col), F.explode(shingles_from_tokens("__toks", k)).alias("g"))
    )
    return (
        train_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count_distinct("g").alias("n_shared_grams"))
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    k: int,
    rank_col: str = "grp_rank",
) -> DataFrame:
    """Per-group quota: keep at most ``k`` rows per ``group_col``, ranked by
    ``order_cols`` — the per-domain document cap every web-corpus curation
    recipe applies (an over-crawled domain must not dominate the training
    mix, so each domain contributes only its ``k`` best documents).

    Scale shape: ``row_number() ≤ k`` over a partitioned window compiles to
    WindowGroupLimit — each shuffle partition keeps only its groups' top-k
    BEFORE the final rank (map-side group-limit), so the shuffle carries
    O(groups × k) rows, not the corpus. One shuffle on the group key, no
    global sort, no driver state. ``order_cols`` must be a total order
    (include the id as tiebreak) or the kept set is nondeterministic.
    """
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= k)
    )


def token_budget_mix(
    df: DataFrame,
    group_col: str,
    token_col: str,
    id_col: str = "doc_id",
    salt: str = "budget-v1",
) -> DataFrame:
    """Token-budget rebalancing: downsample every group to (at most) the
    token count of the SMALLEST group — the "uniform token budget per
    source" mixture, where sampling rates are DERIVED FROM THE DATA
    (rate_g = min_h(T_h) / T_g) instead of hand-set weights
    (:func:`dataset_mix`'s contract). Keep/drop stays a deterministic
    content-hash draw, so re-runs and repartitioning cannot move a document.

    Scale shape: one aggregation to the per-group token totals (map-side
    partials; ``groups`` rows), a broadcast of that kilobyte-sized rate
    table back onto the corpus, and a row-local hash filter — the corpus
    itself is never shuffled. Rates are rounded to 6dp and applied as
    integer cut points in the 2^32 hash space, which is what makes the SQL
    oracle byte-exact. A group whose total is 0/NULL keeps rate semantics
    NULL-out (no draws) except the explicit ``T = 0`` → keep-all guard.
    """
    totals = df.groupBy(group_col).agg(F.sum(token_col).alias("__t"))
    mn = totals.agg(F.min("__t").alias("__mn"))
    rates = totals.crossJoin(F.broadcast(mn)).select(
        group_col,
        F.when(F.col("__t") == 0, F.lit(1.0))
        .otherwise(
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("__mn").cast("double") / F.col("__t").cast("double"),
                ),
                6,
            )
        )
        .alias("rate"),
    )
    thr = rates.select(
        group_col,
        F.floor(F.col("rate") * F.lit(float(_BUCKETS))).cast("long").alias("__cut"),
    )
    return (
        df.join(F.broadcast(thr), group_col)
        .filter(hash_bucket(id_col, salt) < F.col("__cut"))
        .drop("__cut")
    )
