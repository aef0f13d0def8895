"""Relational operators (SURVEY.md §2.2-2.7) as a declarative library.

Everything here is a thin composition of DataFrame built-ins — deliberately
boring (SURVEY.md §7 "what's hard"), because Catalyst then gives predicate
pushdown, column pruning, broadcast selection and AQE for free. The value of
the layer is pinned semantics: sample stddev, banker's rounding, defaults on
non-matching joins, pandas-compatible pivot behavior.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import datetime_fns, json_fns
from ..schemas import WEATHER_ARRAY


def clean_weather(raw: DataFrame) -> DataFrame:
    """The consumer's flatten/clean/derive pipeline (consumer.py:32-76) as
    one declarative projection + filter.

    Input shape: schemas.RAW_WEATHER with ``weather`` as a raw JSON string
    (the polymorphic boundary form). Output: schemas.CLEAN_WEATHER.
    Narrow, map-only — no shuffle at any scale.
    """
    weather_arr = json_fns.parse_polymorphic_array("weather_raw", WEATHER_ARRAY)
    return (
        raw.withColumn("weather_arr", weather_arr)
        .select(
            F.trim(F.col("name")).alias("city"),  # producer.py:36 strip
            F.col("main.temp").alias("temperature"),
            F.col("main.humidity").alias("humidity"),
            F.col("main.pressure").alias("pressure"),
            json_fns.first_element_field("weather_arr", "description").alias("weather"),
            F.col("wind.speed").alias("wind_speed"),
            F.col("coord").alias("coordinates"),
            datetime_fns.ts_format(
                datetime_fns.ts_add_offset_seconds(
                    datetime_fns.epoch_to_ts("dt"), "timezone"
                )
            ).alias("local_time"),
            F.col("dt"),
        )
        # completeness gate (consumer.py:55-57): temp, humidity, dt required
        .filter(
            F.col("temperature").isNotNull()
            & F.col("humidity").isNotNull()
            & F.col("dt").isNotNull()
        )
        .drop("dt")
    )


def dim_lookup(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    dim_value: str,
    default: str,
    out_col: str | None = None,
) -> DataFrame:
    """Dictionary-lookup enrichment (get_pulau, app.py:25-29,46) as a
    broadcast left join with a default for non-matches.

    ``broadcast(dim)`` is load-bearing at scale: the dimension ships to every
    executor once and the fact table never shuffles.
    """
    out = out_col or dim_value
    # Alias the dim's columns before joining so a shared key name (city==city,
    # the documented get_pulau shape) never collides: DataFrame.drop(name)
    # removes ALL columns with that name, including the fact's.
    d = dim.select(
        F.col(dim_key).alias("__dim_key"), F.col(dim_value).alias("__dim_val")
    )
    joined = fact.join(
        F.broadcast(d), on=fact[fact_key] == d["__dim_key"], how="left"
    )
    return joined.withColumn(out, F.coalesce(F.col("__dim_val"), F.lit(default))).drop(
        "__dim_key", "__dim_val"
    )


def salted_equi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join (SURVEY.md §4.4): append a deterministic
    salt in [0, salt) to the fact side (hash of all its columns, so rows of
    one hot key scatter) and replicate the dim side ×salt, then join on
    (key, salt). Output is identical to the plain join; the hot key's rows
    land on ``salt`` reducers instead of one.

    Use when a known skewed key overwhelms AQE's runtime skew splitting
    (e.g. the NULL/default bucket of a dimension). Cost: dim inflates
    ×salt — only appropriate for broadcast-size-ish dims or modest salt.
    """
    fact_salted = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salt))
    )
    dim_salted = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = fact_salted.join(
        dim_salted,
        on=[fact_salted[fact_key] == dim_salted[dim_key],
            fact_salted["__salt"] == dim_salted["__salt"]],
        how=how,
    )
    return joined.drop("__salt")


def value_counts(df: DataFrame, col: str) -> DataFrame:
    """Frequency table (app.py:144-146): (value, count) sorted count-desc,
    value-asc tiebreak for determinism."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc(col))
    )


def describe_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """``df.describe()`` analog (analysis.ipynb:cell2:2) in long format:
    one row per column with count/mean/stddev/min/max.

    Exact (not approximate) everywhere so it is oracle-checkable; quartiles
    are intentionally excluded from the exact contract (Spark's summary()
    quartiles are approx — SURVEY.md §2.4 agg_describe note) and available
    via ``approx_quartiles``.
    """
    # ONE aggregate job over all columns (at 100 TB, one scan — not one per
    # column), then a stack() unpivot of the single result row into long form.
    # SQL strings, not Column chains: each F.* call is a JVM round trip.
    stats = {
        "n": "count(`{c}`)",
        "mean": "round(avg(`{c}`), 6)",
        "stddev": "round(stddev_samp(`{c}`), 6)",
        "min": "round(CAST(min(`{c}`) AS DOUBLE), 6)",
        "max": "round(CAST(max(`{c}`) AS DOUBLE), 6)",
    }
    row = df.selectExpr(
        *(f"{agg.format(c=c)} AS `{c}__{name}`" for c in cols for name, agg in stats.items())
    )
    stacked = ", ".join(
        f"'{c}', " + ", ".join(f"`{c}__{name}`" for name in stats) for c in cols
    )
    return row.selectExpr(
        f"stack({len(cols)}, {stacked}) AS (column, n, mean, stddev, min, max)"
    )


def approx_quartiles(df: DataFrame, col: str, accuracy: int = 10000) -> DataFrame:
    """25/50/75th percentiles via approx_percentile — the scale-appropriate
    sketch (exact percentiles need a full sort at 100 TB)."""
    return df.agg(
        F.percentile_approx(col, [0.25, 0.5, 0.75], accuracy).alias("quartiles")
    ).select(
        F.col("quartiles")[0].alias("q25"),
        F.col("quartiles")[1].alias("q50"),
        F.col("quartiles")[2].alias("q75"),
    )


def pivot_matrix(
    df: DataFrame,
    index: str,
    columns: str,
    values: str,
    pivot_values: list[str] | None = None,
) -> DataFrame:
    """Pivot table with mean aggfunc (app.py:153 pandas default).

    Passing ``pivot_values`` explicitly skips Spark's distinct-scan planning
    pass AND pins output column order — at 100 TB the implicit distinct over
    the pivot column is a full extra job, so callers should always pass it
    when the domain is known.
    """
    gb = df.groupBy(index)
    piv = gb.pivot(columns, pivot_values) if pivot_values else gb.pivot(columns)
    return piv.agg(F.round(F.avg(values), 6))


def global_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Multi-aggregate over the filtered set (app.py:116-124): mean/min/max/
    sample-stddev per column, single pass, single row."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.round(F.avg(c), 6).alias(f"avg_{c}"),
            F.round(F.min(c), 6).alias(f"min_{c}"),
            F.round(F.max(c), 6).alias(f"max_{c}"),
            F.round(F.stddev_samp(c), 6).alias(f"std_{c}"),
        ]
    return df.agg(*aggs)


def distributed_global_rank(
    df: DataFrame,
    key: str,
    tie_cols: list[str],
    *,
    n_buckets: int = 32,
    bounds: list[float] | None = None,
    rank_col: str = "gr_i",
    total_col: str = "gr_n",
) -> DataFrame:
    """Exact global 1-based row_number over (key ASC, *tie_cols ASC) without
    dragging the table through one task — the library form of the
    ext_gini_concentration recipe (ext_timeseries_q.py).

    An unpartitioned ``row_number().over(Window.orderBy(...))`` plans as
    Exchange SinglePartition + one WindowExec task; at corpus/user grain
    that is the classic 100 TB scale-killer. Instead: bucket each row by a
    DETERMINISTIC function of the key value itself (boundary literals from
    one bounded approxQuantile collect — never ``spark_partition_id``,
    whose RangePartitioner sampling is not reproducible across jobs),
    row_number within each bucket, then add per-bucket offsets computed
    in-plan (a broadcast self-cross of the ≤ n_buckets+1-row bucket-count
    table — not a running-sum window, so the plan contains NO
    unpartitioned WindowExec at all, bounded or otherwise — broadcast
    back). Ties on ``key`` share a bucket by construction, so tie-breaks
    stay bucket-local and the rank equals the single-window spelling
    exactly.

    ``key`` must be non-null and numeric, sorted ASCENDING — callers
    wanting DESC negate the column first. ``bounds`` lets callers reuse
    one multi-column ``approxQuantile`` action across several ranks (the
    RFM pattern); when None, one approxQuantile job runs here. Pick
    ``n_buckets`` ≈ target parallelism; each bucket is one window task.

    Returns ``df`` plus ``rank_col`` (BIGINT, 1-based) and ``total_col``
    (BIGINT, the global row count — free from the bucket table, so ntile
    arithmetic needs no second action).
    """
    from pyspark.sql import Window

    if bounds is None:
        bounds = df.approxQuantile(
            key, [i / n_buckets for i in range(1, n_buckets)], 0.001
        )
    uniq = sorted(set(bounds))
    if uniq:
        barr = F.array(*[F.lit(b) for b in uniq])
        pid = F.size(F.filter(barr, lambda b: b <= F.col(key)))
    else:
        pid = F.lit(0)
    # Enforce the documented non-null precondition at execution time
    # (ADVICE r8): a NULL key would bucket-0 NULLS FIRST here while the
    # single-window spelling it must match puts NULLS LAST under the
    # DESC-via-negation callers, and approxQuantile ignored it when the
    # boundaries were drawn — silent quintile drift. Fail loudly instead;
    # callers filter or coalesce NULLs first.
    pid = F.when(
        F.col(key).isNull(),
        F.raise_error(
            F.lit(
                f"distributed_global_rank: NULL in key column {key!r} — "
                "filter or coalesce NULL keys before ranking"
            )
        ).cast("int"),
    ).otherwise(pid)
    parts = df.withColumn("__gr_pid", pid)
    cnt = parts.groupBy("__gr_pid").agg(F.count(F.lit(1)).alias("__gr_c"))
    cnt_b = cnt.select(
        F.col("__gr_pid").alias("__gr_pid_b"), F.col("__gr_c").alias("__gr_c_b")
    )
    off_df = (
        cnt.crossJoin(F.broadcast(cnt_b))
        .groupBy("__gr_pid")
        .agg(
            F.sum(
                F.when(
                    F.col("__gr_pid_b") < F.col("__gr_pid"), F.col("__gr_c_b")
                ).otherwise(F.lit(0))
            ).alias("__gr_off"),
            F.sum("__gr_c_b").alias(total_col),
        )
    )
    w_local = Window.partitionBy("__gr_pid").orderBy(key, *tie_cols)
    return (
        parts.withColumn("__gr_li", F.row_number().over(w_local))
        .join(F.broadcast(off_df), "__gr_pid")
        .withColumn(rank_col, (F.col("__gr_li") + F.col("__gr_off")).cast("bigint"))
        .drop("__gr_pid", "__gr_li", "__gr_off")
    )


def exact_ntile(rank_col: str, total_col: str, k: int) -> Column:
    """ntile(k) as row-local integer arithmetic on a precomputed global
    rank — the companion to ``distributed_global_rank``.

    SQL ntile semantics: with n rows, q = n div k and r = n mod k, buckets
    1..r hold q+1 rows and buckets r+1..k hold q rows. Given the 1-based
    rank i that is a closed form; spelled with integer ``div`` so no float
    division can mis-round at any scale. The q = 0 (n < k) edge resolves
    entirely in the WHEN branch (bucket = i), so the ELSE's ``div q``
    never sees zero — CASE short-circuits per row. Cast to INT to match
    Spark's native ntile output type (oracle-schema stable)."""
    q = f"({total_col} div {k})"
    r = f"({total_col} % {k})"
    h = f"({q} + 1)"
    i = rank_col
    return F.expr(
        f"CASE WHEN {i} <= {r} * {h} THEN ({i} + {h} - 1) div {h} "
        f"ELSE {r} + (({i} - {r} * {h} + {q} - 1) div {q}) END"
    ).cast("int")


def triangle_tasks(sized: DataFrame, id_col: str, block_cap: int) -> DataFrame:
    """Decompose each block into bounded chunk-pair tasks (triangle join).

    ``sized`` must carry a ``block`` column. A block of n rows is hash-split
    into g = ceil(n / block_cap) disjoint chunks; every unordered chunk pair
    (ca ≤ cb) — including the diagonal — becomes one task keyed
    (block, __ca, __cb), and each row is replicated to the g tasks it
    participates in. Per-task row count is ≤ 2·block_cap and per-task pair
    count ≤ block_cap², whatever the block-size distribution — the standard
    bounded-memory decomposition of a quadratic self-comparison (O(n·g)
    replication total ≈ n²/cap work, evenly spread, no straggler).

    For blocks at or under the cap g = 1: a single (0, 0) task carrying the
    block unchanged. The block-count aggregate is map-side-partial cheap,
    and AQE broadcasts it into the row join when small."""
    payload = [c for c in sized.columns if c not in ("block", id_col)]
    counts = sized.groupBy("block").agg(F.count(F.lit(1)).alias("__bn"))
    return (
        sized.join(counts, "block")
        .withColumn(
            "__g",
            F.greatest(F.lit(1), F.ceil(F.col("__bn") / F.lit(block_cap))).cast("int"),
        )
        .withColumn(
            "__chunk",
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.col("__g")).cast("int"),
        )
        .select(
            "block",
            id_col,
            *payload,
            "__chunk",
            F.explode(F.sequence(F.lit(0), F.col("__g") - 1)).alias("__other"),
        )
        .select(
            "block",
            id_col,
            *payload,
            "__chunk",
            F.least("__chunk", "__other").alias("__ca"),
            F.greatest("__chunk", "__other").alias("__cb"),
        )
    )


def capped_self_join_pairs(
    df: DataFrame,
    block_cols: list[str],
    id_col: str,
    payload_cols: list[str],
    block_cap: int = 4096,
) -> DataFrame:
    """Every within-block unordered pair exactly once, with bounded per-key
    join groups: the relational form of ``triangle_tasks`` for pair
    operators that stay in codegen (levenshtein, array_intersect, …) rather
    than a BLAS gram.

    A plain blocked self-join concentrates a skewed block's whole O(n²)
    output on one join key; here both sides of every join key hold
    ≤ block_cap rows, so no task degenerates however skewed the blocking
    key is. Output columns: block, id_a, id_b, a_<payload>, b_<payload>,
    canonically oriented id_a < id_b."""
    sized = df.select(
        F.struct(*[F.col(c) for c in block_cols]).alias("block"),
        F.col(id_col),
        *[F.col(c) for c in payload_cols],
    )
    tasks = triangle_tasks(sized, id_col, block_cap)
    a = tasks.filter(F.col("__chunk") == F.col("__ca")).select(
        "block",
        "__ca",
        "__cb",
        F.col(id_col).alias("__ida"),
        *[F.col(c).alias(f"__a_{c}") for c in payload_cols],
    )
    b = tasks.filter(F.col("__chunk") == F.col("__cb")).select(
        "block",
        "__ca",
        "__cb",
        F.col(id_col).alias("__idb"),
        *[F.col(c).alias(f"__b_{c}") for c in payload_cols],
    )
    pairs = a.join(b, on=["block", "__ca", "__cb"]).filter(
        # diagonal tasks pair a chunk with itself: keep the upper triangle.
        # off-diagonal chunks are disjoint: every cross pair, exactly once.
        (F.col("__ca") < F.col("__cb")) | (F.col("__ida") < F.col("__idb"))
    )
    swapped = F.col("__ida") > F.col("__idb")
    sel = [
        F.col("block"),
        F.when(swapped, F.col("__idb")).otherwise(F.col("__ida")).alias("id_a"),
        F.when(swapped, F.col("__ida")).otherwise(F.col("__idb")).alias("id_b"),
    ]
    for c in payload_cols:
        sel.append(
            F.when(swapped, F.col(f"__b_{c}")).otherwise(F.col(f"__a_{c}")).alias(f"a_{c}")
        )
        sel.append(
            F.when(swapped, F.col(f"__a_{c}")).otherwise(F.col(f"__b_{c}")).alias(f"b_{c}")
        )
    return pairs.select(*sel)


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    max_dist: int = 2,
) -> DataFrame:
    """Exact edit-distance pair join (Levenshtein ≤ 2) over
    (``block_cols``, length) blocks, WITHOUT quadratic candidate
    generation and WITHOUT hot-key degeneration on low-entropy strings.

    Two fixed-position schemes were measured and rejected on the customer
    fixture before this design: contiguous thirds (PassJoin segments) and
    frequency-ordered q-gram prefixes (SSJoin/ED-Join) both let the
    constant "Customer#0…" region become a block-constant join key —
    every row lands in the same bucket and the candidate join silently
    regrows Σ block² (20M / 12M candidates for 163k true pairs at sf0.1).

    This version exploits the EQUAL-LENGTH structure exactly. For equal
    lengths, an optimal ≤2-cost edit script has i inserts = d deletes, so
    (i,d,s) ∈ {(0,0,≤2), (1,1,0)} — every qualifying pair is either

    1. **Hamming ≤ 2**: at most 2 positions differ, so of the 3
       INTERLEAVED position classes (p mod 3) at least one is untouched —
       candidates join on (class, chars at that class's positions).
       Interleaving is the point: a contiguous constant prefix spreads
       ACROSS all three keys instead of saturating one, so each key
       carries every third character of the discriminative region too.
    2. **One insert + one delete**: deleting one char from each side can
       equalize them, i.e. the deletion-1 neighborhoods intersect
       (symmetric-delete / SymSpell family, public) — candidates join on
       the deduplicated delete-1 strings.

    Both key families are generated per DISTINCT (block, length, value) —
    exact-duplicate classes collapse to one representative first (the
    round-7 dedup-tier rule: a D-member class costs D, not D², through
    the join) and expand row-locally afterwards: intra-class pairs at
    distance 0, cross-class pairs inheriting their value pair's verified
    distance. Candidates are deduped and verified with the codegen'd
    ``levenshtein`` kernel, so key collisions cost time, never
    correctness; low-entropy tails (e.g. length ≤ 2, where a position
    class is empty) degrade to small in-block verification, not failure.

    Output: (a_id, b_id, dist) with a < b canonical ordering.
    """
    if max_dist != 2:
        raise ValueError("key schemes above are derived for max_dist=2")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__s"),
        F.length(text_col).alias("__len"),
        *[F.col(c) for c in block_cols],
    )
    cls = base.groupBy(*block_cols, "__len", "__s").agg(
        F.min("__id").alias("rep"),
        F.sort_array(F.collect_list("__id")).alias("ids"),
        F.count(F.lit(1)).alias("csize"),
    )
    vals = cls.select(*block_cols, "__len", "__s", "rep")

    # key family 1: interleaved position classes (Hamming ≤ 2 pigeonhole)
    ham_keys = F.array(
        *[
            F.struct(
                F.lit(f"h{c}").alias("kind"),
                F.expr(
                    "array_join(transform(sequence("
                    f"{c + 1}, greatest(__len, {c + 1}), 3),"
                    " i -> substring(__s, i, 1)), '')"
                ).alias("key"),
            )
            for c in range(3)
        ]
    )
    # key family 2: deletion-1 neighborhood (covers the 1-ins+1-del case)
    del_keys = F.expr(
        "transform(array_distinct(transform(sequence(1, __len),"
        " i -> concat(substring(__s, 1, i - 1), substring(__s, i + 1, __len)))),"
        " k -> named_struct('kind', 'd', 'key', k))"
    )
    # The candidate join is keyed on xxhash64(kind, key) — one int64 —
    # instead of the (kind, key) strings (round 17, guide §2.3 "narrower
    # types"): the key strings are ~⅓ of every shuffled row and the join
    # comparison cost. EXACTNESS IS PRESERVED BY THE EXISTING DESIGN, not
    # by the hash: every candidate is verified with codegen'd levenshtein
    # and deduped on (a_rep, b_rep), so a 64-bit collision can only create
    # a false CANDIDATE that verification drops (or a true pair already
    # found via its true key, which dropDuplicates collapses) — "key
    # collisions cost time, never correctness" is this operator's stated
    # contract. block_cols and __len stay as real join columns: they are
    # NOT re-verified downstream, so they must never ride the hash.
    keyed = vals.select(
        *block_cols,
        "__len",
        "__s",
        "rep",
        F.explode(F.concat(ham_keys, del_keys)).alias("k"),
    ).select(
        *block_cols, "__len", "__s", "rep", F.xxhash64("k.kind", "k.key").alias("hk")
    )
    a = keyed.select(
        *block_cols,
        "__len",
        "hk",
        F.col("rep").alias("a_rep"),
        F.col("__s").alias("a_s"),
    )
    b = keyed.select(
        *block_cols,
        "__len",
        "hk",
        F.col("rep").alias("b_rep"),
        F.col("__s").alias("b_s"),
    )
    val_pairs = (
        a.join(b, [*block_cols, "__len", "hk"])
        .filter(F.col("a_rep") < F.col("b_rep"))
        .dropDuplicates(["a_rep", "b_rep"])
        .withColumn("dist", F.levenshtein("a_s", "b_s").cast("long"))
        .filter(F.col("dist") <= max_dist)
        .select("a_rep", "b_rep", "dist")
    )
    # expand: intra-class pairs are distance 0 by construction
    intra = (
        cls.filter(F.col("csize") >= 2)
        .select(F.explode("ids").alias("a_id"), F.col("ids").alias("__ids"))
        .select("a_id", F.explode("__ids").alias("b_id"))
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("dist", F.lit(0).cast("long"))
    )
    members = cls.select("rep", "ids")
    cross = (
        val_pairs.join(members.withColumnsRenamed({"rep": "a_rep", "ids": "a_ids"}), "a_rep")
        .join(members.withColumnsRenamed({"rep": "b_rep", "ids": "b_ids"}), "b_rep")
        .select(F.explode("a_ids").alias("a_m"), "b_ids", "dist")
        .select("a_m", F.explode("b_ids").alias("b_m"), "dist")
        .select(
            F.least("a_m", "b_m").alias("a_id"),
            F.greatest("a_m", "b_m").alias("b_id"),
            "dist",
        )
    )
    return intra.unionByName(cross).select("a_id", "b_id", "dist")
