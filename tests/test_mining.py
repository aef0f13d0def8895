"""Round-6 mining operators: PMI collocations, heavy hitters (exact vs the
built-in frequent-items sketch), fixed-iteration PageRank, and the bucketed
interval-overlap join — edge cases and the guarantees the oracles can't
express (sketch superset property, rank-mass conservation, no-cross-product
plan shape)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_heavy_hitters_freqitems_sketch_is_superset(spark, sf_dir):
    """Spark's freqItems (lossy-counting family) guarantees a SUPERSET of
    the true φ-heavy items — pin exactly that against our exact answer,
    per event type."""
    from mini_project_big_data_analysis_spark.queries import all_queries

    exact = all_queries()["ext_heavy_hitters"].fn(spark, sf_dir).collect()
    from mini_project_big_data_analysis_spark.queries.base import load

    ev = load(spark, sf_dir, "events")
    for etype in {r.event_type for r in exact}:
        want = {r.user_id for r in exact if r.event_type == etype}
        sketch = set(
            ev.filter(F.col("event_type") == etype)
            .select("user_id")
            .stat.freqItems(["user_id"], support=0.005)
            .collect()[0][0]
        )
        assert want <= sketch, f"{etype}: exact {want - sketch} missing from sketch"


def test_pagerank_mass_conserved_and_uniform_baseline(spark, sf_dir):
    """With no dangling nodes (every doc emits 3 in-range-or-dropped edges;
    drops are symmetric), total rank mass stays ~1; and every rank is at
    least the teleport floor (1-d)/N."""
    from mini_project_big_data_analysis_spark.queries import all_queries

    rows = all_queries()["ext_link_pagerank"].fn(spark, sf_dir).collect()
    n = len(rows)
    total_ppm = sum(r.rank_ppm for r in rows)
    # mass conservation up to dropped-edge leakage: ≥90% of 1e6 ppm retained
    assert 0.9e6 <= total_ppm <= 1.000001e6
    floor_ppm = 0.15 / n * 1e6
    assert min(r.rank_ppm for r in rows) >= floor_ppm * 0.999


def test_pmi_empty_and_single_token_docs(spark, tmp_path):
    """Docs with <2 tokens produce no bigrams (ANSI mode: slice/zip must not
    throw on empty arrays); a planted repeated pair dominates PMI."""
    from mini_project_big_data_analysis_spark.queries.ext_mining_q import (
        ext_pmi_collocations,
    )
    import os

    d = str(tmp_path)
    corpus = (
        [(i, "alpha beta", "en", "s", 10) for i in range(5)]
        + [(100, "", "en", "s", 0), (101, "solo", "en", "s", 4)]
        + [(200 + i, f"w{i} filler", "en", "s", 9) for i in range(3)]
    )
    spark.createDataFrame(
        corpus, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(d, "documents.parquet"))
    out = {(r.w1, r.w2): (r.n12, r.pmi) for r in ext_pmi_collocations(spark, d).collect()}
    assert set(out) == {("alpha", "beta")}  # only pair reaching min count 5
    n12, pmi = out[("alpha", "beta")]
    assert n12 == 5
    # alpha→beta is deterministic: p(w1,w2)=5/8, p(w1)=5/8, p(w2)=5/8
    import math

    assert abs(pmi - round(math.log((5 / 8) / ((5 / 8) * (5 / 8))), 6)) < 1e-9


def test_interval_overlap_join_edges(spark):
    """Boundary-touching intervals match (inclusive bounds); disjoint ones
    don't; a pair spanning several shared buckets is emitted exactly once."""
    from mini_project_big_data_analysis_spark.operators.temporal import (
        interval_overlap_join,
    )

    a = spark.createDataFrame(
        [(1, 0, 100), (2, 200, 290), (3, 1000, 9000)],
        "a_id long, a_start long, a_end long",
    )
    b = spark.createDataFrame(
        [(10, 100, 150), (20, 291, 295), (30, 2000, 8000), (40, 50, 60)],
        "b_id long, b_start long, b_end long",
    )
    got = {
        (r.a_id, r.b_id)
        for r in interval_overlap_join(
            a, b, ("a_start", "a_end"), ("b_start", "b_end"), bucket_sec=100
        ).collect()
    }
    # (1,10): touch at 100 → inclusive match; (2,20): gap of 1 → no;
    # (3,30): b nested in a across 60 shared buckets → exactly once;
    # (1,40): b nested in a within one bucket.
    assert got == {(1, 10), (3, 30), (1, 40)}


def test_interval_overlap_plan_is_equi_join(spark, sf_dir):
    """The bucketed rewrite must plan as a hash/sort-merge EQUI join —
    BroadcastNestedLoopJoin here would be the O(n·m) scale-killer the
    operator exists to avoid."""
    from mini_project_big_data_analysis_spark.queries import all_queries

    df = all_queries()["join_interval_overlap"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_bfs_depth_seeds_frontier_and_bounds(spark, sf_dir):
    """`ext_graph_bfs_depth` structural pins the exact-hash oracle can't
    state: (a) the seed set is exactly doc_id % 97 == 0 at dist 0; (b)
    every non-seed reached node has an in-edge from a node one hop
    shallower (BFS frontier optimality — a min() lost to a dropped
    checkpoint or a stale lineage cut would break this); (c) all depths
    lie in [0, 15]."""
    from mini_project_big_data_analysis_spark.queries import all_queries
    from mini_project_big_data_analysis_spark.queries.base import load

    rows = all_queries()["ext_graph_bfs_depth"].fn(spark, sf_dir).collect()
    dist = {r.doc_id: r.dist for r in rows}
    assert dist, "no reached nodes on the smoke fixture"
    assert all(0 <= d <= 15 for d in dist.values())

    doc_ids = [r.doc_id for r in load(spark, sf_dir, "documents").select("doc_id").collect()]
    seeds = {i for i in doc_ids if i % 97 == 0}
    assert seeds == {i for i, d in dist.items() if d == 0}

    n = len(doc_ids)
    present = set(doc_ids)
    in_edges: dict[int, list[int]] = {}
    for src in doc_ids:
        for a, b in [(31, 7), (57, 13), (91, 3)]:
            dst = (src * a + b) % n
            if dst in present:
                in_edges.setdefault(dst, []).append(src)
    for node, d in dist.items():
        if d == 0:
            continue
        preds = in_edges.get(node, [])
        assert any(dist.get(p) == d - 1 for p in preds), (
            f"node {node} at depth {d} has no predecessor at depth {d - 1}"
        )


def test_bfs_depth_unreachable_absent(spark, tmp_path):
    """A doc with no in-edges and a non-seed id must be ABSENT from the
    output (frontier semantics), and a seed-free corpus yields zero rows —
    the coverage signal a curation pipeline reads off this table."""
    import os

    from mini_project_big_data_analysis_spark.queries.ext_mining_q import (
        ext_graph_bfs_depth,
    )

    d = str(tmp_path / "bfs_docs")
    os.makedirs(d, exist_ok=True)
    # ids 1..6, no id % 97 == 0 → no seeds → empty result
    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", "s", None) for i in range(1, 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = ext_graph_bfs_depth(spark, d)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "dist"]


def test_graph_communities_exact_lpa_semantics(spark, sf_dir):
    """`ext_graph_communities` against a pure-Python recompute of the
    declared semantics (8 SYNCHRONOUS min-label rounds over the
    symmetrized citation graph) — independent of both the SQL oracle and
    the Spark plan, so a checkpoint that silently truncated a round, a
    missed reverse edge, or async (in-round) propagation fails here with
    the first diverging node named."""
    from mini_project_big_data_analysis_spark.queries import all_queries
    from mini_project_big_data_analysis_spark.queries.base import load

    rows = all_queries()["ext_graph_communities"].fn(spark, sf_dir).collect()
    got = {r.doc_id: r.community for r in rows}

    doc_ids = [
        r.doc_id for r in load(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    n = len(doc_ids)
    present = set(doc_ids)
    adj: dict[int, set[int]] = {i: set() for i in doc_ids}
    for src in doc_ids:
        for a, b in [(31, 7), (57, 13), (91, 3)]:
            dst = (src * a + b) % n
            if dst in present and dst != src:
                adj[src].add(dst)
                adj[dst].add(src)
    labels = {i: i for i in doc_ids}
    for _ in range(8):
        labels = {
            i: min([labels[i]] + [labels[j] for j in adj[i]]) for i in doc_ids
        }
    diverging = {i for i in doc_ids if got.get(i) != labels[i]}
    assert not diverging, (
        f"{len(diverging)} nodes diverge, first: "
        f"{(d := min(diverging))} got={got.get(d)} want={labels[d]}"
    )
    # the fixture graph actually merges labels (the id is not a rename)
    assert len(set(labels.values())) < n


def test_graph_local_finish_matches_distributed(spark, sf_dir, monkeypatch):
    """Round-16 local-finish pin for the bounded-round graph queries: under
    the small-graph gate the driver-side synchronous min-relaxation must
    return exactly the distributed loop's rows for BOTH ids (same reached
    set, same depths/labels) — the two paths differ only in where the
    arithmetic runs."""
    from mini_project_big_data_analysis_spark.operators import components
    from mini_project_big_data_analysis_spark.queries import all_queries

    reg = all_queries()
    gate = components.LOCAL_FINISH_EDGES
    for qid, key in [("ext_graph_bfs_depth", "dist"), ("ext_graph_communities", "community")]:
        monkeypatch.setattr(components, "LOCAL_FINISH_EDGES", gate)
        local = {r.doc_id: r[key] for r in reg[qid].fn(spark, sf_dir).collect()}
        monkeypatch.setattr(components, "LOCAL_FINISH_EDGES", 0)
        dist = {r.doc_id: r[key] for r in reg[qid].fn(spark, sf_dir).collect()}
        assert local == dist, f"{qid}: local finish diverges from the distributed loop"
