"""Physical-plan regression guards: the optimizations SCALE.md claims
must actually appear in the plans (pushdown, pruning, broadcast,
partial aggregation)."""

import re

import __spark_entry__ as em


def _plan(spark, sf_dir, name) -> str:
    df = em.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "select_project")
    assert "PushedFilters" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "select_project")
    # only the three selected columns are read from parquet
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>" in plan


def test_dimension_join_broadcasts(spark, sf_dir):
    assert "BroadcastHashJoin" in _plan(spark, sf_dir, "join_unique")
    assert "BroadcastHashJoin" in _plan(spark, sf_dir, "tpch_q5_volume")


def test_anti_join_strategy(spark, sf_dir):
    plan = _plan(spark, sf_dir, "except_anti")
    assert "LeftAnti" in plan


def test_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_pricing_summary")
    # partial (map-side) then final hash aggregate around one exchange
    assert plan.count("HashAggregate") >= 2


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_k")
    assert "TakeOrderedAndProject" in plan


def test_flagship_no_python_in_plan(spark, sf_dir):
    # the whole compat chain compiles to JVM expressions - no Python eval
    plan = _plan(spark, sf_dir, "flagship")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_flagship_plan_shape(spark, sf_dir):
    """r2→r3 regression pin: the lazy-uniqueness check must ride a
    broadcast dup-key probe, not an Exchange+Sort+Window on the full
    dimension (the round-2 flagship slowdown). The only ordering node
    allowed is the final TakeOrderedAndProject."""
    import re

    plan = _plan(spark, sf_dir, "flagship")
    assert not re.search(r"\bWindow\b", plan), "window-based unique check returned"
    assert not re.search(r"\bSortAggregate\b", plan), "string-buffer agg fallback"
    assert not re.search(r"(?<!TakeOrderedAndProjec)\bSort\b", plan.replace(
        "TakeOrderedAndProject", "")), "unexpected sort on the row path"
    assert "TakeOrderedAndProject" in plan


def test_near_dup_paths_avoid_nested_loop(spark, sf_dir):
    # VERDICT r1 #3/#4: embedding near-dup (grid) and simhash near-pairs
    # (pigeonhole chunks) must be equi-joins, never BroadcastNestedLoop
    for q in ("dedup_embedding", "dedup_embedding_lsh", "simhash_pairs"):
        assert "BroadcastNestedLoop" not in _plan(spark, sf_dir, q), q


def test_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    from csvplus_spark import load_table

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "ev_part")
    ev.to_parquet(path, partition_by=["event_type"])
    back = spark.read.parquet(path).filter("event_type = 'purchase'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    # pruned read touches only the purchase partition
    assert back.count() == ev.df.filter("event_type = 'purchase'").count()


def test_training_pipeline_plan_clean(spark, sf_dir):
    # the 5-stage composed pipeline must stay free of nested-loop joins,
    # cartesian products, and row-wise Python
    plan = _plan(spark, sf_dir, "training_set")
    for marker in ("BroadcastNestedLoop", "CartesianProduct", "BatchEvalPython"):
        assert marker not in plan, marker


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    from csvplus_spark import load_table
    from csvplus_spark.sources.bucketed import read_bucketed, write_bucketed

    o = load_table(spark, sf_dir, "orders").df.select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").df.select("l_orderkey", "l_quantity")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(o, "b_orders", "o_orderkey", 8)
        write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
                       "b_lineitem", "o_orderkey", 8)
        # at test SF both sides fit the broadcast threshold, which hides
        # the bucketing; disable it to see the big-table plan shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = read_bucketed(spark, "b_orders").join(
            read_bucketed(spark, "b_lineitem"), "o_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        # co-located: the bucketing IS the shuffle — no Exchange at all
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        # and it computes the same rows as the plain join
        plain = o.join(li, o["o_orderkey"] == li["l_orderkey"]).count()
        assert j.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_loaded_index_lookup_pushes_down(spark, sf_dir, tmp_path,
                                        monkeypatch):
    from csvplus_spark import Index, load_table
    from csvplus_spark.operators import scanprobe

    idx = load_table(spark, sf_dir, "customer", string_mode=True) \
        .unique_index_on("c_custkey")
    path = str(tmp_path / "cust_idx")
    idx.write_to(path)
    # a reloaded index within the driver cap serves lookups from its
    # sorted driver copy: a local relation, no scan
    hit = Index.load(spark, path).find("42")
    assert hit.df.isLocal() and hit.count() == 1
    # over the cap, the point lookup reaches the parquet scan as a
    # pushed filter → row-group min/max skipping on the key-sorted file
    monkeypatch.setattr(scanprobe, "DRIVER_MAX_ROWS", -1)
    hit = Index.load(spark, path).find("42")
    plan = hit.df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "c_custkey" in plan
    assert hit.count() == 1


def test_temperature_mix_plan_shape(spark, sf_dir):
    """Rates join back via BROADCAST (the per-source table is tiny),
    and since the r13 fan-out fix the per-source count table is a lazy
    localCheckpoint (Scan ExistingRDD) feeding all three consumers —
    the corpus itself is scanned exactly ONCE in the main plan (the
    counts subtree, with its map-side partial_count, runs once at
    checkpoint materialization instead of once per consumer)."""
    plan = _plan(spark, sf_dir, "temperature_mix")
    assert "BroadcastHashJoin" in plan
    assert "Scan ExistingRDD" in plan  # checkpointed per-source counts
    assert plan.count("Scan parquet") == 1  # corpus read once


def test_semantic_contam_plan_shape(spark, sf_dir):
    """The grid BLAS path: cogrouped Arrow stage present, candidate
    rescore joins are equi-joins (never a nested-loop cross of the two
    embedding sides)."""
    plan = _plan(spark, sf_dir, "semantic_contam")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastNestedLoop" not in plan


def test_new_tpch_shapes(spark, sf_dir):
    """r7 TPC-H additions keep their intended physical shapes: Q4's
    EXISTS is a LeftSemi (no fact duplication), Q22's NOT EXISTS is a
    LeftAnti, and Q19's disjunctive predicate pushes the quantity
    bands into the lineitem SCAN while part broadcasts."""
    p4 = _plan(spark, sf_dir, "tpch_q4_priority")
    assert "LeftSemi" in p4
    p22 = _plan(spark, sf_dir, "tpch_q22_idle")
    assert "LeftAnti" in p22
    p19 = _plan(spark, sf_dir, "tpch_q19_disjuncts")
    assert "BroadcastHashJoin" in p19
    assert "PushedFilters" in p19 and "l_quantity" in p19


def test_kmeans_pq_plans_broadcast_codebooks(spark, sf_dir):
    """kmeans / PQ assignment stages broadcast the bounded centroid /
    codebook tables — a sort-merge join there would shuffle the whole
    corpus per Lloyd round."""
    pk = _plan(spark, sf_dir, "kmeans")
    assert "BroadcastNestedLoopJoin" in pk or "BroadcastHashJoin" in pk
    assert "SortMergeJoin" not in pk
    pq = _plan(spark, sf_dir, "pq_topk")
    assert "BroadcastHashJoin" in pq


def test_dsir_model_broadcasts(spark, sf_dir):
    """DSIR's ≤n_buckets model table joins back to the feature stream
    via broadcast; the per-doc fold stays an objectless hash agg."""
    p = _plan(spark, sf_dir, "dsir")
    assert "BroadcastHashJoin" in p
    # the feature stream is read back from its lazy local checkpoint
    assert re.search(r"Scan ExistingRDD\[[^\]]*__tgt__", p)


def test_weighted_sample_no_data_sized_window(spark, sf_dir):
    """The cumulative weight decomposes via hash buckets: the global
    (unpartitioned) window in the plan must be the ≤1024-row bucket
    prefix table, visible as a window directly over a partial_sum
    aggregate, never over the raw scan."""
    p = _plan(spark, sf_dir, "weighted_sample")
    # per-bucket running sums are partitioned windows; exactly the
    # bucket-offset window is global. The full-data path would show a
    # window whose child is the parquet scan with no aggregate below.
    assert p.count("Window") >= 2
    assert "partial_sum" in p


def test_unique_keyonly_join_plans_left_semi(spark):
    """Uniqueness as a Catalyst-visible constraint: an inner join
    against a UNIQUE key-only index that adds no output columns is an
    existence filter — planned as LeftSemi (which Catalyst alone
    cannot infer without uniqueness metadata)."""
    from csvplus_spark.frame import Frame

    keys = Frame(spark.createDataFrame([(1,), (2,)], ["k"]))
    probe = Frame(spark.createDataFrame(
        [(1, "a"), (1, "b"), (3, "c")], ["k", "v"]))
    out = probe.join(keys.unique_index_on("k"))
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    got = sorted((r["k"], r["v"]) for r in out.df.collect())
    assert got == [(1, "a"), (1, "b")]  # filter only, no multiplication


def test_unique_keyonly_join_assume_fk_eliminates(spark):
    from csvplus_spark.frame import Frame

    keys = Frame(spark.createDataFrame([(1,), (2,), (3,)], ["k"]))
    probe = Frame(spark.createDataFrame(
        [(1, "a"), (2, "b")], ["k", "v"]))
    out = probe.join(keys.unique_index_on("k"), assume_fk=True)
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # eliminated outright
    assert out.df is probe.df


def test_nonunique_keyonly_join_stays_inner(spark):
    """Without uniqueness the same shape MUST stay an inner join —
    each matching index row multiplies the probe row."""
    from csvplus_spark.frame import Frame

    keys = Frame(spark.createDataFrame([(1,), (1,)], ["k"]))
    probe = Frame(spark.createDataFrame([(1, "a")], ["k", "v"]))
    out = probe.join(keys.index_on("k"))
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan
    assert out.df.count() == 2


def test_tpch_q7_dims_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q7_volume")
    assert plan.count("BroadcastHashJoin") >= 3  # s, n1, n2 at least
    assert "CartesianProduct" not in plan


def test_tpch_q20_semi_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q20_promosupp")
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_tpch_q15_no_global_sort(spark, sf_dir):
    # scalar-max + equality keeps ties without a corpus-wide Sort
    plan = _plan(spark, sf_dir, "tpch_q15_topsupp")
    assert "TakeOrderedAndProject" not in plan
    import re
    assert not re.search(r"Sort \[rev_c2", plan)


def test_approx_distinct_no_expand(spark, sf_dir):
    """r8: mixing count_distinct with the rsd=0.01 HLL in one agg
    plans an Expand that updates the ~100 KB HLL buffer per EXPANDED
    row (6.3s at sf0.1); the distinct-first shape must stay
    Expand-free (1.4s, identical estimate)."""
    plan = _plan(spark, sf_dir, "approx_distinct")
    assert "Expand" not in plan
    assert "HashAggregate" in plan


def test_graph_reps_plans_clean(spark, sf_dir):
    """r8 graph-after-dedup variants: the exact-dedup pre-filter plus
    the graph op must stay free of cartesian products and row-wise
    Python — the whole chain is equi-joins + aggregates."""
    for q in ("pagerank_reps", "kcore_reps", "triangles_reps"):
        plan = _plan(spark, sf_dir, q)
        for marker in ("CartesianProduct", "BatchEvalPython"):
            assert marker not in plan, (q, marker)


def test_semantic_dedup_collapse_plan(spark, sf_dir):
    """r8 collapse path: the final expansion join is a plain keyed
    join with no row-wise Python or nested loops. (The CC stage's
    localCheckpoint cuts the visible lineage to an ExistingRDD scan,
    so the per-cell Arrow BLAS stage is guarded upstream instead —
    its shape is shared with semantic_contam, plan-asserted in
    test_semantic_contam_plan_shape, and the cross-engine hash pins
    the whole pipeline.)"""
    plan = _plan(spark, sf_dir, "semantic_dedup")
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "coalesce(cluster_id" in plan  # the rep-expansion join


def _final_plan(spark, sf_dir, name) -> str:
    """FINAL adaptive plan: AQE decisions (exchange reuse) only exist
    after execution, and only on the DataFrame's own queryExecution —
    a noop write executes a separate command plan (r13)."""
    df = em.queries()[name](spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_tfidf_exchange_reuse_fires(spark, sf_dir):
    """r13: tfidf's single-explode guarantee rests on the tf and dfreq
    subtrees canonicalizing so AQE reuses the explode+partial-agg
    exchange (the trivially-true tf>0 filter blocks the column pruning
    that would diverge them). That is optimizer behavior, not
    semantics — a Spark upgrade could silently restore the double
    corpus explode with bit-identical output. Pin the plan shape: the
    2x sf10 win must show as >=1 ReusedExchange in the final plan."""
    plan = _final_plan(spark, sf_dir, "tfidf")
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_bm25_single_explode_via_checkpoint(spark, sf_dir):
    """r13: bm25 fans tf out to four consumers whose subtrees never
    canonicalize (join-inferred not-null filters land differently
    around the explode; the avgdl scalar subquery is outside reuse
    scope), so it uses the lazy-localCheckpoint fan-out pattern
    instead. Pin it: the main plan must contain ZERO Generate
    (explode) nodes — every consumer reads the checkpointed
    (doc, term) aggregate."""
    plan = _final_plan(spark, sf_dir, "bm25")
    assert "Generate" not in plan
    assert "ExistingRDD" in plan


def _force_keyed_fan_out(monkeypatch):
    """Open the keyed fan-out gate on every frame, derived ones too —
    the at-scale plan shape at test SF."""
    from csvplus_spark.operators import scanprobe

    monkeypatch.setattr(scanprobe, "scan_fan_out_wanted",
                        lambda df, min_bytes=None: True)


def test_text_stats_single_doc_exchange(spark, sf_dir, monkeypatch):
    """r13 batch 5: both text_stats subtrees (per-doc token aggregate
    and the base projection) read ONE id-keyed repartition of the doc
    rows, so the per-doc groupBy and the base⋈agg join are satisfied
    by hash(id) and add no exchange of exploded token rows. Pin it:
    every Exchange in the plan is the doc-level hashpartitioning on
    the id column (plus broadcast builds) — no token-level or
    aggregate-keyed exchange appears. r14: the repartition is gated by
    scanprobe (it only fires on big, narrow scans), so the AT-SCALE
    shape is pinned by forcing the gate open."""
    import re

    _force_keyed_fan_out(monkeypatch)
    plan = _plan(spark, sf_dir, "text_stats")
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    assert shuffles, "expected the doc-level repartition exchange"
    assert all(s.startswith("doc_id") for s in shuffles), shuffles


def test_shingle_window_rides_doc_repartition(spark, sf_dir, monkeypatch):
    """r13 batch 5: shingle_pairs repartitions DOC rows by id before
    tokenizing (guide §2.3) — the per-doc lead window and the
    (id, shingle) distinct then reuse hash(id), so no exchange of
    exploded (id, pos, token) rows exists anywhere in the plan. Pin
    on dedup_ngram: every hashpartitioning exchange keys on the doc
    id or on shingle-join keys, never on (id, pos). r14: forced mode
    pins the at-scale shape (see test_text_stats_single_doc_exchange)."""
    _force_keyed_fan_out(monkeypatch)
    plan = _plan(spark, sf_dir, "dedup_ngram")
    assert "Exchange hashpartitioning(__pos__" not in plan
    assert "hashpartitioning(__id__#" in plan  # the doc repartition


def test_doc_repartition_feeds_per_doc_aggregates(spark, sf_dir,
                                                  monkeypatch):
    """r13 batch 6: the per-doc aggregate family (simhash votes,
    repetition windows, tf tables, gopher counts) reads an id-keyed
    repartition of the DOC rows, so the plan's only doc-keyed exchange
    sits BELOW the explode (carrying text bytes at full scan width)
    and the aggregate/window above it adds no token-level exchange.
    r14: forced mode pins the at-scale shape."""
    _force_keyed_fan_out(monkeypatch)
    for name in ("simhash", "gopher_quality", "repetition_stats"):
        plan = _plan(spark, sf_dir, name)
        assert "hashpartitioning(doc_id" in plan, name
        # no exchange keyed on exploded token/position/gram columns —
        # everything per-doc rides the doc-level repartition
        for key in ("hashpartitioning(__pos__", "hashpartitioning(__tok__",
                    "hashpartitioning(__g__"):
            assert key not in plan, (name, key)


def test_keyed_fan_out_gate(spark, sf_dir, monkeypatch, tmp_path):
    """r14 (r13 verdict item 1): the doc/id repartitions fire ONLY
    when the scan is both big (decoded bytes ≥ the floor) and narrower
    than the machine. At test SF the input decodes to well under the
    floor, so the gate must SKIP the exchange (the r12 shape); with
    the floor lowered to 0 the same probe must FIRE it (the r13/sf10
    shape). The round-robin ``fan_out`` fires only on small, local
    input narrower than the machine."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from csvplus_spark.operators import scanprobe
    from csvplus_spark.operators.scanprobe import fan_out, scan_fan_out_wanted
    from csvplus_spark.operators.text import text_stats

    docs = em.load_table(spark, sf_dir, "documents").df

    assert not scan_fan_out_wanted(docs)  # tiny input: skip
    plan_auto = text_stats(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "REPARTITION_BY_COL" not in plan_auto

    monkeypatch.setattr(scanprobe, "KEYED_FAN_OUT_MIN_BYTES", 0)
    assert scan_fan_out_wanted(docs)  # floor at 0: the sf10 branch
    plan_big = text_stats(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "REPARTITION_BY_COL" in plan_big

    # derived/checkpointed frames (no input files) never re-fan
    ck = docs.localCheckpoint(eager=False)
    assert not scan_fan_out_wanted(ck)

    # round-robin: a tiny local parquet fans out to machine width; a
    # checkpointed frame and a scan of ≥ width files are left alone
    width = spark.sparkContext.defaultParallelism
    for i in range(width):
        pq.write_table(pa.table({"x": [i]}), str(tmp_path / f"{i}.parquet"))
    tiny = spark.read.parquet(str(tmp_path / "0.parquet"))
    plan = fan_out(tiny)._jdf.queryExecution().logical().toString()
    assert f"Repartition {width}, true" in plan, plan
    assert fan_out(ck) is ck
    wide = spark.read.parquet(str(tmp_path))
    assert len(wide.inputFiles()) >= width
    assert fan_out(wide) is wide

    # a later file that cannot be stat'ed still means fan out (and
    # collapse, and no round-robin), even once the row groups read so
    # far reach machine width
    if width > 2:
        rg = tmp_path / "rg"
        rg.mkdir()
        pq.write_table(pa.table({"x": list(range(width))}),
                       str(rg / "a.parquet"), row_group_size=1)
        pq.write_table(pa.table({"x": [0]}), str(rg / "b.parquet"))
        two = spark.read.parquet(str(rg))
        assert not scan_fan_out_wanted(two)  # ≥ width row groups
        (rg / "b.parquet").unlink()
        assert scan_fan_out_wanted(two)
        assert scanprobe.collapse_wanted(two)
        assert fan_out(two) is two


def test_collapse_probe_stops_at_floor(spark, monkeypatch, tmp_path):
    """The collapse gate reads parquet footers only until the decoded
    size reaches the floor — a later file cannot turn "collapse" into
    "don't" — and reads them all when the input stays below it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from csvplus_spark.operators import scanprobe

    n = 20
    for i in range(n):
        pq.write_table(pa.table({"x": list(range(10))}),
                       str(tmp_path / f"p{i:02d}.parquet"))
    df = spark.read.parquet(str(tmp_path))
    assert len(df.inputFiles()) == n
    one = pq.ParquetFile(str(tmp_path / "p00.parquet")).metadata \
        .row_group(0).total_byte_size
    reads = []
    real = scanprobe._footer_stats

    def counted(*args):
        reads.append(args)
        return real(*args)

    monkeypatch.setattr(scanprobe, "_footer_stats", counted)
    monkeypatch.setattr(scanprobe, "KEYED_FAN_OUT_MIN_BYTES", 3 * one)
    assert scanprobe.collapse_wanted(df)
    assert 0 < len(reads) < n, len(reads)

    reads.clear()
    monkeypatch.setattr(scanprobe, "KEYED_FAN_OUT_MIN_BYTES", n * one + 1)
    assert not scanprobe.collapse_wanted(df)
    assert len(reads) == n


def test_footer_memo_is_bounded(tmp_path):
    """The parquet-footer memo behind the fan-out probe is a bounded
    LRU keyed on (path, size, mtime_ns): a long-lived session scanning
    ever-new files must not grow it without limit, and a rewrite of
    the same path is a new key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from csvplus_spark.operators.scanprobe import _footer_stats

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": list(range(10))}), path)
    _footer_stats.cache_clear()
    limit = _footer_stats.cache_info().maxsize
    assert limit is not None and limit > 0
    rgs, unc = _footer_stats(path, 1, 0)
    assert rgs == 1 and unc > 0
    for mtime in range(1, limit + 50):
        assert _footer_stats(path, 1, mtime) == (rgs, unc)
    info = _footer_stats.cache_info()
    assert info.currsize == limit and info.misses == limit + 50
    _footer_stats.cache_clear()


def test_dump_plans_profile_reads_the_same(spark, sf_dir):
    """tools/dump_plans.py --json: two dumps of one tree read
    identical. ``profile``'s distinct aggregates become an Expand whose
    group numbers and column order follow expression ids — i.e. what
    was planned before it in the process — so the normalized plan of
    ``profile`` alone must equal its plan after other aggregate
    queries."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(em.__file__), "tools"))
    import dump_plans

    def plan(name):
        return dump_plans.normalize(em.queries()[name](spark, sf_dir)
                                    ._jdf.queryExecution().optimizedPlan()
                                    .toString())

    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "1000000")
    try:
        alone = plan("profile")
        for other in ("agg_pricing_summary", "approx_distinct",
                      "skew_report"):
            plan(other)
        again = plan("profile")
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert "Expand" in alone and "gid#" in alone
    assert again == alone
