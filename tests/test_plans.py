"""Plan-quality regression gates: the physical plans must keep the
properties PLANS.md documents. These assert plan SHAPE (which join
strategies appear), not timings -- cheap and stable across runs."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_asof_join_plan_has_no_join_operator(spark):
    """The as-of join compiles to union + window -- ZERO join nodes
    (the naive formulation plans a BroadcastNestedLoopJoin)."""
    from structured_data_entity_extraction_spark.ops import temporal

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, 1, base)], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, base, 1.0)], "user_id long, ts timestamp, value double"
    )
    p = _plan(temporal.asof_join(left, right))
    assert "Join" not in p
    assert "Window" in p


def test_interval_join_plan_is_keyed_not_nested_loop(spark):
    """The range join must plan a keyed equi-join (hash/broadcast-hash),
    never BroadcastNestedLoopJoin -- the whole point of the bucket
    explode."""
    from structured_data_entity_extraction_spark.ops import temporal

    base = dt.datetime(2024, 1, 1)
    points = spark.createDataFrame(
        [(1, 1, base)], "event_id long, user_id long, ts timestamp"
    )
    intervals = spark.createDataFrame(
        [(1, 9, base, base + dt.timedelta(minutes=5))],
        "user_id long, interval_id long, start timestamp, end timestamp",
    )
    p = _plan(temporal.interval_join(points, intervals))
    assert "NestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Join" in p  # it IS a join -- just a keyed one


def test_top_orders_plan_uses_take_ordered(spark):
    """Top-k must be TakeOrderedAndProject (per-partition heap), not a
    single-partition global window sort."""
    import __spark_entry__ as entry

    p = _plan(entry.q_top_orders_by_lines(spark, SF))
    assert "TakeOrderedAndProject" in p


def test_decontam_plan_broadcasts_benchmark(spark):
    """The benchmark shingle side must broadcast -- no shuffle of the
    corpus on content, no nested-loop join."""
    import __spark_entry__ as entry

    p = _plan(entry.q_decontam_report(spark, SF))
    assert "NestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_repetition_signals_plan_has_zero_exchange(spark):
    """VERDICT r3 #3 'done' criterion: the top-token mode is computed
    per-row (sorted-array max-run fold), so the whole operator is one
    narrow projection -- NO Exchange anywhere in the plan. The old
    formulation shuffled the corpus's per-doc-distinct vocabulary."""
    from structured_data_entity_extraction_spark.ops import textstats

    df = spark.createDataFrame(
        [(1, "a b b a"), (2, "x x x")], "doc_id long, text string"
    )
    p = _plan(textstats.repetition_signals(df))
    assert "Exchange" not in p
    assert "Join" not in p


def test_link_mentions_plan_has_no_pyspark_ml(spark):
    """VERDICT r2 #1 'done' criterion, tightened: extraction is one JVM
    regex projection and the LSH link is native md5 banding, so the
    extract -> link -> build_triples plans carry no Python evaluation
    node at all (no pandas UDF, no pyspark.ml tokenizer/hash UDF). The
    fuzzy link is one band join and one aggregate: its plan holds no
    Window (best match per value) and no cached relation."""
    from structured_data_entity_extraction_spark import codekg
    from structured_data_entity_extraction_spark.fixtures import repos_src_rows
    from structured_data_entity_extraction_spark.schemas import REPOS_SRC

    rows = repos_src_rows(60, seed=7)
    df = spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows],
        REPOS_SRC,
    )
    alias_dim = codekg.code_alias_dim(spark)
    mentions = codekg.extract_code_mentions(df)
    cands = codekg.link_mentions(mentions, alias_dim, use_lsh=True)
    triples = codekg.build_triples(cands, codekg.canonicalize(cands, alias_dim))
    for stage, frame in (("extract", mentions), ("link", cands), ("triples", triples)):
        assert "EvalPython" not in _plan(frame), stage
    p = _plan(cands)
    assert "Window" not in p and "InMemoryRelation" not in p, p


def test_pipeline_plans_have_no_python_rdd_scan(spark):
    """The EvalPython check above cannot see the other Python crossing:
    a table built on the driver with createDataFrame(<python list>)
    plans as `Scan ExistingRDD` over a PythonRDD and starts Python
    workers on every evaluation. The code alias dim, the driver CC
    result and the avaluo dims are local relations (LocalTableScan), so
    link, edges, canonicalize and a dim join carry no such scan."""
    from structured_data_entity_extraction_spark import codekg
    from structured_data_entity_extraction_spark import link as L
    from structured_data_entity_extraction_spark.fixtures import repos_src_rows
    from structured_data_entity_extraction_spark.schemas import REPOS_SRC
    from structured_data_entity_extraction_spark.session import local_frame

    rows = repos_src_rows(60, seed=7)
    df = local_frame(
        spark,
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows],
        REPOS_SRC,
    )
    alias_dim = codekg.code_alias_dim(spark)
    cands = codekg.link_mentions(codekg.extract_code_mentions(df), alias_dim, use_lsh=True)
    edges = codekg.link_edges(cands, alias_dim)
    nodes = codekg.canonicalize(cands, alias_dim, edges)
    extracted = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.struct(F.lit(0).alias("estado_rank"), F.lit("09").alias("estado_digit")).alias("ext"),
    )
    estado = L.with_estado(extracted, L.dim_frames(spark))
    for name, frame in (("link_mentions", cands), ("link_edges", edges),
                        ("canonicalize", nodes), ("with_estado", estado)):
        p = _plan(frame)
        assert "Scan ExistingRDD" not in p, (name, p)
        assert "LocalTableScan" in p, name


def test_avaluo_records_plan_is_one_python_pass_without_shuffle(spark):
    """The avaluo record is one narrow chain: the extract pass's pandas
    UDF evaluated once, broadcast dim joins, one projection. Exactly one
    ArrowEvalPython, no hash exchange (no groupBy, pivot or doc_id
    re-join) and no cached relation of its own."""
    from structured_data_entity_extraction_spark.fixtures import avaluo_docs
    from structured_data_entity_extraction_spark.link import avaluo_records
    from structured_data_entity_extraction_spark.schemas import AVALUO_DOCS

    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in avaluo_docs(5, seed=7)], AVALUO_DOCS
    )
    p = _plan(avaluo_records(docs))
    assert p.count("ArrowEvalPython") == 1, p
    assert "Exchange hashpartitioning" not in p, p
    assert "InMemoryRelation" not in p, p
    assert "BroadcastHashJoin" in p


def test_local_frame_with_zero_rows(spark):
    """A driver table may be empty (the driver CC path over a graph
    with no edges): the declared schema still holds, the plan is a
    local relation."""
    from pyspark.sql import types as T

    from structured_data_entity_extraction_spark.cc import connected_components
    from structured_data_entity_extraction_spark.session import local_frame

    schema = T.StructType(
        [T.StructField("src", T.StringType()), T.StructField("dst", T.StringType())]
    )
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.collect() == []
    assert "LocalTableScan" in _plan(empty)
    comp = connected_components(empty)
    assert comp.collect() == []
    assert [f.dataType for f in comp.schema] == [T.StringType(), T.StringType()]
    assert "Scan ExistingRDD" not in _plan(comp)


def test_simhash_candidates_plan_is_one_join(spark):
    """r5 Manku block-permute 'done' criterion: candidate generation is
    ONE equi-join on a single packed long key -- not the old 4-branch
    band-join union (whose per-branch 16-bit keys were the quadratic
    hazard). Exactly one join node, zero Union nodes."""
    from structured_data_entity_extraction_spark.ops import dedup

    h = spark.createDataFrame([(1, 7), (2, 9)], "doc_id long, sim long")
    p = _plan(dedup.simhash_candidates(h, max_hamming=3))
    join_lines = [ln for ln in p.splitlines() if "Join" in ln]
    assert len(join_lines) == 1, join_lines
    assert "Union" not in p
    assert "NestedLoopJoin" not in p and "CartesianProduct" not in p


def test_build_triples_dedup_reuses_write_clustering(spark):
    """r5 verdict #1: ONE exchange -- the explicit repartition on the
    write-partition columns plus the key-derived salt (repo_bucket,
    lang, _ws) -- serves BOTH the triple dedup and the final
    partitioned-write clustering. The dedup aggregate keeps the
    repartition columns in its key set, so HashPartitioning on the
    subset satisfies its clustered distribution and Catalyst must not
    plan a second ENSURE_REQUIREMENTS exchange on the full dedup key.
    The salt lifts the bucket_count x |langs| parallelism cap a bare
    (bucket, lang) key would impose at cluster scale (64 x 6 = 384 at
    the large-input layout, pipeline.derive_layout), while the write
    still sees at most write_salt files per hive partition."""
    from structured_data_entity_extraction_spark import codekg

    cand = spark.createDataFrame(
        [("d1", "s1", "import", "numpy", "r1", 3, "python", 0.9)],
        "doc_id string, content_sha string, field string, value string, "
        "repo string, repo_bucket int, lang string, score double",
    )
    nodes = spark.createDataFrame([("numpy", "numpy")], "surface string, canonical string")
    p = _plan(codekg.build_triples(cand, nodes))
    assert "REPARTITION_BY_COL" in p
    assert "_ws" in p  # the salt is a materialized column, in the exchange
    # the dedup key columns never appear in any exchange's partitioning
    assert not any(
        "Exchange" in ln and "_doc_id_b" in ln for ln in p.splitlines()
    ), p
    # exactly the intended shuffles -- the salted repartition per union
    # branch plus doc_dim's map-side-combined per-doc aggregate; the
    # salted dedup aggregate must NOT have re-introduced its own
    # ENSURE_REQUIREMENTS exchange on top of the REPARTITION_BY_COL one
    shuffles = [ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(shuffles) == 3, p
    assert sum("ENSURE_REQUIREMENTS" in ln for ln in shuffles) == 1, p


def test_simhash_popcount_filter_runs_before_pair_distinct(spark):
    """r5 verdict finding #2: the popcount filter is row-local, so it
    must run BEFORE the pair-dedup distinct -- the distinct's exchange
    then carries only true pairs (each duplicated up to C(6,3)=20x by
    multi-combo agreement) instead of the full candidate set. In the
    printed tree children are below parents, so the bit_count filter
    line must appear AFTER the first Exchange line (the distinct's)."""
    from structured_data_entity_extraction_spark.ops import dedup

    h = spark.createDataFrame([(1, 7), (2, 9)], "doc_id long, sim long")
    p = _plan(dedup.simhash_candidates(h, max_hamming=3))
    lines = p.splitlines()
    # the condition may survive as a Filter node or be pushed into the
    # join condition -- either way it must sit below the distinct's shuffle
    filt = next(i for i, ln in enumerate(lines) if "bit_count" in ln)
    exch = next(i for i, ln in enumerate(lines) if "Exchange" in ln)
    assert filt > exch, p


def test_cooccurrence_exact_tail_plan_splits_branches(spark):
    """exact_tail routes over-cap docs into a separate join branch:
    the plan contains a Union of two keyed joins plus the anti/semi
    routing joins -- and still no nested loop anywhere."""
    from structured_data_entity_extraction_spark import codekg

    t = spark.createDataFrame(
        [("d", "imports", "x"), ("d", "imports", "y")],
        "doc_id string, pred string, obj string",
    )
    p = _plan(codekg.entity_cooccurrence(t, max_per_doc=8, exact_tail=True))
    assert "Union" in p
    assert "NestedLoopJoin" not in p and "CartesianProduct" not in p


def test_percentile_contract_plan_is_single_aggregate(spark):
    """The approx-percentile contract check is one groupBy: a single
    shuffle (the aggregation exchange), no join, no window."""
    from structured_data_entity_extraction_spark.ops import stats

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "event_type string, value double"
    )
    p = _plan(stats.percentile_contract_check(df, "event_type", "value"))
    assert "Join" not in p and "Window" not in p
    assert p.count("Exchange") <= 2  # partial agg + final agg exchange


def test_ann_plans_hold_codebooks_as_data(spark):
    """Centroids, PQ sub-codebooks and sign-LSH hyperplanes ride in one
    broadcast codebook row, never as literal expression trees: each ANN
    query's optimized plan stays small whatever the codebook size
    (inlined as literals they read 22-361 KB)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in ("ann_lsh_topk", "ann_ivf_topk", "ann_ivf_codebook_topk", "ann_ivf_pq_topk"):
        plan = qs[name](spark, SF)._jdf.queryExecution().optimizedPlan().toString()
        assert len(plan) < 16 * 1024, (name, len(plan))
