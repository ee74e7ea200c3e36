"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` -- flagship: the full avaluo extraction pipeline
(extract -> link -> assemble -> triple pivot) over the sf0.001
``documents`` table. ``queries()`` -- one entry per implemented
operator family (SURVEY.md §2 + training-data ops); each oracle in
``oracle_sql()`` is the ANSI-SQL twin DuckDB runs on the same parquet.
Column names/aliases match exactly between both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from structured_data_entity_extraction_spark.ops import (  # noqa: E402
    decontam,
    dedup,
    multimodal,
    similarity,
    temporal,
    textstats,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: avaluo KG pipeline over sf0.001 documents -> triples."""
    from structured_data_entity_extraction_spark.link import avaluo_records
    from structured_data_entity_extraction_spark.triples import records_to_triples

    docs = _docs(spark, "/root/testdata/sf0.001").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return records_to_triples(avaluo_records(docs))


# -------------------------------------------------------------- queries


def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_region_rollup(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("region_name")
    )


_MARKERS = ["spark", "merge", "join", "filter"]


def q_vote_top1(spark, sf_dir):
    """L3/A2 analogue: per-doc marker frequency vote, argmax with
    first-listed tiebreak, docs with no hits dropped.

    The argmax is a row-local array_max over (cnt, -rank, marker)
    structs -- struct ordering compares cnt first, then -rank (so the
    first-listed marker wins ties), and -rank is unique so the marker
    field never decides. Same result as the old explode + per-doc
    window row_number, without shuffling |docs| x |markers| rows or
    sorting per doc: the only remaining exchange is the final orderBy."""
    docs = _docs(spark, sf_dir)
    # regexp_count: the same per-marker occurrence count as
    # size(regexp_extract_all(...)) without materializing an array of
    # matched substrings per doc per marker
    cnts = [
        F.regexp_count(F.lower("text"), F.lit(rf"\b{m}\b")).alias(f"c_{m}")
        for m in _MARKERS
    ]
    scored = docs.select("doc_id", *cnts)
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    F.col(f"c_{m}").alias("cnt"),
                    F.lit(-i).alias("negrank"),
                    F.lit(m).alias("marker"),
                )
                for i, m in enumerate(_MARKERS)
            ]
        )
    )
    # explode of a 1-element array is a row-level let-binding: the
    # filter on b.cnt cannot push below the Generate, so the whole
    # 4x-regexp + argmax expression evaluates ONCE per row -- as a
    # plain projected column, filter pushdown + projection inlining
    # re-evaluated it up to 3x per row (measured 1.24 s -> ~0.7 s at
    # the 50k-doc corpus; the 4 regexp_counts alone are 0.54 s)
    return (
        scored.select("doc_id", F.explode(F.array(best)).alias("b"))
        .filter(F.col("b.cnt") > 0)
        .select("doc_id", F.col("b.marker").alias("winner"), F.col("b.cnt").alias("votes"))
        .orderBy("doc_id")
    )


def q_presence_flags(spark, sf_dir):
    """M1/M2 analogue: presence tests as whole-stage-codegen exprs."""
    docs = _docs(spark, sf_dir)
    norm = F.regexp_replace(F.col("text"), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.when(norm.rlike(r"(?i)\b(spark|vector)\b"), F.lit("SI"))
        .otherwise(F.lit("NO"))
        .alias("has_spark"),
        F.when(norm.rlike(r"(?i)\bstream\b"), F.lit("ELECTRONICA"))
        .otherwise(F.lit("FISICA"))
        .alias("firma_mode"),
    ).orderBy("doc_id")


def q_string_scalars(spark, sf_dir):
    """P1-P3/P7 scalar pipeline: ws-collapse, upper, accent fold, truncate."""
    docs = _docs(spark, sf_dir)
    norm = F.regexp_replace(F.col("text"), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.length("text").alias("raw_len"),
        F.substring(F.translate(F.upper(norm), "ÁÉÍÓÚ", "AEIOU"), 1, 80).alias(
            "norm_prefix"
        ),
    ).orderBy("doc_id")


def q_unpivot_orders(spark, sf_dir):
    """T2 melt: order row -> (subj, pred, obj) triples."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") < 1000
    )
    return orders.select(
        F.col("o_orderkey").cast("string").alias("subj"),
        F.explode(
            F.map_from_arrays(
                F.array(F.lit("status"), F.lit("priority"), F.lit("custkey")),
                F.array(
                    F.col("o_orderstatus"),
                    F.col("o_orderpriority"),
                    F.col("o_custkey").cast("string"),
                ),
            )
        ).alias("pred", "obj"),
    ).orderBy("subj", "pred")


def q_exact_dup_groups(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return dedup.exact_dup_groups(doubled).orderBy("text_sha")


def q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.5, df_cap=1000
    ).orderBy("id_a", "id_b")


def q_cosine_pairs(spark, sf_dir):
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 400)
    return (
        dedup.embedding_cosine_pairs(emb, threshold=0.2, exact=True)
        .select("id_a", "id_b", F.round("cos", 4).alias("cos_r"))
        .orderBy("id_a", "id_b")
    )


def q_ann_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(emb, queries, k=10)
    return out.select(
        "query_id", "rank", "vec_id", F.round("cos", 4).alias("cos_r")
    ).orderBy("query_id", "rank")


def q_lang_id(spark, sf_dir):
    return (
        textstats.lang_id(_docs(spark, sf_dir))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred")
    )


def q_token_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        textstats.token_count_col(F.col("text")).alias("n_tokens"),
        textstats.bpe_ish_token_count_col(F.col("text")).alias("n_subwords"),
    ).orderBy("doc_id")


def q_token_stats_bpe(spark, sf_dir):
    """Tokenizer-ACCURATE counts: the pinned trained merge table
    (data/bpe_merges.json, tools/train_bpe.py) applied exactly --
    data-budget counts the bpe_ish regex proxy only approximates.
    Oracle: the same merges as VALUES literals applied by a recursive
    CTE over the distinct-word set (delimiter-string replace mirrors
    the engine's left-to-right non-overlapping fold; property-tested
    equal in tests/test_property.py)."""
    docs = _docs(spark, sf_dir)
    return textstats.token_stats_bpe(docs).orderBy("doc_id")


def q_fingerprint(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", textstats.fingerprint_col(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


def q_quality(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", textstats.quality_score_col(F.col("text")).alias("quality")
    ).orderBy("doc_id")


def q_events_sessionize(spark, sf_dir):
    """Sessionization via lag window: a session break is a >30-min gap
    per user (streaming-adjacent semantics in batch form)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = ev.select(
        "user_id",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    ).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
            1,
        ).otherwise(0),
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_events_windowed(spark, sf_dir):
    """Event-time tumbling window + watermark (streaming.py operator run
    in batch mode, where the watermark is a no-op -- same plan serves
    the stream)."""
    from structured_data_entity_extraction_spark.streaming import windowed_event_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return windowed_event_counts(ev).orderBy("window_start", "event_type")


def q_stream_dedup_batch(spark, sf_dir):
    """Batch twin of streaming.stream_dedup_exact (the SAME function,
    deterministic branch): first-arriving row per distinct dedup key
    (earliest ts, ties by event_id). Keyed on (event_type, value) over
    the events feed -- the dedup horizon contract a streaming corpus
    feed gets from dropDuplicatesWithinWatermark is pytest-gated; this
    hash-checks the keeper rule itself."""
    from structured_data_entity_extraction_spark.streaming import stream_dedup_exact

    # coalesce BOTH key parts explicitly: Spark's concat_ws skips NULLs
    # while DuckDB's || yields NULL, so without the coalesce a NULL
    # event_type/value in a future fixture silently diverges the twin
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "ts",
        F.concat_ws(
            "|",
            F.coalesce(F.col("event_type"), F.lit("")),
            F.coalesce(F.col("value").cast("string"), F.lit("")),
        ).alias("text"),
    )
    out = stream_dedup_exact(ev, ts_col="ts", id_col="event_id")
    return out.select("event_id", "ts", "text").orderBy("event_id")


def q_stream_sessionize_batch(spark, sf_dir):
    """The applyInPandasWithState sessionizer (streaming.
    sessionize_stateful) run as a REAL streaming query -- file source ->
    stateful operator -> memory sink -- under the oracle gate. One
    availableNow trigger over the single events file delivers ONE
    micro-batch, so the stateful keeper rule (sort ts per user, new
    session on >30-min gap, frontier only advances) is deterministic
    and equals the lag-window sessionizer the SQL oracle expresses;
    cross-batch state continuity (which no batch SQL can express) stays
    pytest-gated in tests/test_streaming.py."""
    import tempfile
    import uuid

    from structured_data_entity_extraction_spark.streaming import sessionize_stateful

    ev_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file source wants a directory; glob-filter it down to the
    # single events file (sf_dir holds every fixture table)
    stream = (
        spark.readStream.schema(ev_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sess_ckpt_")
    q = (
        sessionize_stateful(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # bounded wait: an availableNow query that cannot drain (e.g. the
    # glob matches nothing) must FAIL the gate loudly, not hang it
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream_sessionize_batch: stream did not drain in 300s")
    # update-mode sink appends one row per (user, batch); the FINAL row
    # per user is the one with the cumulative max n_events (robust even
    # if a future fixture splits into several micro-batches of one file)
    out = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max(F.struct(F.col("n_events"), F.col("n_sessions"))).alias("s")
        )
        .select(
            "user_id",
            F.col("s.n_sessions").alias("n_sessions"),
            F.col("s.n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )
    # detach the result from the memory sink, then drop the sink table
    # and the checkpoint dir: repeated invocations (bench rounds,
    # rescue re-runs) must not accumulate temp views or /tmp dirs
    import shutil

    rows = out.collect()
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


def q_rollup_orders(spark, sf_dir):
    """ROLLUP aggregation (grouping-sets family)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
        )
        .orderBy("status", "priority")
    )


def q_top_orders_by_lines(spark, sf_dir):
    """Top-10 orders by lineitem count (deterministic integer top-k).

    orderBy+limit compiles to TakeOrderedAndProject (per-partition heap
    + driver merge) -- no single-partition exchange. A global
    Window.orderBy here would funnel the whole counts frame through one
    task; the rank is derived afterwards on the 10 surviving rows."""
    from pyspark.sql import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    counts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    top = counts.orderBy(F.desc("n_lines"), F.asc("l_orderkey")).limit(10)
    w = Window.orderBy(F.desc("n_lines"), F.asc("l_orderkey"))
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select("rnk", F.col("l_orderkey").alias("orderkey"), "n_lines")
        .orderBy("rnk")
    )


def q_dedup_exact_kept(spark, sf_dir):
    """Representative doc per distinct text after self-union dup blowup."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    kept = dedup.dedup_exact(doubled)
    return kept.select("doc_id").orderBy("doc_id")


def q_salted_repo_counts(spark, sf_dir):
    """Two-phase salted aggregation (skew pattern): events per user via
    (key, salt) partials then combine — result identical to a plain
    groupBy, shuffle pressure spread over 16 salts."""
    from structured_data_entity_extraction_spark.ops.skew import salted_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = salted_agg(
        ev,
        key="user_id",
        aggs={"n_events": "count", "total_value": "sum:value"},
        salt_from=["event_id"],
        n_salts=16,
    )
    return out.select(
        "user_id", "n_events", F.round("total_value", 2).alias("total_value_r")
    ).orderBy("user_id")


def q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


def q_decontam_report(spark, sf_dir):
    """Test-set decontamination: 13-gram collision report of the corpus
    (doc_id % 50 != 0) against a held-out benchmark slice (% 50 == 0)."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return decontam.contamination_report(corpus, benchmark, k=13).orderBy("doc_id")


def q_decontaminated_docs(spark, sf_dir):
    """The APPLYING half of decontamination: corpus docs surviving the
    default max_contamination=0.0 gate (any benchmark-shingle hit drops
    the doc). Anti-join on the flagged id set; the corpus otherwise
    streams through untouched (no shuffle of doc content)."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return (
        decontam.decontaminate(corpus, benchmark, k=13)
        .select("doc_id")
        .orderBy("doc_id")
    )


def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals (dup lines / dup words /
    top-token dominance) per document."""
    return textstats.repetition_signals(_docs(spark, sf_dir)).orderBy("doc_id")


def q_entity_cooccurrence(spark, sf_dir):
    """KG analytics: modules imported together (doc-level co-occurrence
    edges over the canonical triple table). Oracle: pure SQL -- the
    co-occurrence self-join composed over the full codekg-pipeline SQL
    (r4; no golden parquet anywhere in the chain)."""
    from structured_data_entity_extraction_spark import codekg

    df = spark.read.parquet(_REPOS_FIXTURE)
    triples = codekg.build_kg(df)
    return codekg.entity_cooccurrence(triples, pred="imports").orderBy("src", "dst")


def q_entity_cooccurrence_exact(spark, sf_dir):
    """exact_tail mode: the per-doc cap stops being a truncation and
    becomes a ROUTING decision (under-cap docs in the bounded join
    branch, over-cap docs isolated for AQE skew-split) -- the result
    equals the UNCAPPED pair counts, so the oracle is the plain
    uncapped SQL. max_per_doc=4 forces real traffic through the tail
    branch on the fixture corpus."""
    from structured_data_entity_extraction_spark import codekg

    df = spark.read.parquet(_REPOS_FIXTURE)
    triples = codekg.build_kg(df)
    return codekg.entity_cooccurrence(
        triples, pred="imports", max_per_doc=4, exact_tail=True
    ).orderBy("src", "dst")


def q_entity_pagerank(spark, sf_dir):
    """KG analytics: PageRank over the symmetrized imports-co-occurrence
    entity graph (r6, ops/graph.py). Edges come from the exact_tail
    co-occurrence (skew-safe plan, equals uncapped counts), symmetrized
    so the graph has no dangling nodes and the oracle needs no
    dangling term. 5 power iterations, damping 0.85; ranks rounded to
    6 dp (the shared cross-engine determinism contract). Oracle: the
    SAME iterations UNROLLED as chained CTEs over the full
    codekg-pipeline SQL."""
    from pyspark.sql import functions as F

    from structured_data_entity_extraction_spark import codekg
    from structured_data_entity_extraction_spark.ops import graph

    df = spark.read.parquet(_REPOS_FIXTURE)
    triples = codekg.build_kg(df)
    cooc = codekg.entity_cooccurrence(
        triples, pred="imports", max_per_doc=4, exact_tail=True
    )
    edges = cooc.select("src", "dst").unionByName(
        cooc.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = graph.pagerank(edges, iterations=5, damping=0.85)
    return pr.select(
        F.col("node").alias("entity"), F.round("rank", 6).alias("pr_rank")
    ).orderBy("entity")


def q_entity_triangles(spark, sf_dir):
    """KG analytics: per-entity triangle counts over the imports
    co-occurrence graph (r6, ops/graph.triangle_count -- degree-ordered
    wedge counting, the Suri-Vassilvitskii bound on hub wedges).
    Oracle: an INDEPENDENT algorithm -- canonical lo<mid<hi three-way
    edge join in DuckDB, composed over the full pipeline SQL."""
    from structured_data_entity_extraction_spark import codekg
    from structured_data_entity_extraction_spark.ops import graph

    df = spark.read.parquet(_REPOS_FIXTURE)
    triples = codekg.build_kg(df)
    cooc = codekg.entity_cooccurrence(
        triples, pred="imports", max_per_doc=4, exact_tail=True
    )
    tc = graph.triangle_count(cooc.select("src", "dst"))
    return tc.select(
        F.col("node").alias("entity"), F.col("n_triangles").cast("long").alias("n_triangles")
    ).orderBy("entity")


# probe surface forms for the flagship fuzzy-link stage: planted
# near-misses (the fixture's pandas2/reactjs/tokios/net\/https family),
# exact dim aliases, threshold-boundary edits, and garbage that must
# NOT match. Literal + seeded so the DuckDB twin sees the same input.
_LSH_PROBE_VALUES = [
    "pandas2", "reactjs", "tokios", "net/https", "numpi", "numpyy",
    "lodash-es2", "matplotlib3", "collections.abc2", "os.paths",
    "react-dom", "tokio-core", "underscor", "encoding/jsonn",
    "lodashh", "reacct", "np", "requests", "zzzz", "qqq", "a",
    "tokio_core", "lodash_es", "matplotlub", "collektions",
]


def q_codekg_lsh_alias_map(spark, sf_dir):
    """The flagship's MinHash-LSH fuzzy-link stage in isolation
    (codekg.lsh_alias_map): probe surface values vs the default alias
    dim. Oracle: the identical md5-minhash + r=1 banding + exact
    char-3-gram-jaccard rerank machinery expressed in pure DuckDB SQL
    (VERDICT r3 #2) -- no builder-authored Python twin anywhere."""
    from structured_data_entity_extraction_spark import codekg

    values = spark.createDataFrame([(v,) for v in _LSH_PROBE_VALUES], "value string")
    out = codekg.lsh_alias_map(values, codekg.code_alias_dim(spark))
    return out.select(
        "value", "lsh_canonical", F.round("lsh_score", 6).alias("lsh_score_r")
    ).orderBy("value")


def q_deterministic_sample(spark, sf_dir):
    """Partitioning-independent 20% sample via md5-threshold keys."""
    from structured_data_entity_extraction_spark.ops import sampling

    return (
        sampling.deterministic_sample(_docs(spark, sf_dir), 0.2)
        .select("doc_id")
        .orderBy("doc_id")
    )


def q_shuffle_shards(spark, sf_dir):
    """Deterministic training-order shuffle (r6): shard-major,
    md5-minor total order as a pure function of (doc_id, salt) -- no
    single-partition global sort, reproducible under any partitioning
    or engine."""
    from structured_data_entity_extraction_spark.ops import sampling

    return (
        sampling.shuffle_shards(_docs(spark, sf_dir), n_shards=16, salt="ep0")
        .select("doc_id", "shard", "sort_key")
        .orderBy("shard", "sort_key")
    )


def q_stratified_sample(spark, sf_dir):
    """Per-class deterministic rebalancing: keep all purchases, half
    the clicks, a tenth of the views, drop the rest."""
    from structured_data_entity_extraction_spark.ops import sampling

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sampling.stratified_sample(
        ev,
        {"purchase": 1.0, "click": 0.5, "view": 0.1},
        stratum_col="event_type",
        key_col="event_id",
    )
    return out.select("event_id", "event_type").orderBy("event_id")


def q_pii_scrub(spark, sf_dir):
    """PII masking over docs with deterministically planted email/IP/
    phone; the scrubbed text is hash-compared via md5."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via 10.0."),
            (F.col("doc_id") % F.lit(200)).cast("string"),
            F.lit(".7 or +5215512345678"),
        ).alias("text"),
    )
    out = textstats.pii_scrub(docs)
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_phone", F.md5("scrubbed").alias("scrub_md5")
    ).orderBy("doc_id")


def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear on p*(n-1))."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


def q_value_percentiles_approx(spark, sf_dir):
    """The 100 TB percentile path: approx_percentile's mergeable sketch
    (O(accuracy) state per group vs exact percentile's full-group
    buffer), validated IN-PLAN against its documented rank-error bound
    -- each approx value must lie between the exact percentiles at
    p -/+ 2/accuracy. The oracle twin states the contract (all TRUE);
    see ops/stats.py."""
    from structured_data_entity_extraction_spark.ops import stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return stats.percentile_contract_check(
        ev, "event_type", "value", accuracy=1000
    ).orderBy("event_type")


def q_customer_quartiles(spark, sf_dir):
    """Window-analytics family: ntile quartile + cume_dist + lag over a
    fully-tiebroken per-nation ordering."""
    from pyspark.sql import Window

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.round(F.lag("c_acctbal").over(w), 2).alias("prev_bal"),
    ).orderBy("c_custkey")


def q_asof_join(spark, sf_dir):
    """As-of join: every event annotated with the most recent purchase
    value at-or-before its timestamp (per user). Single-shuffle
    union + running-last implementation -- no theta-join."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = temporal.asof_join(ev, purchases, key="user_id", ts="ts", value_cols=("value",))
    return out.select(
        "event_id", "user_id", F.round("value_asof", 2).alias("last_purchase_value")
    ).orderBy("event_id")


def q_asof_join_bucketed(spark, sf_dir):
    """The SAME as-of semantics on the skew-resistant two-pass bucketed
    path (bucket_s=86400): per-(key, day) carry chain + intra-bucket
    window, so a hot key spreads over its days instead of serializing
    one task. Oracle: identical SQL as asof_join_last_purchase -- both
    paths must produce the identical frame."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = temporal.asof_join(
        ev, purchases, key="user_id", ts="ts", value_cols=("value",), bucket_s=86400
    )
    return out.select(
        "event_id", "user_id", F.round("value_asof", 2).alias("last_purchase_value")
    ).orderBy("event_id")


def q_interval_join(spark, sf_dir):
    """Point-in-interval range join via time-bucket equi-join: events
    falling inside any same-user 30-minute post-signup window."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    intervals = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    pts = ev.select("user_id", "event_id", "ts")
    out = temporal.interval_join(pts, intervals, bucket_s=3600)
    return out.select("event_id", "interval_id").orderBy("event_id", "interval_id")


# ------------------------------------------------ rows-only (non-SQL ops)


def q_minhash_pairs(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.6).orderBy(
        "id_a", "id_b"
    )


def q_near_dup_groups(spark, sf_dir):
    """Pairs -> transitive dup groups via connected components (the
    keep/drop verdict). Oracle: recursive CTE transitive closure over
    the same md5-minhash pair SQL."""
    pairs = dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.6)
    return dedup.near_dup_groups(pairs).orderBy("doc_id")


def q_simhash_pairs(spark, sf_dir):
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=3).orderBy(
        "id_a", "id_b"
    )


def q_simhash_dup_groups(spark, sf_dir):
    """Composition: Manku simhash candidates -> exact popcount pairs ->
    connected-components dup-group verdict (doc_id, group_id = min doc
    in component). Oracle: the simhash CTE chain + recursive transitive
    closure, all pure SQL."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.simhash_pairs(docs, max_hamming=3)
    return dedup.near_dup_groups(pairs).orderBy("doc_id")


def q_ivf_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return (
        similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=10)
        .select("query_id", "rank", "vec_id", F.round("cos", 4).alias("cos_r"))
        .orderBy("query_id", "rank")
    )


def _codebook(name: str):
    """A pinned quantizer artifact from structured_data_entity_extraction_spark/data/.

    - ``ivf_codebook``: the trained coarse quantizer (production IVF
      path), 16x64 centroids from tools/train_codebook.py's
      deterministic spherical k-means (256 lowest-id sf0.01 embeddings,
      10 Lloyd iterations). Regenerate: python tools/train_codebook.py
      <embeddings.parquet> structured_data_entity_extraction_spark/data/ivf_codebook.json 16 10 256
    - ``ivf_pq_codebook``: the IVF-PQ artifact (coarse 16x64 + pq
      8x16x8) from tools/train_codebook.py --pq (256 lowest-id sf0.01
      embeddings, 10 iterations). Regenerate: python tools/train_codebook.py --pq
      <embeddings.parquet> structured_data_entity_extraction_spark/data/ivf_pq_codebook.json
      16 8 16 10 256"""
    import json as _json

    p = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "structured_data_entity_extraction_spark",
        "data",
        f"{name}.json",
    )
    with open(p, encoding="utf-8") as fh:
        return _json.load(fh)


def q_ivf_codebook_topk(spark, sf_dir):
    """IVF with the TRAINED codebook -- the path a real deployment
    runs (offline k-means, centroids broadcast as one codebook row);
    the codebook-less default quantizer is only the ad-hoc fallback."""
    emb = _emb(spark, sf_dir)
    return (
        similarity.ivf_topk(
            emb, emb.filter(F.col("vec_id") < 3), k=10, codebook=_codebook("ivf_codebook")
        )
        .select("query_id", "rank", "vec_id", F.round("cos", 4).alias("cos_r"))
        .orderBy("query_id", "rank")
    )


def q_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ: inverted lists carry m=8 4-bit codes instead of raw
    floats (the 10^9-embedding memory-scale path); ADC shortlist of 32
    per query, exact-cosine rerank. Oracle: the full encode/probe/ADC/
    rerank program in pure SQL with both codebooks as VALUES literals."""
    emb = _emb(spark, sf_dir)
    cb = _codebook("ivf_pq_codebook")
    return (
        similarity.ivf_pq_topk(
            emb, emb.filter(F.col("vec_id") < 3), cb["coarse"], cb["pq"], k=10
        )
        .select("query_id", "rank", "vec_id", F.round("cos", 4).alias("cos_r"))
        .orderBy("query_id", "rank")
    )


def q_lsh_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return (
        similarity.lsh_topk(emb, emb.filter(F.col("vec_id") < 3), k=10)
        .select("query_id", "rank", "vec_id", F.round("cos", 4).alias("cos_r"))
        .orderBy("query_id", "rank")
    )


def q_avaluo_triples(spark, sf_dir):
    """Reference-fidelity pipeline on the seeded avaluo corpus."""
    from structured_data_entity_extraction_spark.fixtures import avaluo_docs
    from structured_data_entity_extraction_spark.link import avaluo_records
    from structured_data_entity_extraction_spark.schemas import AVALUO_DOCS
    from structured_data_entity_extraction_spark.triples import records_to_triples

    corpus = avaluo_docs(200, seed=42)
    docs = spark.createDataFrame([(r["doc_id"], r["text"]) for r in corpus], AVALUO_DOCS)
    return records_to_triples(avaluo_records(docs)).orderBy("subj", "pred")


def q_codekg_triples(spark, sf_dir):
    """North-rule code-KG pipeline with the native MinHash-LSH
    fuzzy-link stage IN-PLAN, over the committed input fixture
    parquet (= repos_src_rows(400, seed=42), parity-tested in
    tests/test_codekg.py). The fixture plants near-miss imports
    (pandas2, reactjs, tokios, net/https) whose links the oracle
    checks. Oracle: since r4 the ENTIRE pipeline -- extraction
    regexes, dict+LSH linking, recursive-CTE CC, triple dedup -- is a
    pure DuckDB SQL program over the same parquet (no golden twin)."""
    from structured_data_entity_extraction_spark import codekg

    df = spark.read.parquet(_REPOS_FIXTURE)
    return (
        codekg.build_kg(df)
        .select("subj", "pred", "obj", "doc_id", "repo", "lang", "content_sha", "conf")
        .orderBy("subj", "pred", "obj")
    )


def q_multimodal_features(spark, sf_dir):
    assets = multimodal.synthetic_assets(spark, 30)
    return multimodal.extract_features(assets).drop("feature").orderBy("asset_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tpch_q1_pricing_summary": q_tpch_q1,
        "region_rollup_broadcast_join": q_region_rollup,
        "vote_top1_marker": q_vote_top1,
        "presence_flags": q_presence_flags,
        "string_scalars": q_string_scalars,
        "unpivot_orders_triples": q_unpivot_orders,
        "exact_dup_groups": q_exact_dup_groups,
        "ngram_jaccard_pairs": q_ngram_jaccard,
        "embedding_cosine_pairs": q_cosine_pairs,
        "ann_brute_force_topk": q_ann_topk,
        "lang_id_counts": q_lang_id,
        "token_stats": q_token_stats,
        "token_stats_bpe": q_token_stats_bpe,
        "doc_fingerprint": q_fingerprint,
        "quality_score": q_quality,
        "events_hourly": q_events_hourly,
        "salted_agg_counts": q_salted_repo_counts,
        "events_sessionize_lag": q_events_sessionize,
        "events_windowed_counts": q_events_windowed,
        "stream_sessionize_batch": q_stream_sessionize_batch,
        "stream_dedup_batch": q_stream_dedup_batch,
        "rollup_orders": q_rollup_orders,
        "top_orders_by_lines": q_top_orders_by_lines,
        "dedup_exact_kept": q_dedup_exact_kept,
        "decontam_report": q_decontam_report,
        "decontaminated_docs": q_decontaminated_docs,
        "repetition_signals": q_repetition_signals,
        "entity_cooccurrence": q_entity_cooccurrence,
        "entity_cooccurrence_exact": q_entity_cooccurrence_exact,
        "entity_pagerank": q_entity_pagerank,
        "entity_triangles": q_entity_triangles,
        "asof_join_last_purchase": q_asof_join,
        "asof_join_bucketed": q_asof_join_bucketed,
        "interval_join_signup_window": q_interval_join,
        "value_percentiles": q_value_percentiles,
        "value_percentiles_approx": q_value_percentiles_approx,
        "customer_quartiles": q_customer_quartiles,
        "codekg_lsh_alias_map": q_codekg_lsh_alias_map,
        "deterministic_sample_docs": q_deterministic_sample,
        "corpus_shuffle_shards": q_shuffle_shards,
        "stratified_sample_events": q_stratified_sample,
        "pii_scrub_counts": q_pii_scrub,
        # golden-fixture oracles (reference-derived / pure-Python twin
        # parquet, committed at build time -- tools/make_goldens.py)
        "avaluo_triples": q_avaluo_triples,
        "codekg_triples": q_codekg_triples,
        "minhash_lsh_pairs": q_minhash_pairs,
        "near_dup_groups": q_near_dup_groups,
        "simhash_pairs": q_simhash_pairs,
        "simhash_dup_groups": q_simhash_dup_groups,
        "ann_lsh_topk": q_lsh_topk,
        "ann_ivf_topk": q_ivf_topk,
        "ann_ivf_codebook_topk": q_ivf_codebook_topk,
        "ann_ivf_pq_topk": q_ivf_pq_topk,
        "multimodal_features": q_multimodal_features,
    }


# ---------------------------------------------------------------- oracles

_SHINGLES_CTE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents {filt}
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
                ELSE t[i] || ' ' || t[i+1] || ' ' || t[i+2] END AS shingle
    FROM toks
    LEFT JOIN LATERAL (
      SELECT unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS i
    ) ON true
  )
)
"""


_GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "structured_data_entity_extraction_spark", "data", "golden",
)


# MinHash pair generation as a reusable CTE chain ending in `pairs`
# (id_a, id_b, jac). Mirrors ops/dedup.minhash_lsh_pairs exactly:
# 16 md5 minhashes, 8 bands of 2, exact-jaccard rerank at >= 0.6.
_MINHASH_PAIRS_SQL = _SHINGLES_CTE.format(filt="") + """
    , hashes AS (
      SELECT doc_id, i,
             min(substring(md5(i::VARCHAR || ':' || shingle), 1, 16)) AS h
      FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS i) GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // 2 AS band,
             md5(string_agg(h, '|' ORDER BY i)) AS key
      FROM hashes GROUP BY doc_id, i // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.key = b.key
                  AND a.doc_id < b.doc_id
    ),
    shh AS (
      SELECT DISTINCT doc_id, substring(md5(shingle), 1, 16) AS hkey FROM sh
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY 1),
    common AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cand c
      JOIN shh a ON a.doc_id = c.id_a
      JOIN shh b ON b.doc_id = c.id_b AND b.hkey = a.hkey
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b,
             n_common / (sa.n_sh + sb.n_sh - n_common) AS jac
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    )
"""

_TRIPLE_COLS = "subj, pred, obj, doc_id, repo, lang, content_sha, conf"


def _decontam_sql(k: int = 13) -> str:
    """ANSI-SQL twin of ops/decontam.contamination_report: distinct
    word-k-gram shingles per doc (docs shorter than k tokens collapse to
    one whole-text shingle, mirroring textstats.shingles_col), benchmark
    slice = doc_id % 50 == 0, corpus = the rest. The join key is the
    64-bit md5 prefix of the shingle, mirroring the Spark side's hashed
    broadcast key (unhex is injective on hex, so matching on the hex
    prefix is the identical join)."""
    return f"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, hkey FROM (
            SELECT doc_id,
                   substring(md5(CASE WHEN len(t) < {k} THEN array_to_string(t, ' ')
                        ELSE array_to_string(t[i:i+{k - 1}], ' ') END), 1, 16) AS hkey
            FROM toks
            LEFT JOIN LATERAL (
              SELECT unnest(range(1, greatest(len(t) - {k - 1}, 1) + 1)) AS i
            ) ON true
          )
        ), bench AS (
          SELECT DISTINCT hkey FROM sh WHERE doc_id % 50 = 0
        ), corp AS (
          SELECT doc_id, hkey FROM sh WHERE doc_id % 50 != 0
        ), sizes AS (
          SELECT doc_id, count(*) AS n_shingles FROM corp GROUP BY 1
        ), hits AS (
          SELECT doc_id, count(*) AS n_hits
          FROM corp JOIN bench USING (hkey) GROUP BY 1
        )
        SELECT s.doc_id, s.n_shingles,
               coalesce(h.n_hits, 0)::BIGINT AS n_hits,
               round(coalesce(h.n_hits, 0) / s.n_shingles, 6) AS contamination
        FROM sizes s LEFT JOIN hits h USING (doc_id)
        ORDER BY doc_id
    """


def _simhash_pairs_sql(max_hamming: int = 3) -> str:
    """ANSI-SQL twin of ops/dedup.simhash_pairs: 64-bit simhash per doc
    (md5 of each whitespace token, bit i weighted +-1, sign -> bit),
    Manku block-permute candidate generation (agree on >= 3 of 6
    blocks, mirrored from ops/dedup.simhash_candidates -- recall is
    exact by pigeonhole, so the candidate condition never changes the
    result set), exact popcount filter. Token stream: lower, trim,
    split on RE2 \\s+ ([ \\t\\n\\f\\r] -- the Python kernel uses the
    identical ASCII class, NOT str.split()'s unicode whitespace), empty
    tokens dropped (zero-token docs get sim = 0 unsigned)."""
    return (
        _simhash_pairs_ctes(max_hamming)
        + """
        SELECT id_a, id_b, hamming FROM spairs ORDER BY id_a, id_b
    """
    )


def _simhash_pairs_ctes(max_hamming: int = 3) -> str:
    """The simhash CTE chain ending in ``spairs(id_a, id_b, hamming)``
    -- shared by the pair oracle and the dup-groups composition."""
    acc_cols = ",\n             ".join(
        f"sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS a{i}"
        for i in range(64)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN coalesce(a{i}, 0) > 0 THEN {1 << i}::UBIGINT ELSE 0::UBIGINT END)"
        for i in range(64)
    )
    _blk, _off = [], 0
    for _i in range(6):
        _w = 11 if _i < 4 else 10
        _blk.append((_off, _w))
        _off += _w
    band_cond = (
        "("
        + " + ".join(
            f"(CASE WHEN ((a.sim >> {off}) & {(1 << w) - 1}) = "
            f"((b.sim >> {off}) & {(1 << w) - 1}) THEN 1 ELSE 0 END)"
            for off, w in _blk
        )
        + f") >= {6 - max_hamming}"
    )
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+')) AS tok
          FROM documents
        ), hashed AS (
          SELECT doc_id, ('0x' || substring(md5(tok), 1, 16))::UBIGINT AS hv
          FROM toks WHERE tok <> ''
        ), acc AS (
          SELECT doc_id,
             {acc_cols}
          FROM hashed GROUP BY doc_id
        ), sims AS (
          SELECT d.doc_id, {sim_expr} AS sim
          FROM documents d LEFT JOIN acc USING (doc_id)
        ), spairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 bit_count(xor(a.sim, b.sim))::INT AS hamming
          FROM sims a JOIN sims b ON a.doc_id < b.doc_id AND ({band_cond})
          WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
        )
    """


def _sq(s: str) -> str:
    """SQL single-quote escaping for VALUES literals."""
    return s.replace("'", "''")


def _lsh_sql_ctes(source: str) -> str:
    """The engine's MinHash-LSH machinery as a reusable CTE block
    (ONE definition shared by _lsh_alias_map_sql and
    _codekg_triples_sql so the two oracles can never drift apart):
    char-3-grams of '^'+s+'$', ``codekg.LSH_HASHES`` md5-prefix
    minhashes, r=1 banding (band key = the minhash itself -- md5(h)
    equality is h equality), exact distinct-gram jaccard rerank at
    ``codekg.LSH_THRESHOLD``. Expects ``{source}(value)`` and
    ``dim(alias, canonical)`` CTEs in scope; ends with
    ``lsh_scored(value, canonical, alias, jac)``."""
    from structured_data_entity_extraction_spark.codekg import LSH_HASHES, LSH_THRESHOLD

    return f"""
        vg AS (
          SELECT value, substring('^' || value || '$', i, 3) AS g
          FROM {source}
          LEFT JOIN LATERAL (
            SELECT unnest(range(1, greatest(length('^' || value || '$') - 2, 1) + 1)) AS i
          ) ON true
        ),
        dg AS (
          SELECT alias, canonical, substring('^' || alias || '$', i, 3) AS g
          FROM dim
          LEFT JOIN LATERAL (
            SELECT unnest(range(1, greatest(length('^' || alias || '$') - 2, 1) + 1)) AS i
          ) ON true
        ),
        vh AS (
          SELECT value, i, min(substring(md5(i::VARCHAR || ':' || g), 1, 16)) AS h
          FROM vg CROSS JOIN (SELECT unnest(range(0, {LSH_HASHES})) AS i)
          GROUP BY 1, 2
        ),
        dh AS (
          SELECT alias, canonical, i, min(substring(md5(i::VARCHAR || ':' || g), 1, 16)) AS h
          FROM dg CROSS JOIN (SELECT unnest(range(0, {LSH_HASHES})) AS i)
          GROUP BY 1, 2, 3
        ),
        lsh_cand AS (
          SELECT DISTINCT v.value, d.alias, d.canonical
          FROM vh v JOIN dh d ON v.i = d.i AND v.h = d.h
        ),
        vsz AS (SELECT value, count(DISTINCT g) AS n FROM vg GROUP BY 1),
        dsz AS (SELECT alias, count(DISTINCT g) AS n FROM dg GROUP BY 1),
        lsh_common AS (
          SELECT c.value, c.alias, c.canonical, count(DISTINCT vg.g) AS n_common
          FROM lsh_cand c
          JOIN vg ON vg.value = c.value
          JOIN dg ON dg.alias = c.alias AND dg.g = vg.g
          GROUP BY 1, 2, 3
        ),
        lsh_scored AS (
          SELECT c.value, c.canonical, c.alias,
                 c.n_common / (vsz.n + dsz.n - c.n_common) AS jac
          FROM lsh_common c
          JOIN vsz ON vsz.value = c.value
          JOIN dsz ON dsz.alias = c.alias
          WHERE c.n_common / (vsz.n + dsz.n - c.n_common) >= {LSH_THRESHOLD}
        )"""


def _lsh_alias_map_sql() -> str:
    """Pure-DuckDB twin of codekg.lsh_alias_map over the literal probe
    values + the default alias dim: the shared ``_lsh_sql_ctes`` block
    plus top-1 per value with (jac desc, canonical asc, alias asc)
    ties."""
    from structured_data_entity_extraction_spark.codekg import default_code_alias_rows

    vals = ", ".join(f"('{_sq(v)}')" for v in _LSH_PROBE_VALUES)
    dim = ", ".join(f"('{_sq(a)}', '{_sq(c)}')" for a, c in default_code_alias_rows())
    return f"""
        WITH vals(value) AS (VALUES {vals}),
        dim(alias, canonical) AS (VALUES {dim}),
        {_lsh_sql_ctes('vals')},
        ranked AS (
          SELECT value, canonical, jac,
                 row_number() OVER (PARTITION BY value
                                    ORDER BY jac DESC, canonical ASC, alias ASC) AS rn
          FROM lsh_scored
        )
        SELECT value, canonical AS lsh_canonical, round(jac, 6) AS lsh_score_r
        FROM ranked WHERE rn = 1 ORDER BY value
    """


_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "structured_data_entity_extraction_spark", "data", "fixtures",
)
_REPOS_FIXTURE = os.path.join(_FIXTURE_DIR, "repos_src_400.parquet")


def _codekg_triples_sql() -> str:
    """Pure-DuckDB twin of the ENTIRE flagship pipeline
    (codekg.build_kg) over the shared input fixture
    parquet: per-lang anchored extraction regexes, first-occurrence
    capped identifier mentions, broadcast-dict linking, the
    MinHash-LSH fuzzy link, recursive-CTE connected-components
    canonicalization, and the (doc_id, pred, obj) triple dedup --
    every stage independently re-expressed in SQL (no golden parquet,
    no builder Python twin). The regex tables are read from
    codekg.py's own pattern constants so oracle and engine cannot
    drift; '(?m)' mirrors the re.MULTILINE semantics those tables are
    written in. The 16-minhash r=1 banding joins directly on the
    minhash (md5(h) equality IS h equality).

    Exact on ASCII content only: RE2's \\b, \\w and \\s are ASCII,
    while the engine pins Python's Unicode classes (codekg._jvm_regex)
    and RE2 has no lookarounds to pin them with. Non-ASCII parity of
    the extraction is checked against the Python twin instead
    (tests/test_codekg.py::test_extract_matches_python_twin_non_ascii)."""
    from structured_data_entity_extraction_spark import codekg

    def esc(rx: str) -> str:
        return "(?m)" + rx.replace("'", "''")

    def field_union(field: str, table: dict) -> str:
        return " UNION ALL ".join(
            f"SELECT doc_id, '{field}' AS field, "
            f"unnest(regexp_extract_all(content, '{esc(rx)}', 1)) AS value "
            f"FROM src WHERE lang = '{lang}'"
            for lang, patterns in table.items()
            for rx in patterns
        )

    kw = ", ".join(f"'{_sq(k)}'" for k in sorted(codekg._KEYWORDS))
    dim = ", ".join(
        f"('{_sq(a)}', '{_sq(c)}')" for a, c in codekg.default_code_alias_rows()
    )
    ident_rx = codekg._IDENT_PATTERN
    encoding_rx = esc(codekg._ENCODING_PATTERN)
    return f"""
        WITH RECURSIVE src AS (
          SELECT repo, lang, coalesce(content, '') AS content,
                 sha256(repo || chr(0) || path || chr(0) || commit) AS doc_id,
                 sha256(coalesce(content, '')) AS content_sha
          FROM read_parquet('{_REPOS_FIXTURE}')
        ),
        pat_mentions AS (
          {field_union('import', codekg._IMPORT_PATTERNS)}
          UNION ALL {field_union('def', codekg._DEF_PATTERNS)}
          UNION ALL {field_union('class', codekg._CLASS_PATTERNS)}
          UNION ALL {field_union('config', codekg._CONFIG_PATTERNS)}
        ),
        -- shebang: '#!' + one non-newline char at string start, the
        -- rest of the line stripped; encoding cookie: first MULTILINE
        -- search hit
        shebang AS (
          SELECT doc_id, 'shebang' AS field,
                 trim(regexp_extract(content, '^#!([^\n]+)', 1)) AS value
          FROM src WHERE regexp_matches(content, '^#!')
        ),
        encoding AS (
          SELECT doc_id, 'encoding' AS field,
                 regexp_extract(content, '{encoding_rx}', 1) AS value
          FROM src WHERE regexp_matches(content, '{encoding_rx}')
        ),
        -- distinct identifiers in FIRST-OCCURRENCE order, keyword-
        -- filtered, capped at 50 per doc
        ident_raw AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(content, '{ident_rx}')) AS v,
                 generate_subscripts(regexp_extract_all(content, '{ident_rx}'), 1) AS ord
          FROM src
        ),
        idents AS (
          SELECT doc_id, 'ident' AS field, v AS value FROM (
            SELECT doc_id, v, row_number() OVER (PARTITION BY doc_id ORDER BY min_ord) AS rn
            FROM (
              SELECT doc_id, v, min(ord) AS min_ord
              FROM ident_raw WHERE v NOT IN ({kw})
              GROUP BY doc_id, v
            )
          ) WHERE rn <= 50
        ),
        mentions AS (
          SELECT * FROM pat_mentions
          UNION ALL SELECT * FROM shebang
          UNION ALL SELECT * FROM encoding
          UNION ALL SELECT * FROM idents
        ),
        dim(alias, canonical) AS (VALUES {dim}),
        linked AS (
          SELECT m.doc_id, m.field, m.value, d.canonical,
                 CASE WHEN d.canonical IS NOT NULL THEN 1.0 END AS score
          FROM mentions m LEFT JOIN dim d ON m.value = d.alias
        ),
        misses(value) AS (
          SELECT DISTINCT value FROM linked
          WHERE canonical IS NULL AND field = 'import' AND length(value) >= 2
        ),
        {_lsh_sql_ctes('misses')},
        lsh AS (
          SELECT value, canonical AS lsh_canonical, jac AS lsh_score FROM (
            SELECT value, canonical, jac,
                   row_number() OVER (PARTITION BY value
                                      ORDER BY jac DESC, canonical ASC, alias ASC) AS rn
            FROM lsh_scored
          ) WHERE rn = 1
        ),
        cand2 AS (
          SELECT l.doc_id, l.field, l.value,
                 coalesce(l.canonical, s.lsh_canonical) AS canonical,
                 coalesce(l.score, s.lsh_score) AS score
          FROM linked l LEFT JOIN lsh s ON l.value = s.value
        ),
        edges0 AS (
          SELECT alias AS src_n, canonical AS dst_n FROM dim
          UNION
          SELECT DISTINCT value, canonical FROM cand2 WHERE canonical IS NOT NULL
        ),
        sym AS (
          SELECT src_n AS a, dst_n AS b FROM edges0
          UNION SELECT dst_n, src_n FROM edges0
        ),
        reach(node, other) AS (
          SELECT a, b FROM sym
          UNION
          SELECT r.node, e.b FROM reach r JOIN sym e ON r.other = e.a
        ),
        comp AS (SELECT node, least(node, min(other)) AS component FROM reach GROUP BY node),
        dimc AS (
          SELECT c.component, min(d.canonical) AS dim_canonical
          FROM comp c JOIN dim d ON c.node = d.canonical GROUP BY 1
        ),
        nodes AS (
          SELECT c.node AS surface, coalesce(dc.dim_canonical, c.component) AS canonical
          FROM comp c LEFT JOIN dimc dc USING (component)
        ),
        doc_triples AS (
          SELECT m.doc_id AS subj,
                 CASE m.field WHEN 'import' THEN 'imports'
                              WHEN 'def' THEN 'declares_function'
                              WHEN 'class' THEN 'declares_class'
                              WHEN 'config' THEN 'has_config_key'
                              WHEN 'shebang' THEN 'has_shebang'
                              WHEN 'encoding' THEN 'has_encoding'
                              ELSE 'mentions_identifier' END AS pred,
                 coalesce(n.canonical, m.value) AS obj,
                 m.doc_id AS doc_id, s.repo, s.lang, s.content_sha,
                 max(coalesce(m.score, 1.0)) AS conf
          FROM cand2 m
          JOIN src s USING (doc_id)
          LEFT JOIN nodes n ON n.surface = m.value
          GROUP BY 1, 2, 3, 4, 5, 6, 7
        ),
        repo_triples AS (
          SELECT s.repo AS subj, 'contains_file' AS pred, d.doc_id AS obj,
                 d.doc_id, s.repo, s.lang, s.content_sha, 1.0 AS conf
          FROM (SELECT DISTINCT doc_id FROM mentions) d JOIN src s USING (doc_id)
        )
        SELECT subj, pred, obj, doc_id, repo, lang, content_sha, conf FROM doc_triples
        UNION ALL
        SELECT subj, pred, obj, doc_id, repo, lang, content_sha, conf FROM repo_triples
        ORDER BY subj, pred, obj
    """


def _ivf_cells_sql(n_probe: int) -> str:
    """The quantize and probe CTEs of every IVF oracle: ``corpus_cell``
    (each corpus vector's argmax-cosine cell, ties: cell asc) and
    ``qcells`` (each query's ``n_probe`` best cells). Expects preceding
    CTEs ``emb(vec_id, v)`` and ``cents(cell, cv)``."""
    return f"""
        corpus_cell AS (
          SELECT vec_id, v, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell ASC) AS rn
            FROM emb e CROSS JOIN cents c
          ) WHERE rn = 1
        ),
        qcells AS (
          SELECT vec_id AS query_id, v AS qv, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell ASC) AS rn
            FROM emb e CROSS JOIN cents c WHERE e.vec_id < 3
          ) WHERE rn <= {n_probe}
        ),
    """


def _ivf_body_sql(k: int, n_probe: int) -> str:
    """The quantize/probe/exact-rerank tail of both full-vector IVF
    oracles (``_ivf_cells_sql`` plus a (cos desc, vec_id asc) rerank of
    the probed cells)."""
    return _ivf_cells_sql(n_probe) + f"""
        ranked AS (
          SELECT query_id, vec_id, list_cosine_similarity(qv, v) AS cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY list_cosine_similarity(qv, v) DESC, vec_id ASC) AS rank
          FROM corpus_cell cc JOIN qcells qc USING (cell)
          WHERE cc.vec_id != qc.query_id
        )
        SELECT query_id, rank, vec_id, round(cos, 4) AS cos_r
        FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
    """


def _ann_ivf_codebook_sql(k: int = 10, n_probe: int = 4) -> str:
    """Pure-DuckDB twin of similarity.ivf_topk(codebook=...) -- the
    PRODUCTION quantizer: the pinned trained codebook
    (data/ivf_codebook.json, from tools/train_codebook.py's
    deterministic spherical k-means) embedded as literal VALUES on the
    oracle side; the engine holds the same values in a broadcast row.
    Same quantize/probe/rerank algorithm as the default-path oracle."""
    cb = _codebook("ivf_codebook")
    cents = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in cv)}]::DOUBLE[])"
        for i, cv in enumerate(cb)
    )
    return (
        f"""
        WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents(cell, cv) AS (VALUES {cents}),
        """
        + _ivf_body_sql(k, n_probe)
    )


def _entity_pagerank_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """Unrolled power-iteration PageRank over the symmetrized imports
    co-occurrence graph, composed over the full codekg-pipeline SQL.
    Unrolled (one chained CTE per iteration) rather than recursive: a
    recursive CTE may reference itself only once, but each step needs
    the previous ranks in BOTH the contribution join and the
    keep-every-node outer frame. The graph is symmetrized, so there
    are no dangling nodes and no dangling-mass term (the engine
    query's redistributed dangling mass is identically zero here).
    Ranks rounded to 6 dp -- the shared cross-engine determinism
    contract (float sum order differs at ~1e-15)."""
    base = 1.0 - damping  # same float path as ops/graph.pagerank
    steps = []
    for k in range(1, iterations + 1):
        steps.append(f"""
        r{k} AS (
          SELECT n.node,
                 {base!r} / (SELECT nn FROM cnt)
                   + {damping!r} * coalesce(s.contrib, 0.0) AS rank
          FROM prnodes n LEFT JOIN (
            SELECT p.dst AS node, sum(r.rank / d.od) AS contrib
            FROM r{k - 1} r
            JOIN prpairs p ON r.node = p.src
            JOIN prdeg d ON d.src = p.src
            GROUP BY p.dst
          ) s ON n.node = s.node
        )""")
    return f"""
        WITH t AS MATERIALIZED ({_codekg_triples_sql()}),
        e0 AS MATERIALIZED (
          SELECT DISTINCT doc_id, obj FROM t WHERE pred = 'imports'
        ),
        cp AS (
          SELECT a.obj AS src, b.obj AS dst
          FROM e0 a JOIN e0 b ON a.doc_id = b.doc_id AND a.obj < b.obj
          GROUP BY 1, 2
        ),
        -- MATERIALIZED is load-bearing on every multiply-referenced
        -- CTE: DuckDB otherwise INLINES them, so each unrolled
        -- iteration re-expands the whole pipeline SQL above -- an
        -- exponential tree whose repeated parquet scans exhaust the
        -- process's file handles before it exhausts the planner
        prpairs AS MATERIALIZED (
          SELECT src, dst FROM cp UNION SELECT dst, src FROM cp
        ),
        prnodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM prpairs),
        cnt AS MATERIALIZED (SELECT count(*)::DOUBLE AS nn FROM prnodes),
        prdeg AS MATERIALIZED (
          SELECT src, count(*)::DOUBLE AS od FROM prpairs GROUP BY src
        ),
        r0 AS (SELECT node, 1.0 / (SELECT nn FROM cnt) AS rank FROM prnodes),
        {",".join(steps)}
        SELECT node AS entity, round(rank, 6) AS pr_rank
        FROM r{iterations} ORDER BY entity
    """


def _entity_triangles_sql() -> str:
    """Per-entity triangle counts by an algorithm INDEPENDENT of the
    engine's degree-ordered wedge counting: enumerate each triangle
    once as a canonical lo < mid < hi three-way join over the
    canonical (lo < hi) undirected edge set, then credit all three
    corners. MATERIALIZED on the shared CTEs for the same
    inlining/file-handle reason as the PageRank oracle."""
    return f"""
        WITH t AS MATERIALIZED ({_codekg_triples_sql()}),
        e0 AS MATERIALIZED (
          SELECT DISTINCT doc_id, obj FROM t WHERE pred = 'imports'
        ),
        ce AS MATERIALIZED (
          SELECT a.obj AS lo, b.obj AS hi
          FROM e0 a JOIN e0 b ON a.doc_id = b.doc_id AND a.obj < b.obj
          GROUP BY 1, 2
        ),
        tri AS (
          SELECT x.lo AS a, x.hi AS b, y.hi AS c
          FROM ce x
          JOIN ce y ON y.lo = x.hi
          JOIN ce z ON z.lo = x.lo AND z.hi = y.hi
        ),
        corners AS (
          SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        ),
        vertices AS (SELECT lo AS node FROM ce UNION SELECT hi FROM ce)
        SELECT v.node AS entity, coalesce(cnt.n, 0) AS n_triangles
        FROM vertices v LEFT JOIN (
          SELECT node, count(*) AS n FROM corners GROUP BY node
        ) cnt ON v.node = cnt.node
        ORDER BY entity
    """


def _token_stats_bpe_sql() -> str:
    """Recursive-CTE twin of textstats.token_stats_bpe: the pinned
    merges as VALUES; a word is encoded as chr(1)||tok||chr(2) units so
    plain replace() applies one merge left-to-right non-overlapping
    (adjacent matches share no delimiter, so the scan can't skip a
    post-replacement pair -- the same contract as the engine's token
    fold); token count = count of chr(1) markers. Merges apply in
    pinned order via the i-indexed recursion; counts aggregate per word
    INSTANCE."""
    from structured_data_entity_extraction_spark.ops.textstats import load_bpe_merges

    merges = load_bpe_merges()
    unit = lambda t: f"chr(1)||'{_sq(t)}'||chr(2)"
    rows = ", ".join(
        f"({i}, {unit(a)}||{unit(b)}, {unit(a + b)})" for i, (a, b) in enumerate(merges)
    )
    return rf"""
        WITH RECURSIVE merges(i, pat, rep) AS (VALUES {rows}),
        wordinst AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(coalesce(text, '')), '\s+')) AS w
          FROM documents
        ),
        words AS (SELECT DISTINCT w FROM wordinst WHERE w != ''),
        enc AS (
          SELECT w,
                 array_to_string(
                   list_transform(regexp_split_to_array(w, ''),
                                  c -> chr(1)||c||chr(2)), '') AS s,
                 0 AS i
          FROM words
          UNION ALL
          SELECT e.w, replace(e.s, m.pat, m.rep), e.i + 1
          FROM enc e JOIN merges m ON m.i = e.i
        ),
        final AS (
          SELECT w, length(s) - length(replace(s, chr(1), '')) AS n_toks
          FROM enc WHERE i = {len(merges)}
        ),
        counts AS (
          SELECT wi.doc_id, sum(f.n_toks) AS n_bpe
          FROM wordinst wi JOIN final f ON f.w = wi.w
          GROUP BY wi.doc_id
        )
        SELECT d.doc_id,
               CASE WHEN trim(coalesce(d.text, '')) = '' THEN 0
                    ELSE len(string_split_regex(trim(d.text), '\s+')) END AS n_words,
               CAST(coalesce(c.n_bpe, 0) AS BIGINT) AS n_tokens_bpe
        FROM documents d LEFT JOIN counts c USING (doc_id)
        ORDER BY doc_id
    """


def _ann_ivf_pq_sql(k: int = 10, n_probe: int = 4, rerank: int = 32) -> str:
    """Pure-DuckDB twin of similarity.ivf_pq_topk: coarse assignment,
    per-subspace PQ encode (argmin L2^2 via list_zip diff +
    list_inner_product, ties -> lowest code), ADC score = cos(query,
    reconstruction) rounded to 6 dp before the rerank cutoff (the
    shared determinism contract -- see the operator docstring), exact
    rerank of the top ``rerank``. Both codebooks as VALUES literals."""
    cb = _codebook("ivf_pq_codebook")
    m, dsub = len(cb["pq"]), len(cb["pq"][0][0])
    cents = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in cv)}]::DOUBLE[])"
        for i, cv in enumerate(cb["coarse"])
    )
    pqc = ", ".join(
        f"({mi}, {ci}, [{', '.join(repr(float(x)) for x in cv)}]::DOUBLE[])"
        for mi, sub in enumerate(cb["pq"])
        for ci, cv in enumerate(sub)
    )
    return (
        f"""
        WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents(cell, cv) AS (VALUES {cents}),
        pqc(m, code, cv) AS (VALUES {pqc}),
        """
        + _ivf_cells_sql(n_probe)
        + f"""
        enc AS (
          SELECT cc.vec_id, p.m, p.code,
                 list_transform(
                   list_zip(cc.v[p.m*{dsub}+1 : p.m*{dsub}+{dsub}], p.cv),
                   z -> z[1] - z[2]) AS d
          FROM corpus_cell cc CROSS JOIN pqc p
        ),
        codes AS (
          SELECT vec_id, m, code FROM (
            SELECT vec_id, m, code,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY list_inner_product(d, d) ASC, code ASC) AS rn
            FROM enc
          ) WHERE rn = 1
        ),
        cand AS (
          SELECT qc.query_id, qc.qv, cc.vec_id
          FROM corpus_cell cc JOIN qcells qc USING (cell)
          WHERE cc.vec_id != qc.query_id
        ),
        adc AS (
          SELECT c.query_id, c.vec_id, any_value(c.qv) AS qv,
                 round(
                   CASE WHEN sqrt(list_inner_product(any_value(c.qv), any_value(c.qv))) > 0
                         AND sqrt(sum(list_inner_product(p.cv, p.cv))) > 0
                        THEN sum(list_inner_product(
                               c.qv[p.m*{dsub}+1 : p.m*{dsub}+{dsub}], p.cv))
                             / (sqrt(list_inner_product(any_value(c.qv), any_value(c.qv)))
                                * sqrt(sum(list_inner_product(p.cv, p.cv))))
                        ELSE 0.0 END, 6) AS adc
          FROM cand c
          JOIN codes kk ON kk.vec_id = c.vec_id
          JOIN pqc p ON p.m = kk.m AND p.code = kk.code
          GROUP BY c.query_id, c.vec_id
        ),
        shortlist AS (
          SELECT query_id, vec_id, qv FROM (
            SELECT query_id, vec_id, qv,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc DESC, vec_id ASC) AS arank
            FROM adc
          ) WHERE arank <= {rerank}
        ),
        ranked AS (
          SELECT s.query_id, e.vec_id, list_cosine_similarity(s.qv, e.v) AS cos,
                 row_number() OVER (PARTITION BY s.query_id
                                    ORDER BY list_cosine_similarity(s.qv, e.v) DESC, e.vec_id ASC) AS rank
          FROM shortlist s JOIN emb e ON e.vec_id = s.vec_id
        )
        SELECT query_id, rank, vec_id, round(cos, 4) AS cos_r
        FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
    """
    )


def _ann_ivf_sql(k: int = 10, n_centroids: int = 16, n_probe: int = 4) -> str:
    """Pure-DuckDB twin of similarity.ivf_topk with the default
    (codebook-less) quantizer: centroids = the n_centroids lowest-id
    corpus rows, cell assignment = argmax centroid cosine (ties: cell
    asc), queries probe their n_probe best cells, exact-cosine rerank
    with (cos desc, vec_id asc) ranking. No constants, no golden --
    everything derives from the shared embeddings table."""
    return (
        f"""
        WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
          FROM emb ORDER BY vec_id LIMIT {n_centroids}
        ),
        """
        + _ivf_body_sql(k, n_probe)
    )


def _ann_lsh_sql(k: int = 10, n_planes: int = 6) -> str:
    """Pure-DuckDB twin of similarity.lsh_topk: sign-LSH bucket =
    Σ 2^i over planes with non-negative dot, hamming-1 multiprobe,
    exact-cosine rerank. The hyperplanes are the engine's own seeded
    constants (similarity._planes(64, 6, 42)) embedded as literal
    doubles -- pinned input data shared by both sides, with the
    signature/bucket/probe/rank ALGORITHM independently re-expressed
    in SQL. Sign agreement across engines is safe: dots are O(1) in
    magnitude while cross-engine float-summation deltas are ~1e-13."""
    from structured_data_entity_extraction_spark.ops.similarity import _planes

    planes = _planes(64, n_planes, seed=42)
    pv = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in p)}])"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        planes(i, p) AS (VALUES {pv}),
        sigs AS (
          SELECT e.vec_id,
                 sum(CASE WHEN list_inner_product(e.v, pl.p) >= 0
                          THEN (1::BIGINT << pl.i) ELSE 0 END)::BIGINT AS bucket
          FROM emb e CROSS JOIN planes pl GROUP BY e.vec_id
        ),
        q AS (
          SELECT e.vec_id AS query_id, e.v AS qv, s.bucket AS qbucket
          FROM emb e JOIN sigs s USING (vec_id) WHERE e.vec_id < 3
        ),
        probes AS (
          SELECT query_id, qv, qbucket AS probe FROM q
          UNION ALL
          SELECT query_id, qv, xor(qbucket, (1::BIGINT << i))
          FROM q CROSS JOIN (SELECT unnest(range(0, {n_planes})) AS i)
        ),
        ranked AS (
          SELECT p.query_id, e.vec_id, list_cosine_similarity(p.qv, e.v) AS cos,
                 row_number() OVER (PARTITION BY p.query_id
                                    ORDER BY list_cosine_similarity(p.qv, e.v) DESC, e.vec_id ASC) AS rank
          FROM probes p
          JOIN sigs s ON s.bucket = p.probe
          JOIN emb e ON e.vec_id = s.vec_id
          WHERE e.vec_id != p.query_id
        )
        SELECT query_id, rank, vec_id, round(cos, 4) AS cos_r
        FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
    """


def _golden_oracle(name: str, cols: str = _TRIPLE_COLS) -> str:
    """Hash-checkable oracle against a golden parquet fixture
    materialized at build time by tools/make_goldens.py: the avaluo one
    by executing the actual reference, the others by pure-Python twins
    (brute force / sequential-IEEE arithmetic) independent of Spark."""
    path = os.path.join(_GOLDEN_DIR, f"{name}.parquet")
    return f"""
        SELECT {cols}
        FROM read_parquet('{path}')
        ORDER BY 1, 2, 3
    """


def oracle_sql() -> dict[str, str]:
    marker_votes = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS rank, '{m}' AS marker, "
        f"len(regexp_extract_all(lower(text), '\\b{m}\\b')) AS cnt FROM documents"
        for i, m in enumerate(_MARKERS)
    )
    lang_scores = ", ".join(
        "("
        + " + ".join(
            f"len(regexp_extract_all(lower(coalesce(text, '')), '\\b{w}\\b'))"
            for w in ws
        )
        + f") AS score_{lang}"
        for lang, ws in textstats.LANG_MARKERS.items()
    )
    langs = sorted(textstats.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    lang_case = (
        "CASE WHEN " + best + " = 0 THEN 'und' "
        + " ".join(f"WHEN score_{l} = {best} THEN '{l}'" for l in langs)
        + " END"
    )
    stop_hits = " + ".join(
        f"len(regexp_extract_all(lower(coalesce(text, '')), '\\b{w}\\b'))"
        for w in sorted({w for ws in textstats.LANG_MARKERS.values() for w in ws})
    )
    out = {
        "tpch_q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "region_rollup_broadcast_join": """
            SELECT r.r_name AS region_name,
                   count(*) AS n_customers,
                   round(sum(c.c_acctbal), 2) AS total_acctbal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name ORDER BY region_name
        """,
        "vote_top1_marker": f"""
            WITH votes AS ({marker_votes}),
            ranked AS (
              SELECT doc_id, marker, cnt,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY cnt DESC, rank ASC) AS rn
              FROM votes WHERE cnt > 0
            )
            SELECT doc_id, marker AS winner, cnt AS votes
            FROM ranked WHERE rn = 1 ORDER BY doc_id
        """,
        "presence_flags": r"""
            SELECT doc_id,
                   CASE WHEN regexp_matches(regexp_replace(text, '\s+', ' ', 'g'),
                        '(?i)\b(spark|vector)\b') THEN 'SI' ELSE 'NO' END AS has_spark,
                   CASE WHEN regexp_matches(regexp_replace(text, '\s+', ' ', 'g'),
                        '(?i)\bstream\b') THEN 'ELECTRONICA' ELSE 'FISICA' END AS firma_mode
            FROM documents ORDER BY doc_id
        """,
        "string_scalars": r"""
            SELECT doc_id,
                   length(text) AS raw_len,
                   substring(translate(upper(regexp_replace(text, '\s+', ' ', 'g')),
                             'ÁÉÍÓÚ', 'AEIOU'), 1, 80) AS norm_prefix
            FROM documents ORDER BY doc_id
        """,
        "unpivot_orders_triples": """
            SELECT CAST(o_orderkey AS VARCHAR) AS subj, 'status' AS pred,
                   o_orderstatus AS obj FROM orders WHERE o_orderkey < 1000
            UNION ALL
            SELECT CAST(o_orderkey AS VARCHAR), 'priority', o_orderpriority
            FROM orders WHERE o_orderkey < 1000
            UNION ALL
            SELECT CAST(o_orderkey AS VARCHAR), 'custkey', CAST(o_custkey AS VARCHAR)
            FROM orders WHERE o_orderkey < 1000
            ORDER BY subj, pred
        """,
        "exact_dup_groups": """
            WITH doubled AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
            )
            SELECT sha256(coalesce(text, '')) AS text_sha,
                   count(*) AS n_docs, min(doc_id) AS keep_id
            FROM doubled GROUP BY 1 HAVING count(*) > 1 ORDER BY text_sha
        """,
        "ngram_jaccard_pairs": _SHINGLES_CTE.format(filt="")
        + """
            , shh AS (
              SELECT DISTINCT doc_id, substring(md5(shingle), 1, 16) AS hkey FROM sh
            ),
            rare AS (
              SELECT hkey FROM shh GROUP BY hkey HAVING count(*) <= 1000
            ),
            shc AS (SELECT shh.doc_id, shh.hkey FROM shh JOIN rare USING (hkey)),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY 1),
            common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM shc a JOIN shc b ON a.hkey = b.hkey AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
            ORDER BY id_a, id_b
        """,
        "embedding_cosine_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                         b.embedding::DOUBLE[]), 4) AS cos_r
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 400 AND b.vec_id < 400
              AND list_cosine_similarity(a.embedding::DOUBLE[],
                        b.embedding::DOUBLE[]) >= 0.2
            ORDER BY id_a, id_b
        """,
        "ann_brute_force_topk": """
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     list_cosine_similarity(q.embedding::DOUBLE[],
                           c.embedding::DOUBLE[]) AS cos
              FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
              WHERE q.vec_id < 3
            ), ranked AS (
              SELECT query_id, vec_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, rank, vec_id, round(cos, 4) AS cos_r
            FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "lang_id_counts": f"""
            WITH scored AS (SELECT doc_id, {lang_scores} FROM documents)
            SELECT {lang_case} AS lang_pred, count(*) AS n_docs
            FROM scored GROUP BY 1 ORDER BY lang_pred
        """,
        "token_stats": r"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
                   len(regexp_extract_all(coalesce(text, ''),
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subwords
            FROM documents ORDER BY doc_id
        """,
        "token_stats_bpe": _token_stats_bpe_sql(),
        "doc_fingerprint": _SHINGLES_CTE.format(filt="")
        + """
            SELECT doc_id, min(substring(md5(shingle), 1, 16)) AS fingerprint
            FROM sh GROUP BY doc_id ORDER BY doc_id
        """,
        "quality_score": f"""
            WITH m AS (
              SELECT doc_id,
                     coalesce(text, '') AS t,
                     length(coalesce(text, '')) AS n,
                     length(regexp_replace(coalesce(text, ''), '[^A-Za-z]', '', 'g')) AS n_alpha,
                     length(regexp_replace(coalesce(text, ''), '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
                     ({stop_hits}) AS n_stop,
                     CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                          ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+')) END AS n_tok
              FROM documents
            )
            SELECT doc_id,
                   round(0.25 * (CASE WHEN n >= 50 AND n <= 100000 THEN 1.0 ELSE 0.0 END)
                       + 0.35 * least((CASE WHEN n > 0 THEN n_alpha / CAST(n AS DOUBLE) ELSE 0.0 END) * 1.25, 1.0)
                       + 0.25 * least((CASE WHEN n_tok > 0 THEN n_stop / CAST(n_tok AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0)
                       + 0.15 * (1.0 - least((CASE WHEN n > 0 THEN n_punct / CAST(n AS DOUBLE) ELSE 0.0 END) * 4.0, 1.0)),
                   4) AS quality
            FROM m ORDER BY doc_id
        """,
        "events_sessionize_lag": """
            WITH gaps AS (
              SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
              FROM events
            ), flagged AS (
              SELECT user_id,
                     CASE WHEN prev_ts IS NULL
                          OR epoch(ts) - epoch(prev_ts) > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM gaps
            )
            SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM flagged GROUP BY user_id ORDER BY user_id
        """,
        "events_windowed_counts": """
            SELECT date_trunc('hour', ts) AS window_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                   event_type, count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2, 3 ORDER BY window_start, event_type
        """,
        # the stateful sessionizer delivered in ONE availableNow batch
        # reduces to the lag rule: sorted ts per user, new session on
        # >30-min gap (first event opens one)
        "stream_sessionize_batch": """
            WITH gaps AS (
              SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
              FROM events
            ), flagged AS (
              SELECT user_id,
                     CASE WHEN prev_ts IS NULL
                          OR epoch(ts) - epoch(prev_ts) > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM gaps
            )
            SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM flagged GROUP BY user_id ORDER BY user_id
        """,
        # keeper rule of streaming.stream_dedup_exact's deterministic
        # batch branch: earliest ts per distinct key, ties by id.
        # Key parts coalesced on BOTH sides (Spark concat_ws skips
        # NULLs; DuckDB || yields NULL) so the twin survives fixture
        # changes that introduce NULL event_type/value.
        "stream_dedup_batch": """
            WITH keyed AS (
              SELECT event_id, ts,
                     coalesce(event_type, '') || '|' || coalesce(value::VARCHAR, '') AS text,
                     sha256(coalesce(event_type, '') || '|' || coalesce(value::VARCHAR, '')) AS sha
              FROM events
            ), ranked AS (
              SELECT event_id, ts, text,
                     row_number() OVER (PARTITION BY sha
                                        ORDER BY ts ASC, event_id ASC) AS rn
              FROM keyed
            )
            SELECT event_id, ts, text FROM ranked WHERE rn = 1 ORDER BY event_id
        """,
        "rollup_orders": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   count(*) AS n_orders
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
            ORDER BY status, priority
        """,
        "top_orders_by_lines": """
            WITH counts AS (
              SELECT l_orderkey, count(*) AS n_lines
              FROM lineitem GROUP BY l_orderkey
            ), ranked AS (
              SELECT l_orderkey, n_lines,
                     row_number() OVER (ORDER BY n_lines DESC, l_orderkey ASC) AS rnk
              FROM counts
            )
            SELECT rnk, l_orderkey AS orderkey, n_lines
            FROM ranked WHERE rnk <= 10 ORDER BY rnk
        """,
        "dedup_exact_kept": """
            WITH doubled AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
            )
            SELECT min(doc_id) AS doc_id
            FROM doubled GROUP BY coalesce(text, '') ORDER BY doc_id
        """,
        "salted_agg_counts": """
            SELECT user_id, count(*) AS n_events,
                   round(sum(value), 2) AS total_value_r
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        "deterministic_sample_docs": """
            SELECT doc_id FROM documents
            WHERE ('0x' || substring(md5(coalesce(doc_id::VARCHAR, '') || '|'), 1, 8))::UBIGINT
                  / 4294967296.0 < 0.2
            ORDER BY doc_id
        """,
        # r6: deterministic training-order shuffle (shard-major,
        # md5-minor) -- same md5 mechanism as the samplers
        "corpus_shuffle_shards": """
            SELECT doc_id, shard, sort_key FROM (
              SELECT doc_id,
                     md5(coalesce(doc_id::VARCHAR, '') || '|ep0') AS sort_key,
                     (('0x' || substring(md5(coalesce(doc_id::VARCHAR, '') || '|ep0'), 1, 8))::UBIGINT
                      % 16)::INT AS shard
              FROM documents
            ) ORDER BY shard, sort_key
        """,
        "stratified_sample_events": """
            SELECT event_id, event_type FROM events
            WHERE ('0x' || substring(md5(coalesce(event_id::VARCHAR, '') || '|'), 1, 8))::UBIGINT
                  / 4294967296.0
                  < CASE event_type WHEN 'purchase' THEN 1.0
                                    WHEN 'click' THEN 0.5
                                    WHEN 'view' THEN 0.1 ELSE 0.0 END
            ORDER BY event_id
        """,
        "pii_scrub_counts": r"""
            WITH planted AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id::VARCHAR ||
                     '@example.com via 10.0.' || (doc_id % 200)::VARCHAR ||
                     '.7 or +5215512345678' AS t
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                   len(regexp_extract_all(t,
                       '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ipv4,
                   len(regexp_extract_all(t, '\+\d{7,15}')) AS n_phone,
                   md5(regexp_replace(regexp_replace(regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                       '\+\d{7,15}', '<PHONE>', 'g')) AS scrub_md5
            FROM planted ORDER BY doc_id
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        # approx_percentile's exact output is implementation-defined;
        # the SQL-expressible statement is its rank-error CONTRACT,
        # which the Spark side validates in-plan (ops/stats.py)
        "value_percentiles_approx": """
            SELECT event_type,
                   TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "customer_quartiles": """
            SELECT c_custkey, c_nationkey,
                   ntile(4) OVER w AS quartile,
                   round(cume_dist() OVER w, 6) AS cd,
                   round(lag(c_acctbal) OVER w, 2) AS prev_bal
            FROM customer
            WINDOW w AS (PARTITION BY c_nationkey
                         ORDER BY c_acctbal DESC, c_custkey ASC)
            ORDER BY c_custkey
        """,
        # bucketed path: same semantics, same oracle (set below)
        "asof_join_last_purchase": """
            WITH r AS (
              SELECT user_id, ts, max(value) AS rv
              FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
            ), ranked AS (
              SELECT e.event_id, r.rv,
                     row_number() OVER (PARTITION BY e.event_id
                                        ORDER BY r.ts DESC) AS rn
              FROM events e
              JOIN r ON r.user_id = e.user_id AND r.ts <= e.ts
            )
            SELECT e.event_id, e.user_id, round(p.rv, 2) AS last_purchase_value
            FROM events e
            LEFT JOIN (SELECT event_id, rv FROM ranked WHERE rn = 1) p USING (event_id)
            ORDER BY event_id
        """,
        "interval_join_signup_window": """
            WITH iv AS (
              SELECT user_id, event_id AS interval_id, ts AS s,
                     ts + INTERVAL 30 MINUTE AS e
              FROM events WHERE event_type = 'signup'
            )
            SELECT ev.event_id, iv.interval_id
            FROM events ev
            JOIN iv ON ev.user_id = iv.user_id AND ev.ts >= iv.s AND ev.ts <= iv.e
            ORDER BY event_id, interval_id
        """,
        "decontam_report": _decontam_sql(),
        # the applying half: survivors of the zero-tolerance gate
        "decontaminated_docs": f"""
            WITH rep AS ({_decontam_sql()})
            SELECT doc_id FROM rep WHERE contamination <= 0.0 ORDER BY doc_id
        """,
        "codekg_lsh_alias_map": _lsh_alias_map_sql(),
        "repetition_signals": r"""
            WITH base AS (
              SELECT doc_id,
                     string_split(coalesce(text, ''), chr(10)) AS lines,
                     string_split_regex(trim(lower(coalesce(text, ''))), '\s+') AS t
              FROM documents
            ), arr AS (
              SELECT doc_id,
                     len(lines) AS n_lines,
                     round(1.0 - len(list_distinct(lines)) / len(lines), 6) AS dup_line_ratio,
                     round(1.0 - len(list_distinct(t)) / len(t), 6) AS dup_word_ratio,
                     t
              FROM base
            ), cnt AS (
              SELECT doc_id, tok, count(*) AS c
              FROM (SELECT doc_id, unnest(t) AS tok FROM arr) GROUP BY 1, 2
            ), top AS (
              SELECT doc_id, round(max(c) / sum(c), 6) AS top_word_ratio
              FROM cnt GROUP BY 1
            )
            SELECT a.doc_id, n_lines, dup_line_ratio, dup_word_ratio, top_word_ratio
            FROM arr a JOIN top USING (doc_id) ORDER BY doc_id
        """,
        # exact_tail mode == uncapped counts: no cap CTE at all
        "entity_cooccurrence_exact": f"""
            WITH t AS ({_codekg_triples_sql()}),
            e AS (
              SELECT DISTINCT doc_id, obj FROM t WHERE pred = 'imports'
            )
            SELECT a.obj AS src, b.obj AS dst, count(*) AS n_docs
            FROM e a JOIN e b ON a.doc_id = b.doc_id AND a.obj < b.obj
            GROUP BY 1, 2 ORDER BY src, dst
        """,
        # co-occurrence logic composed over the FULL pipeline SQL (no
        # golden parquet anywhere in this oracle's chain since r4)
        "entity_cooccurrence": f"""
            WITH t AS ({_codekg_triples_sql()}),
            e0 AS (
              SELECT DISTINCT doc_id, obj
              FROM t
              WHERE pred = 'imports'
            ), e AS (
              -- per-doc fanout cap, mirroring entity_cooccurrence's
              -- max_per_doc=256 (first N entities by obj asc)
              SELECT doc_id, obj FROM (
                SELECT doc_id, obj,
                       row_number() OVER (PARTITION BY doc_id ORDER BY obj ASC) AS rn
                FROM e0
              ) WHERE rn <= 256
            )
            SELECT a.obj AS src, b.obj AS dst, count(*) AS n_docs
            FROM e a JOIN e b ON a.doc_id = b.doc_id AND a.obj < b.obj
            GROUP BY 1, 2 ORDER BY src, dst
        """,
        # r6: PageRank unrolled over the same composed pipeline SQL
        "entity_pagerank": _entity_pagerank_sql(),
        "entity_triangles": _entity_triangles_sql(),
        "avaluo_triples": _golden_oracle("avaluo_triples"),
        # r4: the flagship's oracle is the full pipeline as pure SQL --
        # the codekg golden parquet is no longer read by ANY oracle
        # (entity_cooccurrence composes over this same SQL); it remains
        # only as the make_goldens / triangulation-test cross-check
        "codekg_triples": _codekg_triples_sql(),
        # simhash is fully SQL-expressible (md5 hex prefix -> UBIGINT,
        # per-bit +-1 sums, band extraction via shifts), so the r2
        # builder-authored golden twin is retired in favor of a DuckDB
        # oracle independent of any Python the builder wrote
        "simhash_pairs": _simhash_pairs_sql(),
        # Manku pairs -> recursive-CTE transitive closure: the same
        # connected-components group verdict near_dup_groups gives the
        # minhash path
        "simhash_dup_groups": "WITH RECURSIVE "
        + _simhash_pairs_ctes().lstrip().removeprefix("WITH")
        + """
            , edges AS (
              SELECT id_a AS a, id_b AS b FROM spairs
              UNION
              SELECT id_b, id_a FROM spairs
            ),
            reach(node, other) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
            )
            SELECT node AS doc_id, least(node, min(other)) AS group_id
            FROM reach GROUP BY node ORDER BY doc_id
        """,
        # r4: both ANN paths now have pure SQL oracles (bucket/cell
        # machinery re-expressed in DuckDB); goldens remain only as
        # make_goldens cross-checks
        "ann_lsh_topk": _ann_lsh_sql(),
        "ann_ivf_topk": _ann_ivf_sql(),
        "ann_ivf_codebook_topk": _ann_ivf_codebook_sql(),
        "ann_ivf_pq_topk": _ann_ivf_pq_sql(),
        "multimodal_features": _golden_oracle(
            "multimodal_features",
            "asset_id, kind, n_bytes, dec_width, dec_height, dec_sample_rate,"
            " decode_error",
        ),
        # native MinHash-LSH: md5 minhashes + banding are bit-identical
        # in DuckDB, so even the LSH candidate generation has an exact
        # SQL twin (threshold 0.6, 16 hashes, bands of 2)
        "minhash_lsh_pairs": _MINHASH_PAIRS_SQL
        + """
            SELECT id_a, id_b, round(jac, 6) AS jaccard
            FROM pairs ORDER BY id_a, id_b
        """,
        # connected components over the same pairs: recursive transitive
        # closure; group_id = numeric min node id, matching
        # cc.connected_components' min label over the native id type
        "near_dup_groups": "WITH RECURSIVE "
        + _MINHASH_PAIRS_SQL.lstrip().removeprefix("WITH")
        + """
            , edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ),
            reach(node, other) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
            )
            SELECT node AS doc_id, least(node, min(other)) AS group_id
            FROM reach GROUP BY node ORDER BY doc_id
        """,
    }
    # the bucketed as-of path must match the default path bit-for-bit:
    # one oracle, two implementations under test
    out["asof_join_bucketed"] = out["asof_join_last_purchase"]
    return out
