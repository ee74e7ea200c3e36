"""Structured Streaming ingestion (extension beyond the reference --
SURVEY.md §2.9 notes the stage-checkpoint design is micro-batch-shaped;
this is that natural extension, built).

``stream_repos_src`` ingests new repos_src parquet files as they land
(the "new commits" feed) and lands each micro-batch in the StageStore
warehouse through ``foreachBatch`` and ``pipeline.ingest_repos_batch``:
the first batch takes the codekg bootstrap (the mentions, candidates
and input-identity sidecar stages, each committed by its manifest),
every later one the append path of ``--append``. Streamed documents
get the same checkpoints, sha invariant, additive input digest and
append-only overlap guard as batch ones; ``availableNow`` triggers
make it testable (and backfill-able) without a long-running query.

Corpus-global stages (edges/nodes/triples) are not rebuilt per
micro-batch -- canonicalization is corpus-global, so each append
invalidates them and a periodic batch "finalize" run over the full
input resumes mentions/candidates from the streamed checkpoints and
rebuilds only the global stages (bit-for-bit equal to a from-scratch
build; pytest-gated).

At scale: one streaming query per corpus shard, checkpointLocation on
durable storage gives exactly-once file-source progress. The first
batch fixes the warehouse's repo bucket count (``pipeline.derive_layout``
over its content bytes); later batches append with it, and the
finalize run sizes the triples write salt to the whole corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .materialize import StageStore
from .schemas import REPOS_SRC


def stream_repos_src(
    spark: SparkSession,
    input_path: str,
    warehouse_root: str,
    checkpoint_path: str,
    run_id_prefix: str = "stream",
    iceberg_catalog: str | None = None,
):
    """File-source stream of repos_src parquet -> per-micro-batch
    warehouse ingest (bootstrap on the first batch, append-only after;
    a replayed micro-batch -- at-least-once delivery -- is a no-op).
    The query drains the files present at start (``availableNow``) and
    stops. Returns the StreamingQuery."""
    from .pipeline import ingest_repos_batch

    stream = (
        spark.readStream.schema(REPOS_SRC)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):  # empty trigger: nothing to ingest
            return
        bspark = batch_df.sparkSession
        store = StageStore(
            warehouse_root,
            run_id=f"{run_id_prefix}-{batch_id}",
            iceberg_catalog=iceberg_catalog,
        )
        ingest_repos_batch(bspark, store, batch_df)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


# ----------------------------------------- watermarked windowed agg


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling-window aggregation with a late-data
    watermark: counts + value sum per (window, event_type). Works on a
    streaming df (watermark bounds state, late rows beyond it dropped)
    AND on a batch df (watermark is a no-op), so the same plan is
    oracle-checkable in batch and deployable as a stream."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ----------------------------------------- streaming exact dedup


def stream_dedup_exact(
    docs: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of ops/dedup.dedup_exact for append-only corpus
    feeds: keep the FIRST-ARRIVING row per distinct text within the
    watermark horizon. ``dropDuplicatesWithinWatermark`` bounds the
    dedup state by event time -- the batch operator's full-history
    hash table cannot exist in an unbounded stream, so the contract
    weakens to "no duplicate admitted within ``watermark`` of the
    first copy" (the standard streaming-dedup trade: state size vs
    dedup horizon). Duplicates arriving across micro-batches inside
    the horizon ARE caught (pytest-gated); re-crawls separated by more
    than the horizon re-admit, which a periodic batch
    ``dedup_exact`` sweep over the sink reconciles.

    Works on a batch frame too, with a DETERMINISTIC keeper: the
    earliest-ts row per distinct text, ties broken by ``id_col`` asc
    (plain dropDuplicates keeps a partitioning-dependent arbitrary
    row, which would make the batch twin nondeterministic)."""
    from pyspark.sql import Window

    keyed = docs.withColumn(
        "_text_sha", F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
    )
    if docs.isStreaming:
        out = keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["_text_sha"]
        )
    else:
        w = Window.partitionBy("_text_sha").orderBy(
            F.col(ts_col).asc(), F.col(id_col).asc()
        )
        out = (
            keyed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return out.drop("_text_sha")


# ------------------------------------ custom stateful operator (§2.9)

SESSION_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_sessions", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)
SESSION_STATE = T.StructType(
    [
        T.StructField("last_epoch", T.DoubleType(), True),
        T.StructField("n_sessions", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)


def sessionize_stateful(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user session counting with >gap_s breaks. State
    (last_epoch, n_sessions, n_events) carries ACROSS micro-batches --
    an event in batch k+1 within gap_s of batch k's last event does not
    open a new session. The batch twin is the lag-window sessionizer
    (__spark_entry__.q_events_sessionize); the restart test asserts the
    cross-batch continuity that twin can't express."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        last, sessions, n_ev = state.get if state.exists else (None, 0, 0)
        ts = []
        for pdf in pdfs:
            ts.extend(pdf["ts"].tolist())
        for t in sorted(ts):
            e = t.timestamp()
            if last is None or e - last > gap_s:
                sessions += 1
            # frontier only ADVANCES: an out-of-order event delivered in
            # a later micro-batch (no watermark bounds lateness here)
            # must not move it backward, or the next in-order event can
            # falsely exceed gap_s and open a phantom session
            last = max(last, e) if last is not None else e
            n_ev += 1
        state.update((last, sessions, n_ev))
        yield pd.DataFrame(
            [{"user_id": key[0], "n_sessions": sessions, "n_events": n_ev}]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, SESSION_OUT, SESSION_STATE, "update", GroupStateTimeout.NoTimeout
    )
