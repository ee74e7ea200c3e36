"""Streaming ingestion: same extraction results as batch, exactly-once
across restarts (file-source checkpoint)."""

from __future__ import annotations

import pytest

from structured_data_entity_extraction_spark import codekg
from structured_data_entity_extraction_spark.fixtures import repos_src_rows
from structured_data_entity_extraction_spark.schemas import REPOS_SRC
from structured_data_entity_extraction_spark.streaming import stream_repos_src


def _write_input(spark, rows, path):
    df = spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows],
        REPOS_SRC,
    )
    df.coalesce(2).write.mode("append").parquet(path)


def _df(spark, rows):
    return spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows],
        REPOS_SRC,
    )


def test_stream_matches_batch(spark, tmp_path):
    """Streaming ingest lands in the StageStore warehouse: the mentions
    STAGE (not a raw sink) matches batch extraction, restart appends
    only new files, and a batch finalize run over the union RESUMES the
    streamed mentions/candidates (additive digest identity) and builds
    triples bit-for-bit equal to a from-scratch warehouse."""
    from structured_data_entity_extraction_spark.materialize import StageStore
    from structured_data_entity_extraction_spark.pipeline import run_codekg_pipeline

    rows = repos_src_rows(80, seed=5)
    inp = str(tmp_path / "in")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_input(spark, rows[:50], inp)

    q = stream_repos_src(spark, inp, wh, ckpt)
    q.awaitTermination(120)

    store = StageStore(wh)
    got1 = store.read(spark, "mentions")
    want1 = codekg.extract_code_mentions(_df(spark, rows[:50]))
    key = ["doc_id", "field", "value"]
    assert sorted(map(tuple, got1.select(*key).collect())) == sorted(
        map(tuple, want1.select(*key).collect())
    )
    assert store.is_complete("candidates")
    assert store.has_input_pairs()
    assert store.read_input_pairs(spark).count() == 50

    # late-arriving files: restart picks up ONLY the new ones
    # (file-source checkpoint) and takes the append-only path
    _write_input(spark, rows[50:], inp)
    q2 = stream_repos_src(spark, inp, wh, ckpt)
    q2.awaitTermination(120)
    got2 = store.read(spark, "mentions")
    want2 = codekg.extract_code_mentions(_df(spark, rows))
    assert got2.count() == want2.count()  # no duplicates from reprocessing
    assert store.read_input_pairs(spark).count() == 80

    # batch finalize over the union: streamed stages RESUME (identity
    # matches via the additive digest), only global stages build
    m = run_codekg_pipeline(spark, _df(spark, rows), wh, run_id="finalize")
    assert m["stages"]["mentions"]["resumed"] is True
    assert m["stages"]["candidates"]["resumed"] is True
    assert m["stages"]["triples"]["resumed"] is False

    # bit-for-bit vs a from-scratch warehouse over the same 80 docs
    scratch = str(tmp_path / "scratch")
    run_codekg_pipeline(spark, _df(spark, rows), scratch, run_id="scratch")
    tcols = StageStore(wh).read(spark, "triples").columns
    got_t = sorted(map(tuple, StageStore(wh).read(spark, "triples").select(*tcols).collect()))
    want_t = sorted(
        map(tuple, StageStore(scratch).read(spark, "triples").select(*tcols).collect())
    )
    assert got_t == want_t


def test_stream_dedup_exact_across_microbatches(spark, tmp_path):
    """dropDuplicatesWithinWatermark state carries ACROSS micro-batches:
    a duplicate text arriving in a later batch (inside the watermark
    horizon) is suppressed; distinct texts pass; the first copy wins."""
    import datetime as dt

    from pyspark.sql import types as T

    from structured_data_entity_extraction_spark.streaming import stream_dedup_exact

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    base = dt.datetime(2024, 1, 1)
    inp = str(tmp_path / "dd_in")
    # file 1 then file 2; maxFilesPerTrigger=1 forces two micro-batches
    spark.createDataFrame([(1, base, "same text")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    spark.createDataFrame(
        [
            (2, base + dt.timedelta(minutes=5), "same text"),
            (3, base + dt.timedelta(minutes=6), "other text"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(inp)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inp)
    )
    out = stream_dedup_exact(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dd_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["doc_id"], r["text"]) for r in spark.sql("SELECT * FROM dd_sink").collect()}
    assert got == {(1, "same text"), (3, "other text")}

    # batch fallback: DETERMINISTIC keeper -- earliest ts, then min id
    bdf = spark.createDataFrame(
        [
            (2, base, "a"),  # ties (1, base) on ts; id 1 must win
            (1, base, "a"),
            (4, base + dt.timedelta(minutes=1), "a"),  # later ts loses
            (3, base, "b"),
        ],
        schema,
    ).repartition(4)
    kept = {(r["doc_id"], r["text"]) for r in stream_dedup_exact(bdf).collect()}
    assert kept == {(1, "a"), (3, "b")}


def test_windowed_event_counts_stream_vs_batch(spark, tmp_path):
    """Watermarked tumbling-window agg: streaming (update mode, memory
    sink) converges to the same final windows as the batch run of the
    identical plan."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from structured_data_entity_extraction_spark.streaming import windowed_event_counts

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (base + dt.timedelta(minutes=7 * i), "click" if i % 2 else "view", float(i))
        for i in range(40)
    ]
    inp = str(tmp_path / "ev_in")
    spark.createDataFrame(rows, schema).coalesce(2).write.parquet(inp)

    stream = spark.readStream.schema(schema).parquet(inp)
    q = (
        windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("select * from win_counts").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in windowed_event_counts(spark.read.parquet(inp)).collect()
    }
    assert got == want and len(want) > 3


def test_sessionize_stateful_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: an event arriving in a LATER micro-batch
    within the gap of the previous batch's last event must NOT open a
    new session (state restore from checkpoint); a beyond-gap event
    must."""
    import datetime as dt

    from pyspark.sql import types as T

    from structured_data_entity_extraction_spark.streaming import sessionize_stateful

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    inp = str(tmp_path / "sess_in")
    ckpt = str(tmp_path / "sess_ckpt")
    run_no = [0]

    def run_batch(rows):
        # memory sink can't recover a checkpoint across restarts; a
        # foreachBatch parquet sink can (the production shape anyway)
        run_no[0] += 1
        out = str(tmp_path / f"sess_out{run_no[0]}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(inp)
        stream = spark.readStream.schema(schema).parquet(inp)

        def sink(df, batch_id):
            df.write.mode("append").parquet(out)

        q = (
            sessionize_stateful(stream, gap_s=1800)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r["user_id"]: (r["n_sessions"], r["n_events"])
            for r in spark.read.parquet(out).collect()
        }

    # batch 1: u1 two events 10 min apart (1 session); u2 one event
    got1 = run_batch(
        [
            (1, base),
            (1, base + dt.timedelta(minutes=10)),
            (2, base),
        ]
    )
    assert got1[1] == (1, 2) and got1[2] == (1, 1)
    # batch 2: u1 +20 min (same session, 10-min-old state), u2 +2 h (new)
    got2 = run_batch(
        [
            (1, base + dt.timedelta(minutes=30)),
            (2, base + dt.timedelta(hours=2)),
        ]
    )
    assert got2[1] == (1, 3)  # still ONE session -- state carried over
    assert got2[2] == (2, 2)  # gap exceeded -> second session
    # batch 3 (ADVICE r2): u1 gets an OUT-OF-ORDER event 40 min before
    # the frontier (base+30). The frontier must not move backward --
    # otherwise the next in-order event (base+45, only 15 min past the
    # true frontier) would falsely open a phantom session.
    got3 = run_batch([(1, base - dt.timedelta(minutes=10))])
    assert got3[1] == (1, 4)  # e - frontier = -40 min < gap -> same session
    got4 = run_batch([(1, base + dt.timedelta(minutes=45))])
    # 15 min past the TRUE frontier (base+30) -> same session; with the
    # regressed frontier (base-10) this would falsely open session 2
    assert got4[1] == (1, 5)


def test_stream_mid_batch_abort_restart_self_heals(spark, tmp_path, monkeypatch):
    """VERDICT r5 #7 pytest twin: the driver dies INSIDE foreachBatch
    after the mentions commit but before candidates/sidecar (fault
    injected into the link step, the same cut point as a kill -9 there;
    the live SIGKILL version is tools/stream_kill_probe.py, recorded in
    BENCH.md). The streaming query FAILS with the batch half-landed; a
    restart from the SAME checkpoint redelivers the micro-batch, the
    bootstrap self-heal path resumes mentions under the identity guard
    and rebuilds candidates + sidecar, and the finalize run matches a
    from-scratch warehouse bit-for-bit."""
    import pyspark.errors

    from structured_data_entity_extraction_spark import pipeline as pl
    from structured_data_entity_extraction_spark.materialize import StageStore
    from structured_data_entity_extraction_spark.pipeline import run_codekg_pipeline

    rows = repos_src_rows(60, seed=77)
    inp = str(tmp_path / "in")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_input(spark, rows, inp)

    real_ingest = pl.ingest_repos_batch
    state = {"killed": False}

    def dying_ingest(bspark, store, batch_df, **kw):
        if not state["killed"]:
            # run the REAL bootstrap up to the cut point: mentions
            # committed, then die before link/sidecar (monkeypatching
            # link_mentions keeps every commit/guard on the real path)
            from structured_data_entity_extraction_spark import codekg as ck

            real_link = ck.link_mentions

            def bomb(*a, **k):
                state["killed"] = True
                raise RuntimeError("injected mid-batch death")

            monkeypatch.setattr(ck, "link_mentions", bomb)
            try:
                return real_ingest(bspark, store, batch_df, **kw)
            finally:
                monkeypatch.setattr(ck, "link_mentions", real_link)
        return real_ingest(bspark, store, batch_df, **kw)

    monkeypatch.setattr(pl, "ingest_repos_batch", dying_ingest)
    q = stream_repos_src(spark, inp, wh, ckpt)
    with pytest.raises(pyspark.errors.StreamingQueryException):
        q.awaitTermination(120)
    assert state["killed"]
    store = StageStore(wh)
    assert store.is_complete("mentions")  # data landed...
    assert not store.is_complete("candidates")  # ...batch never finished
    assert not store.has_input_pairs()  # died before the sidecar

    # restart from the same checkpoint: the offset log never committed
    # batch 0, so it is REDELIVERED; bootstrap dispatch keys on the LAST
    # stage and self-heals (mentions resumed under the identity guard)
    monkeypatch.setattr(pl, "ingest_repos_batch", real_ingest)
    q2 = stream_repos_src(spark, inp, wh, ckpt)
    q2.awaitTermination(120)
    assert store.is_complete("mentions") and store.is_complete("candidates")
    assert store.has_input_pairs()
    assert store.read_input_pairs(spark).count() == 60

    # finalize over the full input resumes the streamed stages and the
    # triples match a from-scratch warehouse bit-for-bit
    m = run_codekg_pipeline(spark, _df(spark, rows), wh, run_id="fin")
    assert m["stages"]["mentions"]["resumed"] is True
    assert m["stages"]["candidates"]["resumed"] is True
    scratch = str(tmp_path / "scratch")
    run_codekg_pipeline(spark, _df(spark, rows), scratch, run_id="s")
    tcols = StageStore(wh).read(spark, "triples").columns
    got = sorted(map(tuple, StageStore(wh).read(spark, "triples").select(*tcols).collect()))
    want = sorted(
        map(tuple, StageStore(scratch).read(spark, "triples").select(*tcols).collect())
    )
    assert got == want


def test_stream_post_commit_pre_sidecar_abort_self_heals(spark, tmp_path, monkeypatch):
    """Code-review r6 finding: the window AFTER the candidates commit
    but BEFORE the sidecar _SUCCESS (the invariant-report jobs) is
    outside any marker. The fix keys the stream dispatch on the sidecar
    itself: a redelivered batch that finds both stages committed but NO
    sidecar must re-enter the BOOTSTRAP path (resume under the identity
    guard, rebuild the sidecar), not the append path whose
    mentions-derived fallback drops zero-mention docs."""
    import pyspark.errors

    from structured_data_entity_extraction_spark import pipeline as pl
    from structured_data_entity_extraction_spark.materialize import StageStore
    from structured_data_entity_extraction_spark.pipeline import run_codekg_pipeline

    rows = repos_src_rows(50, seed=78)
    inp = str(tmp_path / "in")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_input(spark, rows, inp)

    real_rep = pl.sha_invariant_report
    state = {"boom": True}

    def dying_report(df, pairs, digest):
        if state["boom"]:
            state["boom"] = False
            raise RuntimeError("injected post-commit pre-sidecar death")
        return real_rep(df, pairs, digest)

    monkeypatch.setattr(pl, "sha_invariant_report", dying_report)
    q = stream_repos_src(spark, inp, wh, ckpt)
    with pytest.raises(pyspark.errors.StreamingQueryException):
        q.awaitTermination(120)
    store = StageStore(wh)
    # the poisoned window: both stages committed, sidecar absent
    assert store.is_complete("mentions") and store.is_complete("candidates")
    assert not store.has_input_pairs()

    # restart: batch 0 redelivered (offset never committed); dispatch
    # sees the missing sidecar and self-heals via bootstrap resume
    q2 = stream_repos_src(spark, inp, wh, ckpt)
    q2.awaitTermination(120)
    assert store.has_input_pairs()
    assert store.read_input_pairs(spark).count() == 50

    m = run_codekg_pipeline(spark, _df(spark, rows), wh, run_id="fin")
    assert m["stages"]["mentions"]["resumed"] is True
    scratch = str(tmp_path / "scratch")
    run_codekg_pipeline(spark, _df(spark, rows), scratch, run_id="s")
    tcols = StageStore(wh).read(spark, "triples").columns
    got = sorted(map(tuple, StageStore(wh).read(spark, "triples").select(*tcols).collect()))
    want = sorted(
        map(tuple, StageStore(scratch).read(spark, "triples").select(*tcols).collect())
    )
    assert got == want
