"""End-to-end orchestration: the resumable, checkpointed KG pipeline
(north_rule) plus a spark-submit entry point.

    spark-submit --py-files structured_data_entity_extraction_spark.zip \\
        -m structured_data_entity_extraction_spark.pipeline \\
        --input <repos_src parquet> --output <warehouse root>

Stages commit in order (extract -> link -> canonize -> triples); a
killed run re-invoked with the same --output resumes after the last
committed stage (StageStore manifest gate). Skew from mega-repos is
handled by AQE skew-join splitting (session.py) plus the repo_bucket
partitioning of the materialized tables.

Stage layout: mentions, candidates and triples are written
partitionBy(repo_bucket, lang), repo_bucket = pmod(xxhash64(repo),
bucket_count), and the triples dedup is salted ``write_salt`` ways
(codekg.build_triples). ``derive_layout`` sizes both from the input's
content bytes: one (bucket, salt) key per 16 MiB, buckets first (up to
64), then salt (up to 8). A 2000-doc input gets (1, 1), one part-file
per (bucket, lang) directory; the 320k-doc pipeline_bench corpus (306
MB) gets (19, 1); (64, 8), the r6 layout, starts above 7 GiB (BENCH.md
"r6 fold" has the A/B behind the 16 MiB). The bucket count is fixed
when mentions is built: resume, --append, streaming batches and the
finalize run read it from the mentions manifest. The salt only shapes
the triples build, which always reads the whole corpus, so it is
re-derived from the corpus' content bytes, which the manifests add up
over appends. The layout is recorded in the three stages' manifests. A
manifest without one was written as (64, 8) and keeps 64 buckets.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codekg
from .link import avaluo_records, dim_frames
from .materialize import StageStore, doc_sha_identity, sha_invariant_report
from .ops.cache import cache_scope, persist_tracked
from .triples import records_to_triples

# content bytes per (repo_bucket, write salt) key (derive_layout): at
# the fixture corpus' ~56 triples per KB of content and its six langs,
# ~150k triples per dedup task, inside the 100-250k rows per reduce task
# that session.py sizes shuffles to
LAYOUT_TARGET_BYTES = 16 << 20
# the r6 layout: the ceiling of the derived one, and the layout of a
# warehouse whose manifests record none (written before layouts were
# derived)
LEGACY_LAYOUT = {"bucket_count": 64, "write_salt": 8}


def derive_layout(content_bytes: int, bucket_count: int | None = None) -> dict:
    """The partition layout for a corpus of ``content_bytes``: one
    (repo_bucket, write salt) key per LAYOUT_TARGET_BYTES, at most the
    64 x 8 of LEGACY_LAYOUT (dedup parallelism is buckets x langs x
    salt, BENCH.md "r6 fold"). Buckets come first, up to 64, and the
    salt makes up the rest. A warehouse passes its recorded
    ``bucket_count``; the salt then sizes the triples build to the
    whole corpus, however small the batch that fixed the buckets."""
    keys = min(max(-(-content_bytes // LAYOUT_TARGET_BYTES), 1), 64 * 8)
    if bucket_count is None:
        bucket_count = min(keys, 64)
    return {"bucket_count": bucket_count, "write_salt": -(-keys // bucket_count)}


def _layout_for(store: StageStore, content_bytes: int | None) -> dict:
    """The layout this run writes under. Building mentions derives it.
    Otherwise the bucket count is the one mentions was written with (64
    when unrecorded), and the salt is re-derived for ``content_bytes``,
    the corpus the next triples build reads. ``None`` (a warehouse that
    predates recorded input bytes) keeps the recorded salt."""
    if not store.is_complete("mentions"):
        return derive_layout(content_bytes)
    recorded = store.manifest("mentions").get("layout", LEGACY_LAYOUT)
    if content_bytes is None:
        return recorded
    return derive_layout(content_bytes, recorded["bucket_count"])


def _cache_scoped(fn):
    """Run ``fn`` inside one ``cache_scope``: every frame it persists
    through ``persist_tracked`` is released on return and on error."""

    @functools.wraps(fn)
    def scoped(*args, **kwargs):
        with cache_scope():
            return fn(*args, **kwargs)

    return scoped


def length_gate(docs: DataFrame, min_chars: int = 50, text_col: str = "text") -> DataFrame:
    """S1 -- the reference's page gate: keep only pages whose stripped
    text exceeds ``min_chars`` (extractorAvaluos.py:18-29 keeps pages
    with >50 chars). JVM-side filter, pushes down to the scan."""
    return docs.filter(F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > min_chars)


class StageCommits:
    """The commit path every pipeline mode shares: build-or-resume
    (``StageStore.run_stage``) or append one stage, record its manifest
    rows and wall time in ``metrics["stages"]``, and hold a stage that
    carries content_sha to the per-row sha256 invariant against the
    input's (doc_id, content_sha) pairs (BASELINE.json:input_hint). A
    resumed partitioned stage must have been written with the store's
    bucket count."""

    def __init__(self, spark: SparkSession, store: StageStore, metrics: dict, pairs=None, n_input: int = 0):
        self.spark, self.store, self.metrics = spark, store, metrics
        self.pairs, self.n_input = pairs, n_input

    def run(self, stage: str, build, partition_by=None, check: bool = True) -> DataFrame:
        t0 = time.time()
        df = self.store.run_stage(self.spark, stage, build, partition_by)
        self.metrics["stages"][stage] = {
            "rows": self.store.manifest(stage)["rows"],
            "wall_s": round(time.time() - t0, 3),
            "resumed": self.store.last_resumed[stage],
        }
        if partition_by and self.store.last_resumed[stage]:
            recorded = self.store.manifest(stage).get("layout", LEGACY_LAYOUT)
            if recorded["bucket_count"] != self.store.layout["bucket_count"]:
                raise RuntimeError(
                    f"stage '{stage}' was written with {recorded['bucket_count']} "
                    f"repo buckets but the warehouse's mentions stage uses "
                    f"{self.store.layout['bucket_count']}: delete this stage "
                    "and the stages after it to rebuild them"
                )
        if check:
            self.check(stage, df)
        return df

    def append(self, stage: str, df: DataFrame, partition_by=None) -> None:
        t0 = time.time()
        self.store.append(df, stage, partition_by)
        m = self.store.manifest(stage)
        self.metrics["stages"][stage] = {
            "appended_rows": m["rows"] - m["appended_from_rows"],
            "total_rows": m["rows"],
            "wall_s": round(time.time() - t0, 3),
        }
        self.check(stage, df)

    def check(self, stage: str, df: DataFrame) -> None:
        """A stage may drop docs (explode on []), so the check is
        "subset with no sha mismatch"."""
        if self.pairs is None or "content_sha" not in df.columns:
            return
        rep = sha_invariant_report(df, self.pairs, self.n_input)
        self.metrics["stages"][stage].update(rep)
        if not rep["sha_invariant_ok"]:
            raise RuntimeError(
                f"content sha256 invariant violated at stage {stage}: "
                f"{rep['bad_pairs']} (doc_id, content_sha) pairs not in input"
            )


@_cache_scoped
def run_codekg_pipeline(
    spark: SparkSession,
    repos_src: DataFrame,
    out_root: str,
    run_id: str = "run0",
    use_lsh: bool = True,
    alias_rows=None,
    iceberg_catalog: str | None = None,
) -> dict:
    """repos_src -> {mentions, candidates, edges, nodes, triples}
    checkpointed under out_root (the node/edge KG tables are
    first-class stages per the north rule); returns stage row counts +
    timings."""
    store = StageStore(out_root, run_id=run_id, iceberg_catalog=iceberg_catalog)
    input_pairs, input_digest, n_input, content_bytes = input_identity(repos_src)
    # stamp the input identity into every stage manifest: resume only
    # proceeds when the warehouse was built from THIS input (run_stage
    # raises otherwise -- the silent-stale-resume guard)
    store.input_digest, store.input_docs = input_digest, n_input
    store.input_bytes = content_bytes
    store.layout = _layout_for(store, content_bytes)
    metrics: dict = {
        "run_id": run_id,
        "input_sha_digest": input_digest,
        "layout": store.layout,
        "stages": {},
    }
    commits = StageCommits(spark, store, metrics, input_pairs, n_input)
    alias_dim = codekg.code_alias_dim(spark, alias_rows)

    mentions = commits.run(
        "mentions",
        lambda: codekg.extract_code_mentions(repos_src, store.layout["bucket_count"]),
        partition_by=["repo_bucket", "lang"],
    )
    # input-identity sidecar: the exact (doc_id, content_sha) set this
    # warehouse was built from -- append-only ingest joins new batches
    # against it (a zero-mention doc has no mentions row but IS input).
    # Written only AFTER run_stage has built-or-identity-validated the
    # first stage: writing earlier would let a refused run over a
    # DIFFERENT input poison a legacy (sidecar-less) warehouse's
    # identity set. Write-if-missing thereafter. Marker-bracketed so a
    # crash mid-sidecar surfaces as a refusing torn append instead of a
    # silent fallback to the weaker mentions-derived guard.
    if not store.has_input_pairs():
        store.begin_append(["_input_pairs"])
        store.write_input_pairs(input_pairs)
        store.end_append()
    candidates = commits.run(
        "candidates",
        lambda: codekg.link_mentions(mentions, alias_dim, use_lsh=use_lsh),
        partition_by=["repo_bucket", "lang"],
    )
    edges = commits.run("edges", lambda: codekg.link_edges(candidates, alias_dim))
    nodes = commits.run("nodes", lambda: codekg.canonicalize(candidates, alias_dim, edges))
    commits.run(
        "triples",
        lambda: codekg.build_triples(candidates, nodes, store.layout["write_salt"]),
        partition_by=["repo_bucket", "lang"],
    )
    metrics["triples"] = metrics["stages"]["triples"]["rows"]
    return metrics


def input_identity(repos_src: DataFrame):
    """(distinct (doc_id, content_sha) pairs, additive digest, pair
    count, content bytes) of a raw repos_src frame; doc_id =
    sha256(repo\\0path\\0commit). Digest, count and bytes are one
    aggregate (``doc_sha_identity``)."""
    content = F.coalesce(F.col("content"), F.lit(""))
    return doc_sha_identity(
        repos_src.select(
            F.sha2(
                F.concat_ws("\x00", F.col("repo"), F.col("path"), F.col("commit")), 256
            ).alias("doc_id"),
            F.sha2(content, 256).alias("content_sha"),
            F.octet_length(content).alias("content_bytes"),
        )
    )


@_cache_scoped
def ingest_repos_batch(
    spark: SparkSession,
    store: StageStore,
    repos_src_batch: DataFrame,
    use_lsh: bool = True,
    alias_rows=None,
) -> dict:
    """Land ONE batch of documents in a warehouse -- the streaming
    foreachBatch sink. An empty warehouse bootstraps the extract/link
    stages (mentions, candidates) plus the input-identity sidecar;
    a committed one takes the append-only path (``append_repos_batch``:
    overlap guard, additive digest, torn-append marker). Corpus-global
    stages (edges/nodes/triples) are NOT built per batch --
    canonicalization is corpus-global, so a batch "finalize"
    ``run_codekg_pipeline`` over the full input resumes
    mentions/candidates from these checkpoints and builds only the
    global stages.

    Idempotent under at-least-once delivery (``replay_ok``): a
    redelivered batch whose docs ALL already sit in the warehouse is a
    no-op, and a bootstrap crash ANYWHERE before the sidecar _SUCCESS
    self-heals: dispatch keys on the LAST bootstrap artifact (the
    input-identity sidecar), so a replay after a crash between the
    stage commits -- or in the invariant-report/sidecar window after
    the candidates commit, where several Spark jobs run outside any
    marker -- re-enters the bootstrap path, resumes the committed
    stages under the identity guard, and rebuilds the sidecar. Without
    the sidecar condition that window dispatched to the APPEND path,
    whose mentions-derived fallback guard drops zero-mention docs from
    the identity set (the crash-loop / digest-double-count ADVICE r5
    flagged). A legacy batch warehouse (no sidecar) streamed into with
    a DIFFERENT batch now refuses via the input-identity guard instead
    of silently degrading -- refusal is the guard working."""
    if (
        store.is_complete("mentions")
        and store.is_complete("candidates")
        and store.has_input_pairs()
    ):
        return append_repos_batch(
            spark,
            store,
            repos_src_batch,
            use_lsh=use_lsh,
            alias_rows=alias_rows,
            replay_ok=True,
        )
    pairs, digest, n_input, content_bytes = input_identity(repos_src_batch)
    store.input_digest, store.input_docs = digest, n_input
    store.input_bytes = content_bytes
    store.layout = _layout_for(store, content_bytes)
    metrics: dict = {
        "run_id": store.run_id,
        "mode": "bootstrap",
        "new_docs": n_input,
        "input_sha_digest": digest,
        "stages": {},
    }
    commits = StageCommits(spark, store, metrics, pairs, n_input)
    alias_dim = codekg.code_alias_dim(spark, alias_rows)
    mentions = commits.run(
        "mentions",
        lambda: codekg.extract_code_mentions(repos_src_batch, store.layout["bucket_count"]),
        ["repo_bucket", "lang"],
        check=False,
    )
    candidates = commits.run(
        "candidates",
        lambda: codekg.link_mentions(mentions, alias_dim, use_lsh=use_lsh),
        ["repo_bucket", "lang"],
        check=False,
    )
    for stage, df in (("mentions", mentions), ("candidates", candidates)):
        commits.check(stage, df)
    # sidecar LAST: run_stage has now either built the stages from this
    # batch or resumed them under the identity guard, so the sidecar
    # can never describe an input the warehouse does not hold. The
    # whole post-candidates window (invariant-report jobs + this
    # write) is crash-safe WITHOUT a wider marker because the stream
    # dispatch keys on the sidecar itself: no _SUCCESS -> the
    # redelivered batch re-enters bootstrap and self-heals. The marker
    # around the write additionally catches a torn multi-file sidecar
    # on the batch (run_codekg_pipeline) path, which has no redelivery.
    store.begin_append(["_input_pairs"])
    store.write_input_pairs(pairs)
    store.end_append()
    return metrics


@_cache_scoped
def append_repos_batch(
    spark: SparkSession,
    store: StageStore,
    repos_src_new: DataFrame,
    use_lsh: bool = True,
    alias_rows=None,
    replay_ok: bool = False,
) -> dict:
    """Append ONE batch of new documents to a committed warehouse --
    the shared core of incremental batch ingest and the streaming
    foreachBatch sink. Extracts + links ONLY the batch, appends to the
    mentions/candidates stages inside one torn-append marker window,
    extends the input-identity sidecar, folds the additive digest into
    the manifests, and invalidates the corpus-global stages
    (edges/nodes/triples) whose old checkpoints describe the
    pre-append corpus. Rebuilding them is the caller's choice: the
    incremental CLI rebuilds immediately; the streaming sink leaves
    them invalidated so a batch "finalize" run over the union resumes
    mentions/candidates and rebuilds only the global stages.

    Overlap guard: new doc_ids are checked against the warehouse's
    input-identity sidecar (every doc ever ingested, including
    zero-mention docs); legacy warehouses without the sidecar fall
    back to mentions-derived ids. The batch is written with the bucket
    count recorded in the mentions manifest; the write salt is
    re-derived for the grown corpus (``_layout_for``)."""
    for st in ("mentions", "candidates"):
        if not store.is_complete(st):
            raise RuntimeError(
                f"incremental append requires a committed '{st}' stage; "
                "run the full pipeline first"
            )
    store.check_no_pending()
    old_m = store.manifest("mentions")
    old_digest, old_docs = old_m.get("input_sha_digest"), old_m.get("input_docs")
    if old_digest is None:
        raise RuntimeError(
            "warehouse predates input-identity manifests; re-run the full "
            "pipeline once to stamp them before appending"
        )

    new_pairs, new_digest, n_new, new_bytes = input_identity(repos_src_new)
    if store.has_input_pairs():
        existing = store.read_input_pairs(spark).select("doc_id", "content_sha").distinct()
    else:
        existing = store.read(spark, "mentions").select("doc_id", "content_sha").distinct()
    n_overlap = new_pairs.join(
        existing.select("doc_id").distinct(), "doc_id", "left_semi"
    ).count()
    if n_overlap:
        # replay-noop requires the EXACT (doc_id, content_sha) pair set:
        # a redelivered batch with the same ids but different content is
        # a content change, never a replay -- the sidecar carries
        # content_sha precisely to make this test exact
        n_exact = new_pairs.join(
            existing, ["doc_id", "content_sha"], "left_semi"
        ).count()
        if replay_ok and n_overlap == n_new and n_exact == n_new:
            # at-least-once replay: the warehouse committed this whole
            # batch but the caller's own checkpoint (e.g. the streaming
            # offset log) did not -- re-delivery must be a no-op, not a
            # crash loop. Partial overlap is never a replay and still
            # raises below.
            return {
                "run_id": store.run_id,
                "mode": "replay_noop",
                "new_docs": 0,
                "replayed_docs": n_new,
                "stages": {},
            }
        if n_exact != n_overlap:
            raise RuntimeError(
                f"{n_overlap - n_exact} of the {n_new} new docs share a "
                "doc_id with the warehouse but carry DIFFERENT content "
                "(content_sha mismatch): update-in-place is not append; "
                "re-extracting changed documents needs a fresh warehouse"
            )
        raise RuntimeError(
            f"{n_overlap} of the {n_new} new docs already exist in the "
            "warehouse: incremental ingest is append-only; re-extracting "
            "changed documents needs a fresh warehouse (or delete + full run)"
        )
    store.input_digest = str(int(old_digest) + int(new_digest))
    store.input_docs = int(old_docs) + n_new
    old_bytes = old_m.get("input_bytes")
    store.input_bytes = None if old_bytes is None else old_bytes + new_bytes
    store.layout = _layout_for(store, store.input_bytes)

    metrics: dict = {
        "run_id": store.run_id,
        "mode": "incremental",
        "new_docs": n_new,
        "input_sha_digest": store.input_digest,
        "layout": store.layout,
        "stages": {},
    }
    commits = StageCommits(spark, store, metrics, new_pairs, n_new)
    alias_dim = codekg.code_alias_dim(spark, alias_rows)
    # the new-batch frames feed both the append write and the
    # downstream link/invariant -- persist so extraction runs once per
    # batch
    mentions_new = persist_tracked(
        codekg.extract_code_mentions(repos_src_new, store.layout["bucket_count"])
    )
    candidates_new = persist_tracked(
        codekg.link_mentions(mentions_new, alias_dim, use_lsh=use_lsh)
    )
    store.begin_append(["mentions", "candidates", "_input_pairs"])
    for stage, df in (("mentions", mentions_new), ("candidates", candidates_new)):
        commits.append(stage, df, ["repo_bucket", "lang"])
    if store.has_input_pairs():
        store.append_input_pairs(new_pairs)
    else:
        # legacy warehouse: seed the sidecar with old (from mentions,
        # best available) + new, so the NEXT append gets the exact guard
        store.write_input_pairs(
            store.read(spark, "mentions")
            .select("doc_id", "content_sha")
            .distinct()
            .unionByName(new_pairs)
            .distinct()
        )
    # the global stages describe the pre-append corpus; drop their
    # checkpoints inside the marker window so a crash here still
    # surfaces as a torn append rather than stale globals
    for st in ("edges", "nodes", "triples"):
        store.invalidate(st)
    store.end_append()
    return metrics


@_cache_scoped
def run_codekg_pipeline_incremental(
    spark: SparkSession,
    repos_src_new: DataFrame,
    out_root: str,
    run_id: str = "inc0",
    use_lsh: bool = True,
    alias_rows=None,
    iceberg_catalog: str | None = None,
) -> dict:
    """Append-only incremental ingest (the 10^12-file reality is an
    append-only crawl): extract + link ONLY the new documents -- the
    regex extraction is a large share of pipeline cost and is
    per-document independent, as is dictionary/LSH linking (value-level
    against the dim, no cross-document dependencies) -- append them to
    the committed mentions/candidates stages, then rebuild the global
    stages (edges/nodes/triples) from the union: canonicalization is
    corpus-global by definition (a new surface can re-canonicalize old
    triples through a new alias chain), so exact semantics require the
    downstream rebuild; it is the cheap part next to re-extracting.

    Input-identity bookkeeping is EXACT, not recomputed: the sha
    sum-fold digest is additive over disjoint doc sets, so the
    combined identity = old manifest digest + new batch digest. A
    subsequent FULL run over old+new input therefore resumes every
    stage cleanly, and the run_stage guard keeps refusing any other
    input. New docs must be genuinely new (doc_id overlap with the
    warehouse's input-identity sidecar raises -- update-in-place is
    not append)."""
    store = StageStore(out_root, run_id=run_id, iceberg_catalog=iceberg_catalog)
    metrics = append_repos_batch(
        spark,
        store,
        repos_src_new,
        use_lsh=use_lsh,
        alias_rows=alias_rows,
    )

    # global stages rebuild from the union (their old manifests carry
    # the pre-append input identity, which run_stage would refuse)
    commits = StageCommits(spark, store, metrics)
    alias_dim = codekg.code_alias_dim(spark, alias_rows)
    candidates_all = store.read(spark, "candidates")
    edges = commits.run("edges", lambda: codekg.link_edges(candidates_all, alias_dim))
    nodes = commits.run("nodes", lambda: codekg.canonicalize(candidates_all, alias_dim, edges))
    commits.run(
        "triples",
        lambda: codekg.build_triples(candidates_all, nodes, store.layout["write_salt"]),
        partition_by=["repo_bucket", "lang"],
    )
    for stage in ("edges", "nodes", "triples"):
        metrics["stages"][stage]["rebuilt"] = True
    metrics["triples"] = metrics["stages"]["triples"]["rows"]
    return metrics


@_cache_scoped
def run_avaluo_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    run_id: str = "run0",
    min_page_chars: int | None = None,
    iceberg_catalog: str | None = None,
) -> dict:
    """docs(doc_id, text) -> 13-field records + triples, checkpointed.
    The records stage is ``link.avaluo_records``: one narrow pass (the
    extract pandas UDF, broadcast dim joins) that the stage's observed
    write evaluates once, with nothing persisted. ``min_page_chars`` wires the reference's S1 page gate (>50 chars,
    extractorAvaluos.py:18-29); None preserves every row. Both stage
    checkpoints carry content_sha and are verified against the (gated)
    input's per-document sha set."""
    store = StageStore(out_root, run_id=run_id, iceberg_catalog=iceberg_catalog)
    dims = dim_frames(spark)
    if min_page_chars is not None:
        docs = length_gate(docs, min_page_chars)
    input_pairs, input_digest, n_input, _ = doc_sha_identity(
        docs.select(
            "doc_id",
            F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("content_sha"),
        )
    )
    store.input_digest, store.input_docs = input_digest, n_input
    out: dict = {"input_sha_digest": input_digest, "stages": {}}
    commits = StageCommits(spark, store, out, input_pairs, n_input)
    records = commits.run("records", lambda: avaluo_records(docs, dims))
    commits.run("triples", lambda: records_to_triples(records))
    out["records"] = out["stages"]["records"]["rows"]
    out["triples"] = out["stages"]["triples"]["rows"]
    return out


def main(argv=None) -> None:
    from .session import get_spark

    ap = argparse.ArgumentParser(
        description="Resumable, checkpointed KG pipeline. codekg writes its "
        "mentions, candidates and triples stages partitioned by "
        "(repo_bucket, lang) under a layout sized to the input's content "
        "bytes and recorded in the stage manifests: the bucket count is "
        "fixed by the first build and reused by resume, --append and "
        "--stream; the triples write salt follows the corpus size."
    )
    ap.add_argument(
        "--input", default=None,
        help="input parquet path (required except with --compact)",
    )
    ap.add_argument("--output", required=True, help="warehouse root")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--no-lsh", action="store_true")
    ap.add_argument(
        "--append", action="store_true",
        help="codekg: treat --input as NEW docs to append to an existing "
        "warehouse (extract+link only the batch, rebuild global stages)",
    )
    ap.add_argument(
        "--pipeline", choices=["codekg", "avaluo"], default="codekg",
        help="codekg: repos_src(repo,path,commit,lang,content); "
        "avaluo: docs(doc_id,text) reference-fidelity extraction",
    )
    ap.add_argument(
        "--min-page-chars", type=int, default=None,
        help="avaluo: wire the S1 page gate (reference uses 50)",
    )
    ap.add_argument(
        "--iceberg-catalog", default=None,
        help="route stage data through Iceberg writeTo on this catalog "
        "(catalog-present clusters only)",
    )
    ap.add_argument(
        "--stream", action="store_true",
        help="codekg: treat --input as a DIRECTORY watched by Structured "
        "Streaming (availableNow drain): each micro-batch of new parquet "
        "files lands in the warehouse via the bootstrap/append ingest "
        "path; finalize with a later plain run over the full input",
    )
    ap.add_argument(
        "--checkpoint", default=None,
        help="streaming checkpoint location (default <output>/_stream_ckpt)",
    )
    ap.add_argument(
        "--compact", default=None, metavar="STAGES",
        help="maintenance: compact the comma-separated stages (or 'all') "
        "of an existing --output warehouse into sized files and exit "
        "(verified read-equivalent; torn-compact marker on crash)",
    )
    ap.add_argument(
        "--target-file-mb", type=int, default=128,
        help="compaction target file size (MiB)",
    )
    args = ap.parse_args(argv)
    if args.input is None and not args.compact:
        ap.error("--input is required (except with --compact)")

    spark = get_spark(f"structured-data-entity-extraction-{args.pipeline}")
    t0 = time.time()
    if args.compact:
        from .materialize import StageStore

        store = StageStore(
            args.output, run_id=args.run_id, iceberg_catalog=args.iceberg_catalog
        )
        stages = (
            [
                st
                for st in ("mentions", "candidates", "edges", "nodes",
                           "triples", "records")
                if store.is_complete(st)
            ]
            if args.compact == "all"
            else args.compact.split(",")
        )
        metrics = {
            "mode": "compact",
            "stages": {
                st: store.compact(spark, st, target_file_mb=args.target_file_mb)
                for st in stages
            },
            "total_wall_s": round(time.time() - t0, 3),
        }
        print(json.dumps(metrics))
        return
    if args.stream:
        from .materialize import StageStore
        from .streaming import stream_repos_src

        ckpt = args.checkpoint or os.path.join(args.output, "_stream_ckpt")
        q = stream_repos_src(
            spark, args.input, args.output, ckpt,
            use_lsh=not args.no_lsh,
            run_id_prefix=args.run_id,
            iceberg_catalog=args.iceberg_catalog,
        )
        q.awaitTermination()
        store = StageStore(args.output)
        metrics = {
            "mode": "stream",
            "checkpoint": ckpt,
            "stages": {
                st: {"rows": store.manifest(st)["rows"]}
                for st in ("mentions", "candidates")
                if store.is_complete(st)
            },
        }
        metrics["total_wall_s"] = round(time.time() - t0, 3)
        print(json.dumps(metrics))
        return
    if args.pipeline == "avaluo":
        docs = spark.read.parquet(args.input)
        metrics = run_avaluo_pipeline(
            spark, docs, args.output, run_id=args.run_id,
            min_page_chars=args.min_page_chars,
            iceberg_catalog=args.iceberg_catalog,
        )
    else:
        repos_src = spark.read.parquet(args.input)
        runner = run_codekg_pipeline_incremental if args.append else run_codekg_pipeline
        metrics = runner(
            spark,
            repos_src,
            args.output,
            run_id=args.run_id,
            use_lsh=not args.no_lsh,
            iceberg_catalog=args.iceberg_catalog,
        )
    metrics["total_wall_s"] = round(time.time() - t0, 3)
    metrics["triples_per_sec"] = (
        round(metrics["triples"] / metrics["total_wall_s"], 1)
        if metrics["total_wall_s"]
        else None
    )
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
