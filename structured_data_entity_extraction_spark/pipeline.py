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
64), then salt (up to 8). A 2000-doc input gets (1, 1): all rows under
repo_bucket=0, one directory per lang, with as many part-files per
directory as write tasks touch it; the 320k-doc pipeline_bench corpus
(306 MB) gets (19, 1); (64, 8), the r6 layout, starts above 7 GiB
(BENCH.md "r6 fold" has the A/B behind the 16 MiB). The bucket count is
fixed when mentions is built: resume, --append, streaming batches and
the finalize run read it from the mentions manifest. The salt only
shapes the triples build, which always reads the whole corpus, so it is
re-derived from the corpus' content bytes, which the manifests add up
over appends. The layout is recorded in the three stages' manifests;
``StageStore.stamp_input`` refuses a warehouse whose partitioned stages
record none (written before layouts were recorded) or another bucket
count.
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
# sha_invariant_report stays importable here: perfbench's layer trace wraps it by name
from .materialize import INPUT_PAIRS, StageStore, doc_sha_identity, sha_invariant_report  # noqa: F401
from .ops.cache import cache_scope, persist_tracked
from .triples import records_to_triples

# content bytes per (repo_bucket, write salt) key (derive_layout): at
# the fixture corpus' ~56 triples per KB of content and its six langs,
# ~150k triples per dedup task, inside the 100-250k rows per reduce task
# that session.py sizes shuffles to
LAYOUT_TARGET_BYTES = 16 << 20
# the hive partitioning of the mentions, candidates and triples stages
PARTITION_BY = ["repo_bucket", "lang"]


def derive_layout(content_bytes: int, bucket_count: int | None = None) -> dict:
    """The partition layout for a corpus of ``content_bytes``: one
    (repo_bucket, write salt) key per LAYOUT_TARGET_BYTES, at most the
    64 x 8 of the r6 layout (dedup parallelism is buckets x langs x
    salt, BENCH.md "r6 fold"). Buckets come first, up to 64, and the
    salt makes up the rest. A warehouse passes its recorded
    ``bucket_count``; the salt then sizes the triples build to the
    whole corpus, however small the batch that fixed the buckets."""
    keys = min(max(-(-content_bytes // LAYOUT_TARGET_BYTES), 1), 64 * 8)
    if bucket_count is None:
        bucket_count = min(keys, 64)
    return {"bucket_count": bucket_count, "write_salt": -(-keys // bucket_count)}


def _layout_for(store: StageStore, content_bytes: int) -> dict:
    """The layout this run writes under: the bucket count mentions was
    written with (derived when mentions is not built, or records none,
    which ``stamp_input`` then refuses), and the salt derived for
    ``content_bytes``, the corpus the next triples build reads."""
    recorded = store.manifest("mentions").get("layout", {}) if store.is_complete("mentions") else {}
    return derive_layout(content_bytes, recorded.get("bucket_count"))


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
    (``StageStore.run_stage``) or append one stage, and record its
    manifest rows, wall time and the sha-invariant verdict of its commit
    (``StageStore._observed_write``; a resumed stage passed it under the
    same input identity and layout, which ``StageStore.stamp_input``
    held it to) in ``metrics["stages"]``."""

    def __init__(self, spark: SparkSession, store: StageStore, metrics: dict):
        self.spark, self.store, self.metrics = spark, store, metrics

    def run(self, stage: str, build, partition_by=None) -> DataFrame:
        t0 = time.time()
        df = self.store.run_stage(self.spark, stage, build, partition_by)
        m = self.store.manifest(stage)
        self.metrics["stages"][stage] = {
            "rows": m["rows"],
            "wall_s": round(time.time() - t0, 3),
            "resumed": self.store.last_resumed[stage],
            **(m.get("sha_invariant") or {}),
        }
        return df

    def append(self, stage: str, df: DataFrame, partition_by=None) -> None:
        t0 = time.time()
        self.store.append(df, stage, partition_by)
        m = self.store.manifest(stage)
        self.metrics["stages"][stage] = {
            "appended_rows": m["rows"] - m["appended_from_rows"],
            "total_rows": m["rows"],
            "wall_s": round(time.time() - t0, 3),
            **(m.get("sha_invariant") or {}),
        }


def _bootstrap(
    spark: SparkSession,
    store: StageStore,
    repos_src: DataFrame,
    alias_dim: DataFrame,
) -> tuple[StageCommits, DataFrame]:
    """Build or resume mentions, candidates and the warehouse's
    input-identity sidecar from ``repos_src``: the first half of a full
    run and the first batch of a stream. Returns the commits (holding
    the metrics) and the candidates.

    The input identity and the layout are stamped on the store first,
    refusing a warehouse with a stage built from another input or
    under another layout before any work. Each stage faces the sha
    invariant inside its own commit.

    The sidecar (the ``INPUT_PAIRS`` stage) is the exact
    (doc_id, content_sha) set the warehouse holds; the append-only
    overlap guard joins new batches against it, since a zero-mention
    doc has no mentions row but is input. It is committed last, like
    any stage: built, or resumed under the identity guard, so a sidecar
    built from another input refuses. A crash anywhere before its
    commit leaves a warehouse without a sidecar: ``append_repos_batch``
    refuses it, the stream dispatch re-enters this bootstrap, and a run
    over the same input resumes both stages and writes the sidecar."""
    pairs, digest, docs, content_bytes = input_identity(repos_src)
    store.stamp_input(pairs, digest, docs, content_bytes, _layout_for(store, content_bytes))
    metrics = {
        "run_id": store.run_id,
        "input_sha_digest": store.input_digest,
        "layout": store.layout,
        "stages": {},
    }
    commits = StageCommits(spark, store, metrics)
    mentions = commits.run(
        "mentions",
        lambda: codekg.extract_code_mentions(repos_src, store.layout["bucket_count"]),
        PARTITION_BY,
    )
    candidates = commits.run(
        "candidates",
        lambda: codekg.link_mentions(mentions, alias_dim),
        PARTITION_BY,
    )
    store.write_input_pairs(store.input_pairs)
    return commits, candidates


def _global_stages(commits: StageCommits, candidates: DataFrame, alias_dim: DataFrame) -> None:
    """Build or resume the corpus-global stages (edges, nodes, triples)
    from the whole corpus' ``candidates``; the triples face the
    invariant against the store's input pairs."""
    edges = commits.run("edges", lambda: codekg.link_edges(candidates, alias_dim))
    nodes = commits.run("nodes", lambda: codekg.canonicalize(candidates, alias_dim, edges))
    commits.run(
        "triples",
        lambda: codekg.build_triples(candidates, nodes, commits.store.layout["write_salt"]),
        PARTITION_BY,
    )
    commits.metrics["triples"] = commits.metrics["stages"]["triples"]["rows"]


@_cache_scoped
def run_codekg_pipeline(
    spark: SparkSession,
    repos_src: DataFrame,
    out_root: str,
    run_id: str = "run0",
    iceberg_catalog: str | None = None,
) -> dict:
    """repos_src -> {mentions, candidates, edges, nodes, triples}
    checkpointed under out_root (the node/edge KG tables are
    first-class stages per the north rule); returns stage row counts +
    timings. Linking is the dictionary join plus the MinHash-LSH fuzzy
    link (``codekg.link_mentions``) against the default alias dim."""
    store = StageStore(out_root, run_id=run_id, iceberg_catalog=iceberg_catalog)
    alias_dim = codekg.code_alias_dim(spark)
    commits, candidates = _bootstrap(spark, store, repos_src, alias_dim)
    _global_stages(commits, candidates, alias_dim)
    return commits.metrics


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
) -> dict:
    """Land ONE batch of documents in a warehouse -- the streaming
    foreachBatch sink. Until mentions, candidates and the
    input-identity sidecar are all committed, a batch takes the
    bootstrap (``_bootstrap``: build or resume the three stages); after
    that, the append-only path
    (``append_repos_batch``). Corpus-global stages
    (edges/nodes/triples) are NOT built per batch -- canonicalization
    is corpus-global, so a batch "finalize" ``run_codekg_pipeline``
    over the full input resumes mentions/candidates from these
    checkpoints and builds only the global stages.

    Idempotent under at-least-once delivery: a redelivered batch whose
    docs ALL already sit in the warehouse is a no-op (``replay_ok``),
    and a bootstrap that crashed before the sidecar's commit re-enters
    the bootstrap on redelivery and completes it."""
    if all(store.is_complete(st) for st in ("mentions", "candidates", INPUT_PAIRS)):
        return append_repos_batch(spark, store, repos_src_batch, replay_ok=True)
    commits, _candidates = _bootstrap(spark, store, repos_src_batch, codekg.code_alias_dim(spark))
    commits.metrics.update(mode="bootstrap", new_docs=store.input_docs)
    return commits.metrics


@_cache_scoped
def append_repos_batch(
    spark: SparkSession,
    store: StageStore,
    repos_src_new: DataFrame,
    replay_ok: bool = False,
) -> dict:
    """Append ONE batch of new documents to a committed warehouse --
    the shared core of incremental batch ingest and the streaming
    foreachBatch sink. Extracts + links ONLY the batch, appends it to
    the mentions, candidates and input-identity sidecar stages inside
    one torn-append marker window, folds the additive digest into their
    manifests, and invalidates the corpus-global stages
    (edges/nodes/triples) whose old checkpoints describe the
    pre-append corpus. Rebuilding them is the caller's choice: the
    incremental CLI rebuilds immediately; the streaming sink leaves
    them invalidated so a batch "finalize" run over the union resumes
    mentions/candidates and rebuilds only the global stages.

    Overlap guard: new doc_ids are checked against the warehouse's
    input-identity sidecar (``_bootstrap``). A warehouse without a
    committed sidecar refuses before writing anything, and so does one
    with any committed stage whose manifest records another input or
    layout than mentions': the store is stamped with mentions' recorded
    identity and layout first (``StageStore.stamp_input``). The batch is
    written with the bucket count recorded in the mentions manifest; the
    write salt is re-derived for the grown corpus (``_layout_for``)."""
    for st in ("mentions", "candidates"):
        if not store.is_complete(st):
            raise RuntimeError(
                f"incremental append requires a committed '{st}' stage; "
                "run the full pipeline first"
            )
    store.check_no_pending()
    if not store.is_complete(INPUT_PAIRS):
        raise RuntimeError(
            f"warehouse {store.root} has no input-identity sidecar "
            "(_input_pairs) to guard the append: re-run the full pipeline "
            "over its input, which resumes the committed stages and writes "
            "the sidecar, then append"
        )
    existing = store.read(spark, INPUT_PAIRS)
    m = store.manifest("mentions")
    store.stamp_input(
        existing,
        m.get("input_sha_digest"),
        m.get("input_docs"),
        m.get("input_bytes"),
        m.get("layout"),
    )

    new_pairs, new_digest, n_new, new_bytes = input_identity(repos_src_new)
    n_overlap = new_pairs.join(existing.select("doc_id"), "doc_id", "left_semi").count()
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
    store.input_pairs = new_pairs
    store.input_digest = str(int(store.input_digest) + int(new_digest))
    store.input_docs += n_new
    store.input_bytes += new_bytes
    store.layout = _layout_for(store, store.input_bytes)

    metrics: dict = {
        "run_id": store.run_id,
        "mode": "incremental",
        "new_docs": n_new,
        "input_sha_digest": store.input_digest,
        "layout": store.layout,
        "stages": {},
    }
    commits = StageCommits(spark, store, metrics)
    alias_dim = codekg.code_alias_dim(spark)
    # the mentions batch feeds both its append write and the link --
    # persist so extraction runs once per batch
    mentions_new = persist_tracked(
        codekg.extract_code_mentions(repos_src_new, store.layout["bucket_count"])
    )
    candidates_new = codekg.link_mentions(mentions_new, alias_dim)
    store.begin_append(["mentions", "candidates", INPUT_PAIRS])
    # one file per touched (repo_bucket, lang) and one sidecar file per batch
    for stage, df in (("mentions", mentions_new), ("candidates", candidates_new)):
        commits.append(stage, df.repartition(*PARTITION_BY), PARTITION_BY)
    store.append(new_pairs.coalesce(1), INPUT_PAIRS)
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
    iceberg_catalog: str | None = None,
) -> dict:
    """Append-only incremental ingest (the 10^12-file reality is an
    append-only crawl): extract + link ONLY the new documents -- the
    regex extraction is a large share of pipeline cost and is
    per-document independent, as is dictionary/LSH linking (value-level
    against the dim, no cross-document dependencies) -- append them to
    the committed mentions/candidates stages (``append_repos_batch``),
    then rebuild the global stages from the union: canonicalization is
    corpus-global by definition (a new surface can re-canonicalize old
    triples through a new alias chain), so exact semantics require the
    downstream rebuild; it is the cheap part next to re-extracting.
    The rebuilt triples face the sha invariant against the grown
    sidecar, as in a full run.

    Input-identity bookkeeping is EXACT, not recomputed: the sha
    sum-fold digest is additive over disjoint doc sets, so the
    combined identity = old manifest digest + new batch digest. A
    subsequent FULL run over old+new input therefore resumes every
    stage cleanly, and ``StageStore.stamp_input`` keeps refusing any
    other input."""
    store = StageStore(out_root, run_id=run_id, iceberg_catalog=iceberg_catalog)
    metrics = append_repos_batch(spark, store, repos_src_new)
    store.input_pairs = store.read(spark, INPUT_PAIRS)
    commits = StageCommits(spark, store, metrics)
    _global_stages(commits, store.read(spark, "candidates"), codekg.code_alias_dim(spark))
    for stage in ("edges", "nodes", "triples"):
        metrics["stages"][stage]["rebuilt"] = True
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
    content_sha = F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("content_sha")
    store.stamp_input(*doc_sha_identity(docs.select("doc_id", content_sha)))
    out: dict = {"input_sha_digest": store.input_digest, "stages": {}}
    commits = StageCommits(spark, store, out)
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
        help="maintenance: compact the comma-separated stages (or 'all': "
        "every committed stage, the _input_pairs sidecar included) of an "
        "existing --output warehouse into sized files and exit (verified "
        "read-equivalent; torn-compact marker on crash)",
    )
    args = ap.parse_args(argv)
    if args.input is None and not args.compact:
        ap.error("--input is required (except with --compact)")

    spark = get_spark(f"structured-data-entity-extraction-{args.pipeline}")
    t0 = time.time()
    if args.compact:
        store = StageStore(
            args.output, run_id=args.run_id, iceberg_catalog=args.iceberg_catalog
        )
        stages = (
            sorted(st for st in os.listdir(args.output) if store.is_complete(st))
            if args.compact == "all"
            else args.compact.split(",")
        )
        metrics = {
            "mode": "compact",
            "stages": {st: store.compact(spark, st) for st in stages},
            "total_wall_s": round(time.time() - t0, 3),
        }
        print(json.dumps(metrics))
        return
    if args.stream:
        from .streaming import stream_repos_src

        ckpt = args.checkpoint or os.path.join(args.output, "_stream_ckpt")
        q = stream_repos_src(
            spark, args.input, args.output, ckpt,
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
