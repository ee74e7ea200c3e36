"""Stage checkpoints with manifest-gated resume
(BASELINE.json:north_rule: "every stage checkpoints ... with
per-partition lineage rows so a killed job resumes at stage
granularity").

Iceberg-style layout on plain parquet (the sandbox has no catalog):

    <root>/<stage>/data/...            partitioned parquet
    <root>/<stage>/_MANIFEST.json      written LAST -> commit marker

Every commit (a full write, an append, a compaction) is ONE observed
write: a ``pyspark.sql.Observation`` sits directly above the data write,
so the write job itself yields the row count and the content_sha
sum-fold of exactly the rows it wrote. The manifest then records those
stage totals (appends add the batch's values; both are additive), the
read schema, the input identity, the partition layout of a
partitioned stage (``StageStore.layout``), and the lineage: one
entry per data file (path under ``data/``, rows and bytes from the
file's parquet footer, the run_id that wrote it), read on the driver
with no Spark job. A commit whose new files' footer rows differ from
its observed count fails before the manifest is written.

The same write checks the per-row sha256 invariant
(BASELINE.json:input_hint) against the input's (doc_id, content_sha)
pairs: a stage with a foreign pair raises before its manifest is
written, so it never commits, and a passing manifest records the verdict.

A stage directory without _MANIFEST.json is an aborted write and is
re-run; with it, the stage is skipped and its data re-read. Before any
work, ``StageStore.stamp_input`` refuses a root whose committed stages
record another input identity, none, or (partitioned) another layout.

The warehouse's input-identity sidecar (``INPUT_PAIRS``, the exact
(doc_id, content_sha) set of every ingested document) is one more such
stage: written, appended, read, compacted and resumed through the same
manifest commit and input-identity guard as the data stages.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ops.cache import persist_tracked
from .schemas import LINEAGE
from .session import local_frame

# the namespace of the stage tables on the ``iceberg_catalog`` route
ICEBERG_NAMESPACE = "structured_data_entity_extraction"
# the stage holding the warehouse's input (doc_id, content_sha) pairs
INPUT_PAIRS = "_input_pairs"
# the file size ``StageStore.compact`` rewrites a stage into (MiB)
COMPACT_TARGET_FILE_MB = 128


def _sha_fold_col():
    """64-bit numeric fold of content_sha (hex prefix -> decimal). The
    SUM of these folds is an order-independent digest that distributes
    over unions/partitions, so per-batch values add up to the table
    value. (It is a sum-fold, not an xor -- named accordingly.)"""
    return F.conv(F.substring("content_sha", 1, 16), 16, 10).cast("decimal(20,0)")


def doc_sha_identity(keyed: DataFrame) -> tuple[DataFrame, str, int, int | None]:
    """(distinct (doc_id, content_sha) pairs, digest, pair count,
    content bytes) of a keyed input. Digest and count come from ONE
    aggregate, whose scan also fills the persisted pairs. The digest is
    the sum of the pairs' 64-bit folds: order-independent and additive
    over disjoint doc sets, so an append's combined digest is old + new.
    When ``keyed`` carries each document's ``content_bytes`` (one value
    per content_sha), the same aggregate sums it; otherwise the bytes
    are None. The pairs persist through ``persist_tracked``: the
    caller's ``cache_scope`` releases them."""
    has_bytes = "content_bytes" in keyed.columns
    distinct = persist_tracked(keyed.distinct())
    aggs = [F.sum(_sha_fold_col()).alias("digest"), F.count(F.lit(1)).alias("n")]
    if has_bytes:
        aggs.append(F.sum("content_bytes").alias("bytes"))
    row = distinct.agg(*aggs).collect()[0]
    return (
        distinct.select("doc_id", "content_sha"),
        str(row["digest"] or 0),
        int(row["n"]),
        int(row["bytes"] or 0) if has_bytes else None,
    )


def sha_invariant_report(stage: str, misses: int) -> dict:
    """The sha256 invariant's verdict on one commit whose write observed
    ``misses`` rows with a (doc_id, content_sha) pair not in the input.
    A stage may DROP documents (explode on an empty mention array drops
    zero-mention docs), but a foreign pair means a corrupted sha or a
    foreign row, so any miss raises before the manifest is written."""
    if misses:
        raise RuntimeError(
            f"content sha256 invariant violated at stage {stage}: {misses} "
            "rows whose (doc_id, content_sha) pair is not in the input"
        )
    return {"sha_invariant_ok": True}


class StageStore:
    """Write-once stage checkpoints with manifest-gated resume.

    Default layout is Iceberg-style manifests over plain parquet (the
    sandbox has no catalog). On a catalog-present cluster, pass
    ``iceberg_catalog`` to route stage DATA through a real Iceberg
    ``writeTo`` (atomic snapshot commit, schema evolution, time travel)
    while the resume manifest stays on ``root`` -- the manifest then
    records the table identifier, and its lineage comes from the
    table's files metadata. north_rule: "checkpoints to Iceberg"."""

    def __init__(self, root: str, run_id: str = "run0", iceberg_catalog: str | None = None):
        self.root = root
        self.run_id = run_id
        self.iceberg_catalog = iceberg_catalog
        # input identity for resume safety (``stamp_input``): the RAW
        # input's distinct (doc_id, sha) pairs, which every content_sha
        # commit is checked against, and their digest + count, which
        # write() stamps into every manifest (see run_stage docstring)
        self.input_pairs: DataFrame | None = None
        self.input_digest: str | None = None
        self.input_docs: int | None = None
        # the input's content bytes (additive like the digest; the
        # pipeline sizes the triples write salt from it) and the
        # partition layout ({bucket_count, write_salt}) the pipeline
        # writes under, stamped into every partitioned stage's manifest
        self.input_bytes: int | None = None
        self.layout: dict | None = None
        # per-stage record of whether run_stage() read the checkpoint
        # (True) or rebuilt (False) in THIS process -- run_id equality
        # can't tell (re-running with the same --run-id is a resume too)
        self.last_resumed: dict[str, bool] = {}
        # True while THIS store instance holds the warehouse-level
        # pending-append marker (append() then skips re-marking)
        self._holding_pending = False

    def iceberg_ident(self, stage: str) -> str:
        return f"{self.iceberg_catalog}.{ICEBERG_NAMESPACE}.{stage}"

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "_MANIFEST.json")

    def is_complete(self, stage: str) -> bool:
        return os.path.exists(self.manifest_path(stage))

    def stamp_input(
        self,
        pairs: DataFrame,
        digest: str,
        docs: int,
        content_bytes: int | None,
        layout: dict | None = None,
    ) -> None:
        """Set the input identity (``doc_sha_identity``'s tuple) and the
        partition layout this run writes under, and refuse, before any
        work, a root holding a committed stage this run must not resume
        or extend (``_check_input``). This is the warehouse's one guard:
        nothing later re-checks a resumed or appended stage."""
        self.input_pairs, self.input_digest, self.input_docs = pairs, digest, docs
        self.input_bytes, self.layout = content_bytes, layout
        for stage in sorted(os.listdir(self.root)) if os.path.isdir(self.root) else ():
            if self.is_complete(stage):
                self._check_input(stage)

    def _check_input(self, stage: str) -> None:
        """Refuse a committed stage built from another input, or one
        that records no input identity; and a partitioned stage that
        records no layout, or another bucket count than this run's."""
        m = self.manifest(stage)
        recorded = (m.get("input_sha_digest"), m.get("input_docs"))
        partitioned = bool(m.get("partition_by"))
        buckets = (self.layout or {}).get("bucket_count")
        if recorded[0] is None:
            why = "records no input identity"
        elif recorded != (self.input_digest, self.input_docs):
            why = (
                f"was built from a different input (manifest digest {recorded[0]}/"
                f"{recorded[1]} docs vs current {self.input_digest}/{self.input_docs}): "
                "resuming would silently miss changed or appended documents"
            )
        elif partitioned and "layout" not in m:
            why = "records no partition layout (written before layouts were recorded)"
        elif partitioned and m["layout"]["bucket_count"] != buckets:
            why = (
                f"was written with {m['layout']['bucket_count']} repo buckets "
                f"but this run writes with {buckets}"
            )
        else:
            return
        raise RuntimeError(
            f"stage '{stage}' {why} (checkpoint at {self._dir(stage)}). Use a "
            "fresh --output warehouse, or delete the stage manifests to rebuild."
        )

    # ------------------------------------------ torn-append detection
    #
    # The plain-parquet append path is not atomic: data files land
    # before the manifest swap. A warehouse-level pending marker brackets
    # every append batch; a crash in between leaves the marker behind,
    # and every later run_stage/append REFUSES with the recovery path
    # (the stage data no longer matches its manifest identity, so the
    # only safe recovery is rebuilding the appended stages). The Iceberg
    # route commits snapshots atomically but shares the marker so one
    # batch's stages (the INPUT_PAIRS stage among them) commit together.

    def pending_path(self) -> str:
        return os.path.join(self.root, "_PENDING_APPEND.json")

    def check_no_pending(self) -> None:
        p = self.pending_path()
        if os.path.exists(p):
            with open(p, encoding="utf-8") as fh:
                meta = json.load(fh)
            raise RuntimeError(
                f"warehouse {self.root} has a TORN APPEND (marker "
                f"{p}: batch run_id={meta.get('run_id')} over stages "
                f"{meta.get('stages')} started {meta.get('started_at')} and "
                "never committed). Stage data may not match its manifest. "
                "Recovery: delete the affected stage dirs (and the marker) "
                "and re-run the full pipeline into this warehouse, or use a "
                "fresh --output."
            )

    def begin_append(self, stages: list[str]) -> None:
        self.check_no_pending()
        os.makedirs(self.root, exist_ok=True)
        with open(self.pending_path(), "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "stages": stages,
                    "run_id": self.run_id,
                    "started_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                },
                fh,
            )
        self._holding_pending = True

    def end_append(self) -> None:
        self._holding_pending = False
        if os.path.exists(self.pending_path()):
            os.remove(self.pending_path())

    def write_input_pairs(self, pairs: DataFrame) -> DataFrame:
        """Build or resume the ``INPUT_PAIRS`` stage from the input's
        (doc_id, content_sha) pairs, as one file. The append-only
        overlap guard joins new batches against this stage, not against
        the extracted mentions: a zero-mention doc (empty/comment-only
        content) has no mentions row but is still input, and
        re-appending it must be refused or the additive digest
        double-counts."""
        return self.run_stage(pairs.sparkSession, INPUT_PAIRS, lambda: pairs.coalesce(1))

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        if self.iceberg_catalog:
            return spark.read.table(self.iceberg_ident(stage))
        # the recorded schema spares the read a footer-sampling job
        schema = T.StructType.fromJson(self.manifest(stage)["schema"])
        return spark.read.schema(schema).parquet(os.path.join(self._dir(stage), "data"))

    def manifest(self, stage: str) -> dict:
        with open(self.manifest_path(stage), encoding="utf-8") as fh:
            return json.load(fh)

    def _publish(self, stage: str, manifest: dict) -> None:
        tmp = self.manifest_path(stage) + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, self.manifest_path(stage))  # atomic commit

    def _new_files(self, spark: SparkSession, stage: str, path: str, known) -> list[dict]:
        """Lineage of the stage's data files not in ``known``: parquet
        footers read on the driver, or the Iceberg table's files
        metadata."""
        if self.iceberg_catalog:
            found = [
                tuple(r)
                for r in spark.read.table(f"{self.iceberg_ident(stage)}.files")
                .select("file_path", "record_count", "file_size_in_bytes")
                .collect()
            ]
        else:
            found = []
            for root, _dirs, names in os.walk(path):
                for n in names:
                    if n.endswith(".parquet"):
                        f = os.path.join(root, n)
                        found.append(
                            (os.path.relpath(f, path), pq.read_metadata(f).num_rows, os.path.getsize(f))
                        )
        return [
            {"file": f, "rows": rows, "bytes": size, "run_id": self.run_id}
            for f, rows, size in sorted(found)
            if f not in known
        ]

    def _observed_write(
        self,
        df: DataFrame,
        stage: str,
        path: str,
        partition_by: list[str],
        append: bool = False,
        known=(),
        max_records: int | None = None,
    ) -> dict:
        """Write ``df`` with an Observation riding the write job; return
        the observed rows and content_sha sum-fold plus the lineage of
        the files the write added. Raises when the new files' footer
        rows differ from the observed count, or when a content_sha row's
        pair is not in the store's ``input_pairs`` (the ``INPUT_PAIRS``
        stage is that set itself): the rows are left-joined to the pairs
        by broadcast, a narrow join that keeps ``df``'s partitioning and
        files, so the pairs must fit the broadcast limit and the driver
        heap (~150 bytes per pair, 0.3 MB for 2000 docs)."""
        has_sha = "content_sha" in df.columns
        checked = has_sha and self.input_pairs is not None and stage != INPUT_PAIRS
        obs = Observation(f"commit_{stage}")
        metrics = [F.count(F.lit(1)).alias("rows")]
        if has_sha:
            metrics.append(F.sum(_sha_fold_col()).alias("sha"))
        observed = df
        if checked:
            ref = self.input_pairs.select("doc_id", "content_sha", F.lit(True).alias("_in_input"))
            observed = df.join(F.broadcast(ref), ["doc_id", "content_sha"], "left")
            metrics.append(F.count_if(F.col("_in_input").isNull()).alias("misses"))
        observed = observed.observe(obs, *metrics).select(*df.columns)
        if self.iceberg_catalog:
            w = observed.writeTo(self.iceberg_ident(stage))
            if append:
                w.append()
            else:
                w = w.using("iceberg")
                if partition_by:
                    w = w.partitionedBy(*[F.col(c) for c in partition_by])
                w.createOrReplace()  # atomic snapshot commit
        else:
            writer = observed.write.mode("append" if append else "overwrite")
            if max_records:
                writer = writer.option("maxRecordsPerFile", max_records)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
        got = obs.get
        verdict = sha_invariant_report(stage, got["misses"]) if checked else None
        lineage = self._new_files(df.sparkSession, stage, path, set(known))
        footer_rows = sum(f["rows"] for f in lineage)
        if footer_rows != got["rows"]:
            raise RuntimeError(
                f"stage '{stage}' commit: the written files' footers hold "
                f"{footer_rows} rows but the write job observed {got['rows']}"
            )
        return {
            "rows": got["rows"],
            "content_sha_sum": str(got["sha"] or 0) if has_sha else None,
            "sha_invariant": verdict,
            "lineage": lineage,
        }

    def _commit(self, df: DataFrame, stage: str, partition_by, base: dict | None) -> DataFrame:
        """The one stage commit: observed write, then the manifest
        swap. ``base`` is the committed manifest an append extends."""
        t0 = time.time()
        batch = self._observed_write(
            df,
            stage,
            os.path.join(self._dir(stage), "data"),
            partition_by or [],
            append=base is not None,
            known=[f["file"] for f in base["lineage"]] if base else (),
        )
        manifest = dict(base or {"rows": 0, "lineage": []})
        sha = batch["content_sha_sum"]
        if base and sha is not None:
            sha = str(int(base["content_sha_sum"]) + int(sha))
        lineage = manifest["lineage"] + batch["lineage"]
        manifest.update(
            {
                "stage": stage,
                "run_id": self.run_id,
                "rows": manifest["rows"] + batch["rows"],
                "content_sha_sum": sha,
                "sha_invariant": batch["sha_invariant"],
                "files": len(lineage),
                "bytes": sum(f["bytes"] for f in lineage),
                "partition_by": partition_by or [],
                "schema": df.schema.jsonValue(),
                "wall_ms": int((time.time() - t0) * 1000),
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "iceberg_table": self.iceberg_ident(stage) if self.iceberg_catalog else None,
                "input_sha_digest": self.input_digest,
                "input_docs": self.input_docs,
                "input_bytes": self.input_bytes,
                "lineage": lineage,
            }
        )
        if partition_by and self.layout:
            manifest["layout"] = self.layout
        if base:
            manifest["appended_from_rows"] = base["rows"]
        self._publish(stage, manifest)
        return self.read(df.sparkSession, stage)

    def write(
        self,
        df: DataFrame,
        stage: str,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Commit a stage from scratch (clearing an aborted earlier
        attempt). Returns the committed data re-read, so downstream
        stages consume the checkpoint, not the upstream plan."""
        d = self._dir(stage)
        if os.path.exists(d) and not self.is_complete(stage):
            shutil.rmtree(d)  # aborted previous attempt
        return self._commit(df, stage, partition_by, base=None)

    def append(
        self,
        df: DataFrame,
        stage: str,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Append a batch to a COMMITTED stage (the incremental-ingest
        path): data files and their lineage append under this run_id,
        and the manifest is atomically rewritten with the summed rows
        and sha fold and THIS store's input identity (the caller sets
        input_digest/input_docs to the COMBINED old+new input before
        calling -- the sha sum-fold is additive over disjoint doc sets,
        so combined digests are exact, not recomputed). Returns the
        re-read full stage."""
        if not self.is_complete(stage):
            raise RuntimeError(
                f"append requires a committed '{stage}' stage; run the full "
                "pipeline first"
            )
        # torn-append safety: data files land before the manifest swap,
        # so bracket the append with the warehouse pending marker (a
        # crash in between leaves the marker; every later resume/append
        # refuses with the recovery path). A caller batching several
        # stage appends holds one marker via begin_append/end_append.
        own_marker = not self._holding_pending
        if own_marker:
            self.begin_append([stage])
        persisted = self._commit(df, stage, partition_by, base=self.manifest(stage))
        if own_marker:
            self.end_append()
        return persisted

    def compact(self, spark: SparkSession, stage: str) -> dict:
        """Warehouse maintenance: rewrite a stage's accumulated
        append/micro-batch files into files of about
        ``COMPACT_TARGET_FILE_MB`` (a long-lived streamed
        corpus otherwise ends as thousands of tiny parquet files per
        stage -- VERDICT r5 'What's missing' #3). Read-equivalent by
        construction and VERIFIED before the swap: the rewrite's observed
        row count and content_sha sum-fold must equal the manifest's, or
        compact aborts with the original intact.

        Crash safety follows the torn-append pattern: the compacted
        copy is written to a sibling temp dir first (original untouched
        -- a crash there costs only scratch space), then the directory
        swap + manifest rewrite happen inside a _PENDING_APPEND marker
        window, so a kill mid-swap surfaces as a refusing torn append
        with the recovery text instead of a half-swapped stage. The
        manifest keeps the stage's input identity untouched -- resume
        keeps refusing changed/appended input after compaction exactly
        as before.

        On the Iceberg route this delegates to the catalog's own
        ``rewrite_data_files`` maintenance procedure (snapshot-atomic;
        no marker needed)."""
        if not self.is_complete(stage):
            raise RuntimeError(
                f"compact requires a committed '{stage}' stage"
            )
        self.check_no_pending()
        if self.iceberg_catalog:
            spark.sql(
                f"CALL {self.iceberg_catalog}.system.rewrite_data_files"
                f"(table => '{ICEBERG_NAMESPACE}.{stage}', "
                f"options => map('target-file-size-bytes', "
                f"'{COMPACT_TARGET_FILE_MB << 20}'))"
            )
            return {"stage": stage, "route": "iceberg_rewrite_data_files"}
        old = self.manifest(stage)
        d = self._dir(stage)
        data_path = os.path.join(d, "data")
        tmp_path = os.path.join(d, "data.compacting")
        old_dir = os.path.join(d, "data.precompact")
        for p in (tmp_path, old_dir):  # scratch from an earlier crash
            if os.path.exists(p):
                shutil.rmtree(p)
        partition_by = old["partition_by"]
        total_bytes, rows = old["bytes"], old["rows"]
        # size the rewrite from the stage's own bytes-per-row: N output
        # tasks bounded by total size, plus maxRecordsPerFile so one hot
        # (bucket, lang) value cannot become a single giant file
        target_bytes = COMPACT_TARGET_FILE_MB << 20
        n_files = max(1, -(-total_bytes // target_bytes))
        max_records = max(1, int(target_bytes / max(total_bytes / max(rows, 1), 1)))
        df = self.read(spark, stage)
        # the verification gate runs BEFORE any destructive step. The
        # lineage paths are relative to the data dir, so the temp
        # dir's lineage is valid verbatim after the rename below.
        new = self._observed_write(
            df.repartition(int(n_files), *partition_by),
            stage,
            tmp_path,
            partition_by,
            max_records=max_records,
        )
        if (new["rows"], new["content_sha_sum"]) != (rows, old["content_sha_sum"]):
            shutil.rmtree(tmp_path)
            raise RuntimeError(
                f"compact verification failed for stage '{stage}': "
                f"rows/sha {new['rows']}/{new['content_sha_sum']} vs committed "
                f"{rows}/{old['content_sha_sum']} -- original left intact"
            )

        # marker-bracketed swap: a kill anywhere in here leaves the
        # marker and every later run refuses with the recovery path
        self.begin_append([stage])
        os.rename(data_path, old_dir)
        os.rename(tmp_path, data_path)
        manifest = dict(old)
        manifest.update(
            {
                "run_id": self.run_id,
                "files": len(new["lineage"]),
                "bytes": sum(f["bytes"] for f in new["lineage"]),
                "lineage": new["lineage"],
                "compacted_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "compacted_from_files": old["files"],
            }
        )
        self._publish(stage, manifest)
        shutil.rmtree(old_dir)
        self.end_append()
        return {
            "stage": stage,
            "rows": new["rows"],
            "files_before": old["files"],
            "files_after": manifest["files"],
            "bytes": total_bytes,
        }

    def invalidate(self, stage: str) -> None:
        """Drop a stage checkpoint so the next run_stage rebuilds it
        (the incremental path invalidates every stage DOWNSTREAM of an
        append -- their manifests carry the pre-append input identity,
        which ``stamp_input`` would rightly refuse)."""
        d = self._dir(stage)
        if os.path.exists(d):
            shutil.rmtree(d)

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        build,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Resume-aware: skip + re-read if committed, else build + write.

        A resumed checkpoint was already held to this run's input
        identity (digest + doc count of the raw input's distinct
        (doc_id, content_sha) pairs) and layout by ``stamp_input``. The
        per-stage sha invariant cannot do that on its own: it is a
        subset check (stages may legitimately drop zero-mention docs),
        so re-running an old warehouse over an APPENDED input would
        resume stale stages that silently miss every new document. A
        torn append (pending marker present) refuses BOTH branches --
        the data under a marked warehouse may not match any manifest."""
        self.check_no_pending()
        if self.is_complete(stage):
            self.last_resumed[stage] = True
            return self.read(spark, stage)
        self.last_resumed[stage] = False
        return self.write(build(), stage, partition_by)

    def lineage(self, spark: SparkSession, stage: str) -> DataFrame:
        """The committed stage's per-file lineage (schemas.LINEAGE)."""
        return local_frame(
            spark,
            [
                (stage, f["file"], f["rows"], f["bytes"], f["run_id"])
                for f in self.manifest(stage)["lineage"]
            ],
            LINEAGE,
        )
