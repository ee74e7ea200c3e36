"""Drive the CHECKPOINTED pipeline (StageStore manifests + lineage +
resume -- the north rule's actual deployment shape) at the 10x scaled
corpus the scaling harness uses, and exercise resume-after-kill at that
size (VERDICT r3 #7). The in-memory `build_kg` path is what bench.py
times; this tool proves the materialized path carries the same corpus.

Protocol (one JSON line at the end):
  1. synthesize the scaled repos_src corpus -> input parquet
  2. run run_codekg_pipeline in a SUBPROCESS and SIGKILL it the moment
     the `mentions` stage manifest commits (a mid-flight crash)
  3. re-run to completion in-process with a new run_id: `mentions` must
     report resumed=true (no recompute), later stages build fresh
  4. re-run once more unchanged: every stage resumed, near-zero wall
  5. report per-stage rows/wall/resumed + the manifests' per-file
     lineage totals (files, rows, bytes)

Usage: python tools/pipeline_bench.py [--mult 4] [--content-scale 10]
       [--cores 8]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCRATCH = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-scratch")


def _mk_input(spark, path: str, n_rows: int, content_scale: int) -> int:
    from structured_data_entity_extraction_spark.fixtures import repos_src_rows
    from structured_data_entity_extraction_spark.schemas import REPOS_SRC

    rows = repos_src_rows(n_rows, seed=42, content_scale=content_scale)
    df = spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows],
        REPOS_SRC,
    ).repartition(32)
    df.write.mode("overwrite").parquet(path)
    return len(rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "4")))
    ap.add_argument("--content-scale", type=int, default=int(os.environ.get("SPARK_GRAFT_CONTENT_SCALE", "10")))
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    from structured_data_entity_extraction_spark.materialize import StageStore
    from structured_data_entity_extraction_spark.pipeline import run_codekg_pipeline
    from structured_data_entity_extraction_spark.session import get_spark

    os.makedirs(SCRATCH, exist_ok=True)
    base = os.path.join(SCRATCH, "pipeline-bench")
    shutil.rmtree(base, ignore_errors=True)
    in_path = os.path.join(base, "repos_src")
    wh = os.path.join(base, "warehouse")

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark(
        "pipeline-bench", master=f"local[{args.cores}]", shuffle_partitions=64
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_docs = _mk_input(spark, in_path, 20000 * args.mult, args.content_scale)

    # --- phase 2: crash a fresh run right after `mentions` commits ---
    child = subprocess.Popen(
        [
            sys.executable, "-m", "structured_data_entity_extraction_spark.pipeline",
            "--input", in_path, "--output", wh, "--run-id", "crashed",
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    mentions_manifest = os.path.join(wh, "mentions", "_MANIFEST.json")
    killed_after_s = None
    t0 = time.time()
    while child.poll() is None:
        if os.path.exists(mentions_manifest):
            time.sleep(1.0)  # let the manifest write land fully
            child.send_signal(signal.SIGKILL)
            killed_after_s = round(time.time() - t0, 1)
            break
        if time.time() - t0 > 1800:
            child.send_signal(signal.SIGKILL)
            raise RuntimeError("mentions stage never committed within 30 min")
        time.sleep(0.5)
    child.wait()
    if killed_after_s is None:
        raise RuntimeError("child finished before the kill -- corpus too small")

    # --- phase 3: resume after the kill (new run_id, same warehouse) ---
    t0 = time.time()
    m_resume = run_codekg_pipeline(spark, spark.read.parquet(in_path), wh, run_id="resumed")
    resume_wall = round(time.time() - t0, 3)

    # --- phase 4: idempotent re-run, everything resumed ---
    t0 = time.time()
    m_idem = run_codekg_pipeline(spark, spark.read.parquet(in_path), wh, run_id="idem")
    idem_wall = round(time.time() - t0, 3)

    store = StageStore(wh)
    lineage = {
        st: {
            "files": len(store.manifest(st)["lineage"]),
            "rows": sum(f["rows"] for f in store.manifest(st)["lineage"]),
            "bytes": sum(f["bytes"] for f in store.manifest(st)["lineage"]),
        }
        for st in ("mentions", "candidates", "edges", "nodes", "triples")
        if store.is_complete(st)
    }
    out = {
        "metric": "checkpointed_pipeline_10x",
        "n_docs": n_docs,
        "content_scale": args.content_scale,
        "cores": args.cores,
        "killed_after_s": killed_after_s,
        "resume_run": {
            "total_wall_s": resume_wall,
            "triples": m_resume["triples"],
            "stages": {
                st: {k: v for k, v in info.items() if k in ("rows", "wall_s", "resumed")}
                for st, info in m_resume["stages"].items()
            },
        },
        "idempotent_rerun": {
            "total_wall_s": idem_wall,
            "all_resumed": all(s["resumed"] for s in m_idem["stages"].values()),
        },
        "lineage": lineage,
        "triples_per_sec_resumed_run": (
            round(m_resume["triples"] / resume_wall, 1) if resume_wall else None
        ),
    }
    assert m_resume["stages"]["mentions"]["resumed"] is True, "kill-resume failed"
    assert not m_resume["stages"]["triples"]["resumed"]
    assert out["idempotent_rerun"]["all_resumed"]
    spark.stop()
    shutil.rmtree(base, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
