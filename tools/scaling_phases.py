"""Phase-instrumented scaling evidence (north_rule two-cluster-size
criterion, sandbox form: same job at two parallelism levels).

The end-to-end pair on this SHARED VM carries ~2x tenant noise
(BENCH.md), so this harness times each pipeline PHASE behind an
explicit barrier (count / eager persist), interleaves repeats at the
two core counts, takes best-of per (phase, cores), and reports
per-phase scaling efficiency plus the Amdahl decomposition: the
parallel fraction's efficiency is the number the 1000-executor claim
rests on; the fixed fraction (session+plan+job-scheduling latency,
~constant seconds) vanishes at real corpus sizes.

Usage: python tools/scaling_phases.py [--n 2] [--repeats 2] [--mult 4]
Emits one JSON line; phase runner runs in a fresh subprocess per level
(no shared-JVM warmup bias).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
    os.makedirs("/dev/shm/spark-scratch", exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-scratch")

AVALUO_N = 2000
REPOS_N = 20000


def run_phases(cores: int, mult: int, content_scale: int) -> dict:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from structured_data_entity_extraction_spark import codekg
    from structured_data_entity_extraction_spark.fixtures import avaluo_docs, repos_src_rows
    from structured_data_entity_extraction_spark.link import avaluo_records, dim_frames
    from structured_data_entity_extraction_spark.session import get_spark
    from structured_data_entity_extraction_spark.triples import records_to_triples

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    # shuffle partitions sized to DATA, identical at both levels: at
    # sp=max(cores,8) the 17M-row triple agg built ~2M-entry hash maps
    # per reduce task and spilled (canon+triples was FLAT 2->8: 33 vs
    # 41 s); at 64 partitions (~260k rows/task) it scales 0.81
    spark = get_spark("scaling-phases", master=f"local[{cores}]",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    corpus = avaluo_docs(AVALUO_N * mult, seed=42, content_scale=content_scale)
    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in corpus], "doc_id string, text string"
    ).repartition(cores * 2).persist(StorageLevel.MEMORY_AND_DISK)
    rows = repos_src_rows(REPOS_N * mult, seed=42, content_scale=content_scale)
    repos = spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows],
        "repo string, path string, commit string, lang string, content string",
    ).repartition(cores * 2).persist(StorageLevel.MEMORY_AND_DISK)
    docs.count(), repos.count()

    # warmup (JIT, codegen, python worker pool) -- untimed
    records_to_triples(avaluo_records(docs.limit(100))).count()
    codekg.extract_code_mentions(repos.limit(200)).count()

    phases: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        phases[name] = round(time.time() - t0, 3)
        return out

    # A+B: avaluo extract + link + triples -- one narrow chain (the
    # extract pUDF, broadcast dim joins, one projection): no shuffle,
    # so no barrier splits it into separate phases
    rec = avaluo_records(docs, dim_frames(spark))
    n_av = timed("avaluo_records_triples", lambda: records_to_triples(rec).count())
    # C: codekg extract -- pUDF map + explode
    mentions = codekg.extract_code_mentions(repos).persist(StorageLevel.MEMORY_AND_DISK)
    timed("codekg_extract", lambda: mentions.count())
    # D: codekg link -- broadcast alias join + native MinHash-LSH fuzzy
    # link on the distinct misses (timed via its own count barrier;
    # canonicalize's eager CC actions would otherwise force this work
    # OUTSIDE any timer)
    alias = codekg.code_alias_dim(spark)
    cands = codekg.link_mentions(mentions, alias, use_lsh=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    timed("codekg_link", lambda: cands.count())

    # E: codekg canonicalize + triples -- CC (driver fast path) + the
    # single narrow-key dedup shuffle
    def _canon_and_triples():
        nodes = codekg.canonicalize(cands, alias)
        return codekg.build_triples(cands, nodes).count()

    n_kg = timed("codekg_canon_triples", _canon_and_triples)

    total = round(sum(phases.values()), 3)
    spark.stop()
    return {
        "cores": cores, "phases": phases, "total": total,
        "triples": n_av + n_kg,
        "triples_per_sec": round((n_av + n_kg) / total, 1),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=int(os.environ.get("SPARK_GRAFT_SCALE_N", "2")))
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--mult", type=int, default=4)
    ap.add_argument("--content-scale", type=int, default=10)
    ap.add_argument("--one", type=int, default=0, help="(internal) run one level")
    args = ap.parse_args()
    if args.one:
        print(json.dumps(run_phases(args.one, args.mult, args.content_scale)))
        return
    levels = (args.n, 4 * args.n)
    runs: dict[int, list] = {c: [] for c in levels}
    for _ in range(args.repeats):
        for c in levels:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one", str(c),
                 "--mult", str(args.mult), "--content-scale", str(args.content_scale)],
                capture_output=True, text=True, check=True,
            )
            runs[c].append(json.loads(out.stdout.strip().splitlines()[-1]))
    phase_names = list(runs[levels[0]][0]["phases"])
    best = {
        c: {p: min(r["phases"][p] for r in rs) for p in phase_names}
        for c, rs in runs.items()
    }
    n, n4 = levels
    eff = {
        p: round(best[n][p] / best[n4][p] / 4.0, 3) if best[n4][p] else None
        for p in phase_names
    }
    # Amdahl: parallel fraction = phases that shrink; anything that
    # doesn't shrink at 4x cores is the fixed/serial component
    t_n = sum(best[n].values())
    t_n4 = sum(best[n4].values())
    print(json.dumps({
        "metric": "kg_scaling_phases",
        "levels": levels,
        "best_phase_secs": best,
        "phase_efficiency_nto4n": eff,
        "end_to_end_best": {
            "secs": {str(n): round(t_n, 3), str(n4): round(t_n4, 3)},
            "efficiency": round(t_n / t_n4 / 4.0, 3) if t_n4 else None,
        },
        "all_runs": {
            str(c): [r["phases"] for r in rs] for c, rs in runs.items()
        },
        "triples": runs[levels[0]][0]["triples"],
    }))


if __name__ == "__main__":
    main()
