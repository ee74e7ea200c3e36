"""Phase-level wall profile of the two KG bench rows (bench fixture,
bench session settings). Times each driver-visible action separately so
the latency story (which action owns the wall) is measurable, not
guessed. Usage: python tools/profile_kg.py [repeats]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-scratch")
os.makedirs("/dev/shm/spark-scratch", exist_ok=True)

from structured_data_entity_extraction_spark import codekg
from structured_data_entity_extraction_spark.fixtures import avaluo_docs, repos_src_rows
from structured_data_entity_extraction_spark.link import avaluo_records
from structured_data_entity_extraction_spark.ops.cache import cache_scope, persist_tracked
from structured_data_entity_extraction_spark.schemas import AVALUO_DOCS, REPOS_SRC
from structured_data_entity_extraction_spark.session import get_spark
from structured_data_entity_extraction_spark.triples import records_to_triples

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main():
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark("profile-kg", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in avaluo_docs(2000, seed=42)], AVALUO_DOCS
    ).repartition(CPUS).cache()
    repos = spark.createDataFrame(
        [
            (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
            for r in repos_src_rows(20000, seed=42)
        ],
        REPOS_SRC,
    ).repartition(CPUS).cache()
    docs.count(), repos.count()
    # warmup (bench policy)
    records_to_triples(avaluo_records(docs.limit(50))).count()
    codekg.build_kg(repos.limit(100), use_lsh=True).count()

    def t(label, fn):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        print(f"  {label:35s} {dt:7.3f}s")
        return out, dt

    for rnd in range(repeats):
        print(f"== codekg round {rnd}")
        with cache_scope():
            total0 = time.time()
            alias_dim = codekg.code_alias_dim(spark)
            mentions = persist_tracked(codekg.extract_code_mentions(repos, 64))
            _, d1 = t("mentions.count (extract)", mentions.count)
            candidates = persist_tracked(
                codekg.link_mentions(mentions, alias_dim, use_lsh=True)
            )
            _, d2 = t("candidates.count (link+lsh)", candidates.count)
            nodes, d3 = t("canonicalize (CC)", lambda: codekg.canonicalize(candidates, alias_dim))
            triples = codekg.build_triples(candidates, nodes)
            _, d4 = t("triples.count (dedup fold)", triples.count)
            print(f"  {'TOTAL (sum of phases)':35s} {time.time()-total0:7.3f}s")
        with cache_scope():
            _, dall = t("one-shot build_kg.count", lambda: codekg.build_kg(repos, use_lsh=True).count())
    for rnd in range(repeats):
        print(f"== avaluo round {rnd}")
        with cache_scope():
            _, _ = t("avaluo records->triples.count", lambda: records_to_triples(avaluo_records(docs)).count())
    spark.stop()


if __name__ == "__main__":
    main()
