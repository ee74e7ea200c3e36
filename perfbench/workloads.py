"""Workloads of the KG-factory benchmark.

Each workload makes its inputs from the seed (pure Python and pyarrow,
no Spark), runs one timed operation through the program's public entry
points, and checks the output against an independent DuckDB oracle
computed once per process. Inputs and warehouses live in the run's own
work directory.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import traceback

import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ checking


def _canon(v) -> str:
    """Stringify a cell the way the repo's oracle gate does: floats keep
    their repr (3.0 is not 3), NaN and NULL get fixed spellings."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    return str(v)


def frame_digest(df) -> tuple[int, int]:
    """Order-independent (row count, hash) of a pandas frame: columns in
    name order, each row hashed, the hashes summed mod 2**64."""
    df = df.reindex(sorted(df.columns), axis=1)
    total = 0
    cols = [df[c].tolist() for c in df.columns]
    for row in zip(*cols):
        key = "\x1f".join(_canon(v) for v in row).encode()
        total += int.from_bytes(hashlib.sha256(key).digest()[:8], "big")
    return len(df), total % (1 << 64)


class _NoTrace:
    """Stands in for ``layertrace.Tracer`` in untraced runs."""

    def span(self, name, layer):
        return contextlib.nullcontext()


NO_TRACE = _NoTrace()


# -------------------------------------------------------- codekg_build


class CodekgBuild:
    """A fresh-warehouse ``pipeline.run_codekg_pipeline`` over seeded
    ``fixtures.repos_src_rows`` (Zipf repo sizes, one mega-repo)."""

    name = "codekg_build"
    DOCS = 2000
    TRIPLE_COLS = ["subj", "pred", "obj", "doc_id", "repo", "lang", "content_sha", "conf"]

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.input_path = os.path.join(work, "input", "repos_src.parquet")
        self.warehouse = os.path.join(work, "warehouse")
        self.docs = self.DOCS
        self.operations = 1
        self.rows_out = 0
        self.errors: list[str] = []

    def prepare(self) -> None:
        from structured_data_entity_extraction_spark.fixtures import repos_src_rows

        rows = repos_src_rows(self.DOCS, seed=self.seed)
        cols = ("repo", "path", "commit", "lang", "content")
        os.makedirs(os.path.dirname(self.input_path), exist_ok=True)
        pq.write_table(pa.table({c: [r[c] for r in rows] for c in cols}), self.input_path)

    def load_oracle(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        entry._REPOS_FIXTURE = self.input_path
        con = duckdb.connect()
        try:
            expected = con.sql(entry._codekg_triples_sql()).df()
        finally:
            con.close()
        self.expected = frame_digest(expected[self.TRIPLE_COLS])

    def reset(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)

    def execute(self, spark, tracer) -> None:
        from structured_data_entity_extraction_spark import pipeline

        self.errors = []
        try:
            self.rows_out = pipeline.run_codekg_pipeline(
                spark, spark.read.parquet(self.input_path), self.warehouse
            )["triples"]
        except Exception:
            self.errors.append(traceback.format_exc())

    def _stage_sql(self, stage: str) -> str:
        return (
            f"read_parquet('{self.warehouse}/{stage}/data/**/*.parquet', "
            "hive_partitioning = true)"
        )

    def check(self) -> list[str]:
        import duckdb

        if self.errors:
            return [self.name]
        con = duckdb.connect()
        try:
            got = con.sql(
                f"SELECT {', '.join(self.TRIPLE_COLS)} FROM {self._stage_sql('triples')}"
            ).df()
        finally:
            con.close()
        return [] if frame_digest(got) == self.expected else [self.name]

    def trace_facts(self, spark) -> dict:
        """Counts read back from the committed warehouse, plus the time of
        a re-run that resumes every stage. Untimed; no layer spans."""
        import time

        import duckdb

        from structured_data_entity_extraction_spark import pipeline
        from structured_data_entity_extraction_spark.materialize import StageStore

        store = StageStore(self.warehouse)
        rows = {st: store.manifest(st)["rows"] for st in ("mentions", "candidates", "nodes", "triples")}
        con = duckdb.connect()
        try:
            error_rows = con.sql(
                f"SELECT count(*) FROM {self._stage_sql('mentions')} WHERE field = '__error__'"
            ).fetchone()[0]
            probed, hits = con.sql(
                f"""SELECT count(DISTINCT value) FILTER (WHERE method IS DISTINCT FROM 'dict'),
                           count(DISTINCT value) FILTER (WHERE method = 'lsh')
                    FROM {self._stage_sql('candidates')}
                    WHERE field = 'import' AND length(value) >= 2"""
            ).fetchone()
        finally:
            con.close()
        t0 = time.perf_counter()
        pipeline.run_codekg_pipeline(spark, spark.read.parquet(self.input_path), self.warehouse)
        resume_s = time.perf_counter() - t0
        return {
            "extract.rows_out": rows["mentions"],
            "extract.error_rows": error_rows,
            "link.lsh_hit_ratio": hits / probed if probed else 0.0,
            "canonicalize.rows_out": rows["nodes"],
            "triples.dedup_ratio": rows["triples"] / rows["candidates"] if rows["candidates"] else 0.0,
            "materialize.resume_s": resume_s,
        }


# ------------------------------------------------------------- curate

class Curate:
    """Training-data registry operators, each reached through
    ``__spark_entry__.queries()`` inside its own ``cache_scope()``, over
    a ``documents`` table from the repo's seeded generator
    ``tools/gen_sfbig.gen_documents`` (the sf0.1 profile)."""

    name = "curate"
    QUERIES = ("ngram_jaccard_pairs",)
    DOCS = 1000

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.sf_dir = os.path.join(work, "sf")
        self.docs = self.DOCS
        self.operations = len(self.QUERIES)
        self.rows_out = 0
        self.results: dict = {}
        self.errors: list[str] = []

    def prepare(self) -> None:
        from tools.gen_sfbig import gen_documents

        os.makedirs(self.sf_dir, exist_ok=True)
        gen_documents(self.sf_dir, self.DOCS, self.seed)

    def load_oracle(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{self.sf_dir}/documents.parquet'")
            self.expected = {q: frame_digest(con.sql(sql[q]).df()) for q in self.QUERIES}
        finally:
            con.close()

    def reset(self) -> None:
        self.results = {}

    def execute(self, spark, tracer) -> None:
        import __spark_entry__ as entry

        from structured_data_entity_extraction_spark.ops.cache import cache_scope

        registry = entry.queries()
        self.rows_out = 0
        self.errors = []
        for q in self.QUERIES:
            try:
                with cache_scope():
                    with tracer.span(f"ops.{q}.plan", f"ops.{q}"):
                        df = registry[q](spark, self.sf_dir)
                    with tracer.span(f"ops.{q}.exec", f"ops.{q}"):
                        got = df.toPandas()
                self.results[q] = got
                self.rows_out += len(got)
            except Exception:
                self.errors.append(traceback.format_exc())

    def check(self) -> list[str]:
        return [
            q for q in self.QUERIES
            if q not in self.results or frame_digest(self.results[q]) != self.expected[q]
        ]

    def trace_facts(self, spark) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (CodekgBuild, Curate)}
