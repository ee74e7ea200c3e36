"""Explicit StructTypes for every table in the engine (FIXTURES.md §4;
no ``inferSchema`` anywhere -- SURVEY.md §1.3), and the document keys
the tables carry."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


# the document keys of BASELINE.json:input_hint, each defined once: the
# stages carry them and the input identity their commits are checked
# against counts them, so the two must never drift apart
def doc_id_col() -> Column:
    """A repos_src document's id: sha256(repo \\0 path \\0 commit)."""
    key = F.concat_ws("\x00", F.col("repo"), F.col("path"), F.col("commit"))
    return F.sha2(key, 256).alias("doc_id")


def content_sha_col(text_col: str) -> Column:
    """A document's content_sha: sha256 of its text, null read as empty."""
    return F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("content_sha")


# north-rule input (BASELINE.json:input_hint)
REPOS_SRC = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)

# avaluo fidelity corpus
AVALUO_DOCS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)

# municipality-vote count rows emitted by the extract pUDF (L3/L4)
MUNI_COUNT = T.StructType(
    [
        T.StructField("branch_id", T.IntegerType(), False),
        T.StructField("alias_rank", T.IntegerType(), False),
        T.StructField("cnt", T.IntegerType(), False),
    ]
)
MUNI_COUNTS_ARRAY = T.ArrayType(MUNI_COUNT)

# the 13-field fidelity record (all strings -- SURVEY.md §1.2)
RECORD_FIELDS = [
    "validez_del_formato",
    "opcion_de_firma",
    "legibilidad",
    "codigo_de_barras",
    "boolean_codigo_de_barras",
    "CB_Nomenclatura_Completez",
    "estado",
    "municipio",
    "colonia",
    "calle",
    "fecha",
    "avaluo",
    "boolean_avaluo",
]
RECORD = T.StructType([T.StructField(f, T.StringType(), True) for f in RECORD_FIELDS])

TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), True),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("repo", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("conf", T.DoubleType(), True),
    ]
)

# per-file lineage of a committed stage, as the warehouse manifest records it
# (StageStore.lineage): file is the path under <stage>/data, rows and
# bytes come from the file's parquet footer and size, run_id is the
# run whose commit wrote it (appends add files under their own run_id)
LINEAGE = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("file", T.StringType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)
