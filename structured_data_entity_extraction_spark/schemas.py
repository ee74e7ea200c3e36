"""Explicit StructTypes for every table in the engine (FIXTURES.md §4;
no ``inferSchema`` anywhere -- SURVEY.md §1.3)."""

from __future__ import annotations

from pyspark.sql import types as T

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

# mention window emitted by the extraction pUDF (M3-M8 skeleton)
MENTION = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("anchor_rank", T.IntegerType(), False),
        T.StructField("span_start", T.IntegerType(), False),
        T.StructField("window", T.StringType(), True),
    ]
)
MENTIONS_ARRAY = T.ArrayType(MENTION)

# municipality-vote count rows emitted by the muni pUDF (L3/L4)
MUNI_COUNT = T.StructType(
    [
        T.StructField("branch_id", T.IntegerType(), False),
        T.StructField("alias_rank", T.IntegerType(), False),
        T.StructField("cnt", T.IntegerType(), False),
    ]
)
MUNI_COUNTS_ARRAY = T.ArrayType(MUNI_COUNT)

# code-corpus mention emitted by the code extraction pUDF
CODE_MENTION = T.StructType(
    [
        T.StructField("field", T.StringType(), False),  # import|def|class|config|ident
        T.StructField("value", T.StringType(), False),
        T.StructField("span_start", T.IntegerType(), False),
    ]
)
CODE_MENTIONS_ARRAY = T.ArrayType(CODE_MENTION)

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

# per-file lineage of a committed stage, as its manifest records it
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
