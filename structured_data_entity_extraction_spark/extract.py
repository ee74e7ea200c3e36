"""Stage A -- EXTRACT: one vectorized Python pass per corpus row.

One Arrow-batched pandas UDF computes every Python-side field the
record needs: the four window-parsed fields (colonia, calle, fecha,
valor -- each refsem's own first-non-empty scan in reference order),
the estado keyword features and the exact municipality vote counts.
Everything downstream is Spark built-ins (broadcast joins, an array
argmax). Presence-test fields (M1/M2 -- SURVEY.md §2.3) never leave
the JVM: they compile to ``regexp_replace`` + ``rlike`` inside
whole-stage codegen.

Scale notes: regexes compile once per executor (module import), batches
are Arrow-bounded (session.py caps maxRecordsPerBatch), and the UDF is
a narrow map -- the record is assembled without a shuffle.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from . import refsem
from .schemas import MUNI_COUNTS_ARRAY

# ---------------------------------------------------------------- pUDFs

_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("colonia", T.StringType()),
        T.StructField("calle", T.StringType()),
        T.StructField("fecha", T.StringType()),
        T.StructField("valor", T.StringType()),
        T.StructField("estado_rank", T.IntegerType()),
        T.StructField("estado_digit", T.StringType()),
        T.StructField("muni_counts", MUNI_COUNTS_ARRAY),
        T.StructField("error", T.StringType()),
    ]
)

_EMPTY_EXTRACT = {
    "colonia": "",
    "calle": "",
    "fecha": "",
    "valor": "",
    "estado_rank": -1,
    "estado_digit": "",
    "muni_counts": [],
    "error": None,
}


def _extract_one(texto):
    """Per-row fault isolation (SURVEY.md §2.1 S6/T3): a kernel failure
    becomes an `error` value on the row -- it never aborts the job
    (reference precedent: every field fn swallows exceptions,
    extractorAvaluos.py:109-110 etc.)."""
    try:
        rank, digit = refsem.estado_features(texto)
        return {
            "colonia": refsem.colonia(texto),
            "calle": refsem.calle(texto),
            "fecha": refsem.fecha(texto),
            "valor": refsem.valor(texto)[0],
            "estado_rank": rank,
            "estado_digit": digit,
            "muni_counts": [
                {"branch_id": b, "alias_rank": r, "cnt": c}
                for b, r, c in refsem.muni_vote_counts(texto)
            ],
            "error": None,
        }
    except Exception as e:  # noqa: BLE001 -- fault boundary by design
        return dict(_EMPTY_EXTRACT, error=f"{type(e).__name__}: {e}")


@pandas_udf(_EXTRACT_SCHEMA)
def extract_avaluo_udf(texts: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([_extract_one(t) for t in texts])


# ------------------------------------------------- JVM-side presence tests


def _presence_regex(anchors: list[str]) -> str:
    # (?iu): Java regex needs UNICODE_CASE for 'ú'~'Ú' folding (Python's
    # re.IGNORECASE folds Unicode by default)
    return "(?iu)(" + "|".join(re.escape(a) for a in anchors) + ")"


def norm_ws_col(col: Column) -> Column:
    """P2 -- whitespace collapse, JVM-side."""
    return F.regexp_replace(col, r"\s+", " ")


def validez_col(text: Column) -> Column:
    """M1 as a pure built-in presence test (extractorAvaluos.py:88-110)."""
    hit = norm_ws_col(text).rlike(_presence_regex(refsem.VALIDEZ_ANCHORS))
    return (
        F.when(text.isNull(), F.lit(""))
        .when(hit, F.lit("SI"))
        .otherwise(F.lit("NO"))
    )


def firma_col(text: Column) -> Column:
    """M2 as a pure built-in presence test (extractorAvaluos.py:112-134)."""
    hit = norm_ws_col(text).rlike(_presence_regex(refsem.FIRMA_ANCHORS))
    return (
        F.when(text.isNull(), F.lit("NINGUNA"))
        .when(hit, F.lit("ELECTRÓNICA"))
        .otherwise(F.lit("FÍSICA"))
    )


# ------------------------------------------------------------ stage entry


def extract_stage(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """docs(id, text, ...) -> extracted features frame.

    Output: id, content_sha (the per-row invariant, F.sha2 --
    BASELINE.json:input_hint), validez, firma, ext struct.
    """
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("content_sha"),
        validez_col(F.col(text_col)).alias("validez"),
        firma_col(F.col(text_col)).alias("firma"),
        extract_avaluo_udf(F.col(text_col)).alias("ext"),
    )
