"""Stage B -- LINK + ASSEMBLE: dictionary canonicalization as broadcast
hash joins, the municipality vote as an array argmax, the record as one
projection. The Spark re-expression of pre_estado/estados_digitos/
ciudades_regex/pre_municipio (SURVEY.md §2.5 L1-L4) and of the argmax
selection semantics (§2.6 A1/A2).

Everything here is JVM-side and narrow: the one Python crossing is the
extract pass (extract.py), which already emits the window-parsed
fields; the dims are broadcast, so the record needs no shuffle and no
re-join on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import refsem
from .extract import extract_stage
from .session import local_frame


# ---------------------------------------------------------------- dims


def dim_frames(spark: SparkSession) -> dict[str, DataFrame]:
    """Small dimension tables (≤2.5k rows) from the extracted reference
    dictionaries -- always broadcast (SURVEY.md §4), as local relations
    so the broadcast runs no Python."""
    estado_rank = local_frame(
        spark,
        refsem.estado_rank_dim(),
        T.StructType(
            [
                T.StructField("rank", T.IntegerType(), False),
                T.StructField("rank_canonical", T.StringType(), True),
            ]
        ),
    )
    state_code = local_frame(
        spark,
        refsem.geo_dims()["state_code_map"].items(),
        T.StructType(
            [
                T.StructField("code", T.StringType(), False),
                T.StructField("code_canonical", T.StringType(), True),
            ]
        ),
    )
    state_branch = local_frame(
        spark,
        refsem.state_branch_dim(),
        T.StructType(
            [
                T.StructField("state", T.StringType(), False),
                T.StructField("branch_id", T.IntegerType(), False),
            ]
        ),
    )
    muni_alias = local_frame(
        spark,
        refsem.muni_alias_dim(),
        T.StructType(
            [
                T.StructField("branch_id", T.IntegerType(), False),
                T.StructField("alias_rank", T.IntegerType(), False),
                T.StructField("muni_canonical", T.StringType(), True),
            ]
        ),
    )
    return {
        "estado_rank": estado_rank,
        "state_code": state_code,
        "state_branch": state_branch,
        "muni_alias": muni_alias,
    }


# ------------------------------------------------------------ estado (L1/L2)


def with_estado(extracted: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """extracted + estado. Keyword max-rank -> prefix dict; no keyword ->
    2-digit-code fallback (the reference's NameError path, :279-280)."""
    rank, code = dims["estado_rank"], dims["state_code"]
    return (
        extracted.join(F.broadcast(rank), F.col("ext.estado_rank") == rank["rank"], "left")
        .join(F.broadcast(code), F.col("ext.estado_digit") == code["code"], "left")
        .withColumn(
            "estado",
            F.when(F.col("ext.estado_rank") >= 0, F.coalesce("rank_canonical", F.lit("")))
            .otherwise(F.coalesce("code_canonical", F.lit(""))),
        )
        .drop("rank", "rank_canonical", "code", "code_canonical")
    )


# -------------------------------------------------- municipio (L3/L4/A1/A2)


def with_municipio(frame: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """frame(estado, ext.muni_counts) + municipio. The state's branch
    (broadcast) gates the doc's vote counts; the argmax with
    first-listed tiebreak is array_min over (-cnt, alias_rank) structs,
    whose order is the reference's (desc cnt, asc alias_rank) pick
    (alias_rank is unique within one branch); the winning alias maps to
    its canonical name (broadcast). No counts in the branch -> ''."""
    branch = dims["state_branch"]
    winner = F.array_min(
        F.transform(
            F.filter("ext.muni_counts", lambda c: c["branch_id"] == F.col("branch_id")),
            lambda c: F.struct((-c["cnt"]).alias("neg_cnt"), c["alias_rank"].alias("alias_rank")),
        )
    )
    return (
        frame.join(F.broadcast(branch), frame["estado"] == branch["state"], "left")
        .withColumn("alias_rank", winner["alias_rank"])
        .join(F.broadcast(dims["muni_alias"]), ["branch_id", "alias_rank"], "left")
        .withColumn("municipio", F.coalesce("muni_canonical", F.lit("")))
        .drop("state", "branch_id", "alias_rank", "muni_canonical")
    )


# ------------------------------------------------------------- assembly (T1)


def avaluo_records(
    docs: DataFrame, dims: dict[str, DataFrame] | None = None, persist: bool = True
) -> DataFrame:
    """The 13-field record, one row per doc (extractorAvaluos.py:933-956),
    over docs(doc_id, text): one narrow chain over the extracted frame
    -- its pandas UDF, the broadcast dim joins, one projection -- so
    the Python pass runs once per doc and nothing is persisted.
    estado/municipio are computed ONCE and reused for legibilidad
    (plan-level CSE of the reference's 3x recompute -- SURVEY.md §4).
    ``persist`` has no effect; it stays for callers that still pass it."""
    dims = dims or dim_frames(docs.sparkSession)
    rec = with_municipio(with_estado(extract_stage(docs), dims), dims)
    ext = lambda f: F.col(f"ext.{f}")  # noqa: E731
    return rec.select(
        "doc_id",
        "content_sha",
        F.col("validez").alias("validez_del_formato"),
        F.col("firma").alias("opcion_de_firma"),
        F.when(F.col("municipio") != "", F.lit("SI")).otherwise(F.lit("NO")).alias("legibilidad"),
        F.lit("").alias("codigo_de_barras"),
        F.lit("NO").alias("boolean_codigo_de_barras"),
        F.lit("NO").alias("CB_Nomenclatura_Completez"),
        "estado",
        "municipio",
        ext("colonia").alias("colonia"),
        ext("calle").alias("calle"),
        ext("fecha").alias("fecha"),
        ext("valor").alias("avaluo"),
        F.when(ext("valor") != "", F.lit("SI")).otherwise(F.lit("NO")).alias("boolean_avaluo"),
        ext("error").alias("error"),
    )
