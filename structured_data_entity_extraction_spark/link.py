"""Stage B -- LINK + ASSEMBLE: dictionary canonicalization as broadcast
hash joins, frequency votes as window functions, record assembly as a
pivot. The Spark re-expression of pre_estado/estados_digitos/
ciudades_regex/pre_municipio (SURVEY.md §2.5 L1-L4) and of the
first-non-empty / argmax selection semantics (§2.6 A1-A4).

Everything here is JVM-side: the only Python in the stage is the
window-parser pUDF (N1-N8) applied to exploded mention windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import refsem
from .extract import parse_window_udf
from .session import local_frame

PARSED_FIELDS = ["colonia", "calle", "fecha", "valor"]


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


def resolve_estado(extracted: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """(doc_id, estado). Keyword max-rank -> prefix dict; no keyword ->
    2-digit-code fallback (the reference's NameError path, :279-280)."""
    feats = extracted.select(
        "doc_id",
        F.col("ext.estado_rank").alias("estado_rank"),
        F.col("ext.estado_digit").alias("estado_digit"),
    )
    out = (
        feats.join(
            F.broadcast(dims["estado_rank"]),
            feats.estado_rank == dims["estado_rank"]["rank"],
            "left",
        )
        .join(
            F.broadcast(dims["state_code"]),
            feats.estado_digit == dims["state_code"]["code"],
            "left",
        )
        .select(
            "doc_id",
            F.when(
                F.col("estado_rank") >= 0, F.coalesce("rank_canonical", F.lit(""))
            )
            .otherwise(F.coalesce("code_canonical", F.lit("")))
            .alias("estado"),
        )
    )
    return out


# -------------------------------------------------- municipio (L3/L4/A1/A2)


def resolve_municipio(
    extracted: DataFrame, estado_df: DataFrame, dims: dict[str, DataFrame]
) -> DataFrame:
    """(doc_id, municipio). Explode exact vote counts, gate by the
    state's branch (broadcast join), argmax with first-listed tiebreak
    (window + row_number), map winner alias -> canonical (broadcast)."""
    counts = extracted.select(
        "doc_id", F.explode("ext.muni_counts").alias("mc")
    ).select("doc_id", "mc.branch_id", "mc.alias_rank", "mc.cnt")

    doc_branch = estado_df.join(
        F.broadcast(dims["state_branch"]), estado_df.estado == dims["state_branch"].state, "left"
    ).select("doc_id", "branch_id")

    gated = counts.join(doc_branch, ["doc_id", "branch_id"])

    # argmax as a row-group min over (-cnt, alias_rank) structs -- the
    # lexicographic struct order IS the window's (desc cnt, asc
    # alias_rank) sort, and alias_rank is unique within a doc's single
    # branch, so the winner is identical to the old row_number pick
    # while the per-doc sort disappears and the exchange carries
    # map-side-combined partial minima (the vote_top1 r7 rewrite,
    # applied to the reference vote)
    winners = (
        gated.groupBy("doc_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("alias_rank").alias("alias_rank"),
                    F.col("branch_id").alias("branch_id"),
                )
            ).alias("w")
        )
        .select("doc_id", F.col("w.branch_id").alias("branch_id"), F.col("w.alias_rank").alias("alias_rank"))
        .join(F.broadcast(dims["muni_alias"]), ["branch_id", "alias_rank"], "left")
        .select("doc_id", F.coalesce("muni_canonical", F.lit("")).alias("municipio"))
    )
    return winners


# ---------------------------------------- window-parsed fields (M5-M8, A3)


def parse_mentions(extracted: DataFrame) -> DataFrame:
    """Explode mention windows, drop 'Geo'-contaminated valor windows
    JVM-side (:918-919), parse via the N1-N8 pUDF, keep non-empty."""
    mentions = extracted.select("doc_id", F.explode("ext.mentions").alias("m")).select(
        "doc_id", "m.field", "m.anchor_rank", "m.span_start", "m.window"
    )
    mentions = mentions.filter(
        ~((F.col("field") == "valor") & F.col("window").contains("Geo"))
    )
    # guide §4.4: the trim(parsed) != '' filter references the pUDF's
    # output column, and the optimizer pushes a COPY of the filter
    # below the projection -- two ArrowEvalPython nodes, every window
    # parsed twice in Python (plan-verified before the fix). Marking
    # the (genuinely deterministic) parser non-deterministic forbids
    # the duplication; one evaluation, identical results.
    parsed = mentions.withColumn(
        "parsed",
        parse_window_udf.asNondeterministic()(F.col("field"), F.col("window")),
    )
    return parsed.filter(F.trim(F.col("parsed")) != "")


def first_parsed(parsed: DataFrame) -> DataFrame:
    """First-non-empty selection in reference iteration order (anchor
    rank, then position -- A3), pivoted to one row per doc.

    The selection is min(struct(anchor_rank, span_start, parsed))
    folded INTO the pivot aggregate: one doc_id-keyed exchange with
    map-side partial minima replaces the old (doc_id, field) window
    (exchange + per-group sort + rn=1 filter) followed by a second
    pivot exchange. (anchor_rank, span_start) pairs are unique per
    (doc, field) in reference semantics -- two mentions cannot share
    an anchor occurrence -- so the struct min picks exactly the old
    window's first row; the parsed field only pads the struct, it
    cannot decide."""
    return (
        parsed.groupBy("doc_id")
        .pivot("field", PARSED_FIELDS)
        .agg(
            F.min(
                F.struct(
                    F.col("anchor_rank").alias("r"),
                    F.col("span_start").alias("s"),
                    F.col("parsed").alias("p"),
                )
            )
        )
        .select(
            "doc_id",
            *[F.col(f"{f}.p").alias(f) for f in PARSED_FIELDS],
        )
    )


# ------------------------------------------------------------- assembly (T1)


def assemble_record(
    extracted: DataFrame,
    estado_df: DataFrame,
    muni_df: DataFrame,
    firsts_df: DataFrame,
) -> DataFrame:
    """The 13-field record, one row per doc (extractorAvaluos.py:933-956).
    estado/municipio computed ONCE and reused for legibilidad (plan-level
    CSE of the reference's 3x recompute -- SURVEY.md §4)."""
    base = extracted.select(
        "doc_id", "content_sha", "validez", "firma",
        F.col("ext.error").alias("error"),
    )
    rec = (
        base.join(estado_df, "doc_id", "left")
        .join(muni_df, "doc_id", "left")
        .join(firsts_df, "doc_id", "left")
    )
    e = lambda c: F.coalesce(F.col(c), F.lit(""))  # noqa: E731
    muni = F.coalesce(F.col("municipio"), F.lit(""))
    return rec.select(
        "doc_id",
        "content_sha",
        F.col("validez").alias("validez_del_formato"),
        F.col("firma").alias("opcion_de_firma"),
        F.when(muni != "", F.lit("SI")).otherwise(F.lit("NO")).alias("legibilidad"),
        F.lit("").alias("codigo_de_barras"),
        F.lit("NO").alias("boolean_codigo_de_barras"),
        F.lit("NO").alias("CB_Nomenclatura_Completez"),
        e("estado").alias("estado"),
        muni.alias("municipio"),
        e("colonia").alias("colonia"),
        e("calle").alias("calle"),
        e("fecha").alias("fecha"),
        e("valor").alias("avaluo"),
        F.when(F.col("valor").isNotNull(), F.lit("SI"))
        .otherwise(F.lit("NO"))
        .alias("boolean_avaluo"),
        "error",
    )


def avaluo_records(
    docs: DataFrame, dims: dict[str, DataFrame] | None = None, persist: bool = True
) -> DataFrame:
    """End-to-end extract -> link -> assemble over docs(doc_id, text).

    The extract stage feeds FOUR consumers (estado, municipio vote,
    mention parse, assembly); Catalyst does not CSE whole subplans, so
    without persist the pandas UDF would re-run once per consumer.
    In the checkpointed pipeline (pipeline.py) the stage write plays
    this role; here MEMORY_AND_DISK persistence does (spills on fat
    corpora instead of OOMing)."""
    from pyspark import StorageLevel

    from .extract import extract_stage

    spark = docs.sparkSession
    dims = dims or dim_frames(spark)
    extracted = extract_stage(docs)
    if persist:
        # EAGER materialization: the four consumer subtrees otherwise
        # race to populate the cache concurrently at high parallelism,
        # each re-running the pUDF on not-yet-cached partitions
        extracted = extracted.persist(StorageLevel.MEMORY_AND_DISK)
        extracted.count()
    estado_df = resolve_estado(extracted, dims)
    muni_df = resolve_municipio(extracted, estado_df, dims)
    firsts_df = first_parsed(parse_mentions(extracted))
    return assemble_record(extracted, estado_df, muni_df, firsts_df)
