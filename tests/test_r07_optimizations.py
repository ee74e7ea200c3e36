"""Focused twins for the r7 optimization rewrites: each asserts the
optimized internal equals the pre-r7 formulation bit-for-bit on
fixture + adversarial inputs (the oracle gate then covers end-to-end
equality at sf0.01/sf0.1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from structured_data_entity_extraction_spark.ops import dedup
from structured_data_entity_extraction_spark.ops.textstats import shingles_col

EDGE_TEXTS = [
    (0, ""),
    (1, " "),
    (2, "a"),
    (3, "a b"),
    (4, "a b c"),
    (5, "a b c d"),
    (6, "\ta b\nc  d "),
    (7, "x x x x x"),
    (8, None),
    (9, "a  b   c"),
    (10, " leading"),
    (11, "trailing "),
    (12, "a b c a b c a b c"),
    (13, "the quick brown fox jumps over the lazy dog"),
]


def _shingles_old(text, k=3):
    """The pre-r7 transform(sequence)/slice formulation (re-evaluates
    the split per element -- kept here only as the semantic twin)."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    n = F.size(toks)
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            )
        )
    )


@pytest.mark.parametrize("k", [2, 3, 13])
def test_shingles_zipwith_equals_old_form(spark, k):
    df = spark.createDataFrame(EDGE_TEXTS, ["doc_id", "text"])
    bad = (
        df.select(
            _shingles_old(F.col("text"), k).alias("o"),
            shingles_col(F.col("text"), k).alias("n"),
        )
        .filter(~F.col("o").eqNullSafe(F.col("n")))
        .count()
    )
    assert bad == 0


def test_fused_minhash_equals_per_hash_minhash_col(spark):
    """The fused single-traversal aggregate inside minhash_lsh_pairs
    must produce exactly the per-hash minhash_col values (same md5
    stream, sentinel strictly above every hex char)."""
    num_hashes = 16
    df = spark.createDataFrame(
        [(i, t) for i, t in EDGE_TEXTS if t is not None], ["doc_id", "text"]
    ).select("doc_id", shingles_col(F.col("text")).alias("grams"))
    fused = F.aggregate(
        F.col("grams"),
        F.array_repeat(F.lit("￿"), num_hashes),
        lambda acc, g: F.zip_with(
            acc,
            F.array(
                *[
                    F.substring(F.md5(F.concat(F.lit(f"{i}:"), g)), 1, 16)
                    for i in range(num_hashes)
                ]
            ),
            lambda a, b: F.least(a, b),
        ),
    )
    ref = F.array(*[dedup.minhash_col(F.col("grams"), i) for i in range(num_hashes)])
    bad = (
        df.select(fused.alias("f"), ref.alias("r"))
        .filter(~F.col("f").eqNullSafe(F.col("r")))
        .count()
    )
    assert bad == 0


def test_ngram_packed_and_struct_pair_paths_agree(spark):
    """ngram_jaccard_pairs packs (id_a, id_b) into one long only when
    the observed id range fits 31 bits; ids above 2^31 must take the
    struct fallback and yield the identical pair set (checked via a
    constant id shift)."""
    base = [
        (i, t * 3)
        for i, (_, t) in enumerate(EDGE_TEXTS)
        if t and len(t.split()) >= 3
    ]
    lo = spark.createDataFrame(base, ["doc_id", "text"])
    shift = 1 << 31
    hi = spark.createDataFrame([(i + shift, t) for i, t in base], ["doc_id", "text"])
    got_lo = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(lo, threshold=0.2).collect()
    )
    got_hi = sorted(
        (r["id_a"] - shift, r["id_b"] - shift, r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(hi, threshold=0.2).collect()
    )
    assert got_lo and got_lo == got_hi


def test_first_parsed_struct_min_equals_window_form(spark):
    """first_parsed's pivoted min(struct(anchor_rank, span_start,
    parsed)) must pick exactly the old window's rn=1 row. It relies on
    (anchor_rank, span_start) being unique per (doc, field), which the
    reference guarantees; the extractor's real output is checked for
    that uniqueness here, and a planted tie pins what a break would do
    (the struct min falls through to the smallest parsed string), so a
    break fails this test instead of silently changing the selection."""
    from pyspark.sql import Window

    from structured_data_entity_extraction_spark import link as L
    from structured_data_entity_extraction_spark.extract import extract_stage
    from structured_data_entity_extraction_spark.fixtures import avaluo_docs
    from structured_data_entity_extraction_spark.schemas import AVALUO_DOCS

    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in avaluo_docs(60, seed=7)], AVALUO_DOCS
    )
    real = L.parse_mentions(extract_stage(docs))
    key = ["doc_id", "field", "anchor_rank", "span_start"]
    assert real.count() > 0
    assert real.groupBy(*key).count().filter(F.col("count") > 1).count() == 0

    rows = [
        # doc 1: colonia picks rank 0 over rank 1; calle picks earlier span
        (1, "colonia", 1, 5, "late"),
        (1, "colonia", 0, 9, "win-rank"),
        (1, "calle", 2, 30, "late-span"),
        (1, "calle", 2, 10, "win-span"),
        (2, "fecha", 3, 0, "only"),
        # doc 3: no parsed fields at all never reaches first_parsed
        (3, "valor", 1, 4, "v1"),
        (3, "valor", 1, 2, "v0"),
        # doc 4: a planted (anchor_rank, span_start) tie
        (4, "fecha", 0, 7, "tie-b"),
        (4, "fecha", 0, 7, "tie-a"),
        (4, "fecha", 1, 0, "later-rank"),
    ]
    parsed = spark.createDataFrame(
        rows, ["doc_id", "field", "anchor_rank", "span_start", "parsed"]
    )
    # the window form with parsed as the explicit last sort key: on
    # tie-free data that key never decides, on the tie it matches the
    # struct min's fall-through
    w = Window.partitionBy("doc_id", "field").orderBy("anchor_rank", "span_start", "parsed")
    old = (
        parsed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .pivot("field", L.PARSED_FIELDS)
        .agg(F.first("parsed"))
    )
    new = L.first_parsed(parsed)
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))
    assert new.filter(F.col("doc_id") == 4).collect()[0]["fecha"] == "tie-a"


def test_resolve_municipio_agg_equals_window_form(spark):
    """The muni argmax min(struct(-cnt, alias_rank)) must equal the old
    desc(cnt), asc(alias_rank) window winner (alias_rank is unique
    within a doc's single branch)."""
    from structured_data_entity_extraction_spark import link as L

    dims = L.dim_frames(spark)
    # synthetic extracted frame: doc 1 votes branch via estado lookup
    state = dims["state_branch"].limit(1).collect()[0]
    ext = spark.createDataFrame(
        [
            (1, [(state["branch_id"], 0, 2), (state["branch_id"], 1, 5), (state["branch_id"], 2, 5)]),
        ],
        "doc_id long, muni_counts array<struct<branch_id:int,alias_rank:int,cnt:int>>",
    ).select("doc_id", F.struct(F.col("muni_counts").alias("muni_counts")).alias("ext"))
    estado_df = spark.createDataFrame([(1, state["state"])], ["doc_id", "estado"])
    got = L.resolve_municipio(ext, estado_df, dims).collect()
    # desc cnt picks the cnt=5 pair; asc alias_rank breaks the tie -> rank 1
    want = (
        dims["muni_alias"]
        .filter(
            (F.col("branch_id") == state["branch_id"]) & (F.col("alias_rank") == 1)
        )
        .collect()
    )
    want_muni = want[0]["muni_canonical"] if want else ""
    assert len(got) == 1 and got[0]["municipio"] == (want_muni or "")


def test_ngram_length_prefilter_on_off_paths_agree(spark):
    """The sound length-filter pre-prune only engages when the id range
    proves `sizes` broadcastable (<= 1M wide). Spreading the same docs
    over a >1M id range turns it off; both paths must yield the
    identical pair set (the filter is a provably-redundant prune, never
    a semantic change)."""
    base = [
        (i, t * 3)
        for i, (_, t) in enumerate(EDGE_TEXTS)
        if t and len(t.split()) >= 3
    ]
    dense = spark.createDataFrame(base, ["doc_id", "text"])
    stride = 2_000_000  # range > 1M -> prefilter off, still packable
    sparse = spark.createDataFrame(
        [(i * stride, t) for i, t in base], ["doc_id", "text"]
    )
    for thr in (0.2, 0.5, 0.8):
        got_on = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.ngram_jaccard_pairs(dense, threshold=thr).collect()
        )
        got_off = sorted(
            (r["id_a"] // stride, r["id_b"] // stride, r["jaccard"])
            for r in dedup.ngram_jaccard_pairs(sparse, threshold=thr).collect()
        )
        assert got_on == got_off
        if thr == 0.2:
            assert got_on
