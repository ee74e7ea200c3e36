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


@pytest.mark.parametrize("rows_per_band", [1, 2])
def test_minhash_bands_equal_hashlib_reference(spark, rows_per_band):
    """The fused single-traversal band helper both LSH paths use equals
    an independent hashlib computation: the i-th minhash is the least
    md5(f"{i}:{g}")[:16] over the shingles, and a band's key is the raw
    md5 of its minhashes joined by '|'."""
    import hashlib

    num_hashes = 16

    def ref(grams):
        mins = [
            min(hashlib.md5(f"{i}:{g}".encode()).hexdigest()[:16] for g in grams)
            for i in range(num_hashes)
        ]
        r = rows_per_band
        return [
            (b, hashlib.md5("|".join(mins[b * r : b * r + r]).encode()).digest())
            for b in range(num_hashes // r)
        ]

    grams = shingles_col(F.col("text"))
    bands = dedup.minhash_bands(grams, num_hashes, rows_per_band)
    texts = [(i, t) for i, t in EDGE_TEXTS if t is not None]
    rows = (
        spark.createDataFrame(texts, ["doc_id", "text"])
        .select(grams.alias("grams"), bands.alias("bands"))
        .collect()
    )
    assert len(rows) == len(texts)
    for row in rows:
        got = [(e["band"], bytes(e["key"])) for e in row["bands"]]
        assert got == ref(row["grams"]), row["grams"]


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


def test_resolve_municipio_agg_equals_window_form(spark):
    """The muni argmax array_min(struct(-cnt, alias_rank)) over the
    state's branch must equal the old desc(cnt), asc(alias_rank) window
    winner (alias_rank is unique within a doc's single branch). Counts
    from a foreign branch only, and no counts at all, resolve to ''."""
    from structured_data_entity_extraction_spark import link as L

    dims = L.dim_frames(spark)
    # synthetic frame: every doc votes in the branch of its estado
    states = dims["state_branch"].collect()
    state = states[0]
    foreign = next(r for r in states if r["branch_id"] != state["branch_id"])
    bid = state["branch_id"]
    frame = spark.createDataFrame(
        [
            (1, state["state"], [(bid, 0, 2), (bid, 3, 5), (bid, 2, 5)]),
            (2, state["state"], [(foreign["branch_id"], 0, 9)]),
            (3, state["state"], []),
        ],
        "doc_id long, estado string, "
        "muni_counts array<struct<branch_id:int,alias_rank:int,cnt:int>>",
    ).select("doc_id", "estado", F.struct(F.col("muni_counts").alias("muni_counts")).alias("ext"))
    got = {r["doc_id"]: r["municipio"] for r in L.with_municipio(frame, dims).collect()}
    # desc cnt picks the cnt=5 pair; asc alias_rank breaks the tie -> rank 2
    canon = {
        r["alias_rank"]: r["muni_canonical"]
        for r in dims["muni_alias"].filter(F.col("branch_id") == bid).collect()
    }
    assert canon[2] and canon[2] not in (canon[0], canon[3])
    assert got == {1: canon[2], 2: "", 3: ""}


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
