"""Training-data operator tests vs independent Python/numpy oracles
(dedup family, similarity search, text stats, multimodal plumbing)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from structured_data_entity_extraction_spark.ops import dedup, multimodal, similarity, textstats

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (3, "el perro corre por la calle y la plaza"),
    (4, "der hund und die katze das ist gut"),
    (5, "completely different words entirely unrelated tokens here"),
    (6, ""),
    (7, "tiny"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _py_shingles(text, k=3):
    toks = text.strip().lower().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def test_token_count_and_fingerprint(spark, docs_df):
    out = {
        r["doc_id"]: (r["n"], r["fp"])
        for r in docs_df.select(
            "doc_id",
            textstats.token_count_col(F.col("text")).alias("n"),
            textstats.fingerprint_col(F.col("text")).alias("fp"),
        ).collect()
    }
    for did, text in DOCS:
        want_n = len(text.split())
        want_fp = min(
            (hashlib.md5(s.encode()).hexdigest()[:16] for s in _py_shingles(text)),
            default=None,
        )
        assert out[did][0] == want_n, (did, out[did][0], want_n)
        assert out[did][1] == want_fp, (did, out[did][1], want_fp)


def test_lang_id(spark, docs_df):
    out = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(docs_df).collect()}
    assert out[0] == "en"
    assert out[3] == "es"
    assert out[4] == "de"
    assert out[5] == "und"  # no markers
    assert out[6] == "und"


def test_exact_dedup(spark, docs_df):
    groups = dedup.exact_dup_groups(docs_df).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 0
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(docs_df).collect())
    assert kept == [0, 1, 3, 4, 5, 6, 7]


def _py_jaccard(a, b):
    sa, sb = _py_shingles(a), _py_shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def test_ngram_jaccard_pairs(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    want = {}
    for i, (ida, ta) in enumerate(DOCS):
        for idb, tb in DOCS[i + 1 :]:
            j = _py_jaccard(ta, tb)
            if j >= 0.3:
                want[(ida, idb)] = round(j, 6)
    assert got == want


def test_ngram_jaccard_pairs_string_ids(spark, docs_df):
    """String doc ids (no packing, no id-range prune) give the int-id
    run's pairs and jaccards; the id range must not be compared as
    integers."""
    str_df = spark.createDataFrame([(f"d{i}", t) for i, t in DOCS], ["doc_id", "text"])
    got = {
        (int(r["id_a"][1:]), int(r["id_b"][1:])): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(str_df, threshold=0.3).collect()
    }
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    assert want and got == want


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs_df, threshold=0.5).collect()
    }
    assert (0, 2) in pairs  # exact dup must be found
    assert (0, 1) in pairs or (1, 2) in pairs  # near dup (high overlap)
    assert (0, 5) not in pairs


def test_simhash_pairs_match_bruteforce(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs_df, max_hamming=8).collect()
    }
    sims = {did: dedup._simhash_one(t.lower().split()) for did, t in DOCS}
    want = {}
    for i, (ida, _) in enumerate(DOCS):
        for idb, _ in DOCS[i + 1 :]:
            h = bin((sims[ida] ^ sims[idb]) & ((1 << 64) - 1)).count("1")
            if h <= 8:
                want[(ida, idb)] = h
    # banding guarantees recall only for pairs sharing a 16-bit band;
    # for hamming<=3 it is exact. Check exactness in that regime + subset above it.
    for k, v in want.items():
        if v <= 3:
            assert got.get(k) == v, (k, v, got.get(k))
    assert set(got) <= set(want)


def test_simhash_candidates_bounded_on_banded_skew(spark):
    """Planted skew: 50 sims share their low 16 bits (one hot 16-bit
    band) but pairwise differ in 5 of the 6 Manku blocks. The old
    4x16-bit band scheme would emit C(50,2)=1225 candidates from the
    shared band; the 3-of-6 block-permute keys require agreement on
    three WHOLE blocks, so these far-apart sims produce ZERO candidates
    -- the quadratic hazard the r4 verdict flagged. A planted
    hamming<=3 pair must still surface (pigeonhole recall is exact)."""
    n = 50
    sims = []
    for i in range(n):
        b0 = 0x5A5                  # block 0 (bits 0-10): constant
        b1 = (i % 64) << 5          # block 1 low 5 bits constant -> bits 0-15 shared
        b2, b3, b4, b5 = i + 2, i + 3, i + 4, i + 5  # pairwise distinct per block
        sims.append(b0 | b1 << 11 | b2 << 22 | b3 << 33 | b4 << 44 | b5 << 54)
    rows = [(i, s) for i, s in enumerate(sims)]
    # positive control: doc 1000 is 2 bits from doc 0
    rows.append((1000, sims[0] ^ (1 << 23) ^ (1 << 45)))
    h = spark.createDataFrame(rows, "doc_id long, sim long")
    cands = dedup.simhash_candidates(h, max_hamming=3).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in cands}
    assert (0, 1000) in pairs
    # bounded: only the true near pair, not the 1225 band-bucket pairs
    assert len(pairs) <= len(rows), pairs


def test_simhash_candidates_wide_key_fallback(spark):
    """max_hamming=0 (exact-hash dedup via 3 blocks of ~22 bits) needs
    66+ key bits -- past the packed-long width, where shiftleft would
    silently truncate. The hash-key fallback must engage and still
    find exact-duplicate sims only."""
    rows = [(1, 12345), (2, 12345), (3, 99999), (4, -(1 << 63) + 7)]
    h = spark.createDataFrame(rows, "doc_id long, sim long")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_candidates(h, max_hamming=0).collect()
    }
    assert pairs == {(1, 2)}


@pytest.fixture(scope="module")
def vecs_df(spark):
    rng = np.random.RandomState(0)
    base = rng.randn(30, 64).astype("float32")
    base[5] = base[0] + 0.01 * rng.randn(64)  # near-dup of 0
    rows = [(i, base[i].tolist()) for i in range(30)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), base


def test_brute_force_topk_vs_numpy(spark, vecs_df):
    df, base = vecs_df
    queries = df.filter(F.col("vec_id") < 3)
    got = similarity.brute_force_topk(df, queries, k=5).collect()
    norm = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(3):
        order = [
            i for i in sorted(range(30), key=lambda i: (-round(sims[q, i], 6), i)) if i != q
        ][:5]
        got_q = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == q]
        assert got_q == order, (q, got_q, order)


def test_lsh_topk_recall(spark, vecs_df):
    df, _ = vecs_df
    queries = df.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.brute_force_topk(df, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in similarity.lsh_topk(df, queries, k=3, n_planes=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    # the planted near-dup must be its query's top neighbor
    top = {
        r["query_id"]: r["vec_id"]
        for r in similarity.lsh_topk(df, queries, k=1, n_planes=4).collect()
    }
    assert top.get(0) == 5


def test_ivf_pq_topk_recall_and_degenerate_exactness(spark, vecs_df):
    """IVF-PQ (r5 verdict #3): (a) with every cell probed and an
    unbounded rerank the shortlist covers the whole corpus, so the
    output must EQUAL brute force (rank for rank); (b) the default
    config's recall@3 stays above the brute-force-bound floor; (c) the
    planted near-dup survives quantization as its query's top-1."""
    import json as _json
    import os as _os

    df, _ = vecs_df
    cb_path = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "structured_data_entity_extraction_spark",
        "data",
        "ivf_pq_codebook.json",
    )
    with open(cb_path, encoding="utf-8") as fh:
        cb = _json.load(fh)
    queries = df.filter(F.col("vec_id") < 3)
    bf = similarity.brute_force_topk(df, queries, k=3).collect()
    exact_ranked = {(r["query_id"], r["rank"]): r["vec_id"] for r in bf}
    full = similarity.ivf_pq_topk(
        df, queries, cb["coarse"], cb["pq"], k=3,
        n_probe=len(cb["coarse"]), rerank=10**6,
    ).collect()
    assert {(r["query_id"], r["rank"]): r["vec_id"] for r in full} == exact_ranked

    approx = similarity.ivf_pq_topk(df, queries, cb["coarse"], cb["pq"], k=3).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in bf}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    assert len(exact_set & approx_set) / len(exact_set) >= 0.5
    top = {r["query_id"]: r["vec_id"] for r in approx if r["rank"] == 1}
    assert top.get(0) == 5  # planted near-dup of vec 0


def test_embedding_cosine_pairs(spark, vecs_df):
    df, base = vecs_df
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(df, threshold=0.95, exact=True).collect()
    }
    assert (0, 5) in got
    blocked = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(df, threshold=0.95, exact=False).collect()
    }
    assert blocked <= got  # LSH blocking never invents pairs
    assert (0, 5) in blocked  # near-identical vectors share all sign buckets


def test_bpe_fold_equals_delimiter_replace():
    """The two BPE-application mechanisms -- the engine's left-to-right
    token fold vs the oracle's delimiter-string replace -- must agree on
    every word, under the PINNED merges and under adversarial random
    merges (incl. repeats like (a,a) where the non-overlap contract
    bites). Also: tokens reassemble the word and 1 <= count <= len."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from structured_data_entity_extraction_spark.ops.textstats import (
        bpe_tokens_word,
        load_bpe_merges,
    )

    def replace_mech(word, merges):
        s = "".join("\x01" + c + "\x02" for c in word)
        for a, b in merges:
            s = s.replace(
                "\x01" + a + "\x02" + "\x01" + b + "\x02", "\x01" + a + b + "\x02"
            )
        return s.count("\x01")

    pinned = load_bpe_merges()

    @settings(max_examples=150, deadline=None, derandomize=True)
    @given(word=st.text(alphabet="abcdefghij", min_size=1, max_size=24))
    def check_pinned(word):
        toks = bpe_tokens_word(word, pinned)
        assert "".join(toks) == word
        assert 1 <= len(toks) <= len(word)
        assert len(toks) == replace_mech(word, pinned)

    token = st.text(alphabet="ab", min_size=1, max_size=3)

    @settings(max_examples=150, deadline=None, derandomize=True)
    @given(
        word=st.text(alphabet="ab", min_size=1, max_size=16),
        merges=st.lists(st.tuples(token, token), min_size=0, max_size=8),
    )
    def check_random(word, merges):
        assert len(bpe_tokens_word(word, merges)) == replace_mech(word, merges)

    check_pinned()
    check_random()


def test_token_stats_bpe_planted(spark):
    """Engine pass over planted docs: repeated words hit the per-word
    memo, counts follow the pinned merge table exactly (the fixture's
    'the' merges to one token; an unseen word stays character-split
    except where pinned merges apply inside it)."""
    from structured_data_entity_extraction_spark.ops.textstats import (
        bpe_tokens_word,
        load_bpe_merges,
        token_stats_bpe,
    )

    merges = load_bpe_merges()
    docs = spark.createDataFrame(
        [(1, "the the the"), (2, ""), (3, None), (4, "zqx the")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_words"], r["n_tokens_bpe"]) for r in token_stats_bpe(docs).collect()}
    n_the = len(bpe_tokens_word("the", merges))
    n_zqx = len(bpe_tokens_word("zqx", merges))
    assert got[1] == (3, 3 * n_the)
    assert got[2] == (0, 0)
    assert got[3] == (0, 0)
    assert got[4] == (2, n_zqx + n_the)
    assert n_the == 1  # 'the' is in-distribution for the training corpus


def test_multimodal_features_and_frames(spark):
    assets = multimodal.synthetic_assets(spark, 12)
    feats = multimodal.extract_features(assets).collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert r["n_bytes"] > 0
        assert r["decode_error"] is None
        if r["kind"] == "image":  # REAL decode: metadata from the pixels
            assert (r["dec_width"], r["dec_height"]) == (8, 8)
        elif r["kind"] == "audio":
            assert r["dec_sample_rate"] == 16000
        elif r["kind"] == "video":  # REAL decode: metadata from the frames
            assert (r["dec_width"], r["dec_height"]) == (8, 8)
    # real frame sampling: 8 y4m frames, every 2nd -> idx 0/2/4/6 with
    # actual 8x8 luma planes
    frames = multimodal.sample_frames(assets, every_n=2).collect()
    assert frames and sorted({r["frame_idx"] for r in frames}) == [0, 2, 4, 6]
    assert all(len(r["frame_bytes"]) == 64 for r in frames)
    from structured_data_entity_extraction_spark.ops.modal_codecs import CodecError

    with pytest.raises(CodecError):
        multimodal.decode_video(b"\x00")


def test_multimodal_decode_error_is_row_data(spark):
    """A corrupt payload becomes a decode_error row, never a job abort
    (same fault contract as the text pipeline)."""
    rows = [("bad0", "image", b"not a png", None, None, None, None)]
    df = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    got = multimodal.extract_features(df).collect()
    assert len(got) == 1
    assert "CodecError" in got[0]["decode_error"]
    assert got[0]["feature"] is None


def test_png_codec_roundtrip_and_filters():
    """Pure-stdlib PNG codec: encode->decode roundtrip, plus manual
    Sub/Up/Paeth-filtered scanlines recovered to known pixels."""
    import struct
    import zlib

    from structured_data_entity_extraction_spark.ops import modal_codecs as mc

    w, h = 5, 5
    pixels = bytes((x * 40 + y * 10 + c) % 256 for y in range(h) for x in range(w) for c in range(3))
    data = mc.encode_png(w, h, pixels, channels=3)
    img = mc.decode_png(data)
    assert (img["width"], img["height"], img["channels"]) == (w, h, 3)
    assert bytes(img["pixels"]) == pixels

    # hand-filter the same raw scanlines cycling ALL FIVE filter types
    # (None/Sub/Up/Average/Paeth) so every decoder branch reconstructs
    # known pixels (ADVICE r2: Average previously untested)
    stride = w * 3
    rows = [bytearray(pixels[y * stride : (y + 1) * stride]) for y in range(h)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    filtered = bytearray()
    prev = bytearray(stride)
    for y, row in enumerate(rows):
        f = [0, 1, 2, 3, 4][y % 5]
        filtered.append(f)
        for i in range(stride):
            a = row[i - 3] if i >= 3 else 0
            c = prev[i - 3] if i >= 3 else 0
            pred = {
                0: 0, 1: a, 2: prev[i], 3: (a + prev[i]) >> 1,
                4: paeth(a, prev[i], c),
            }[f]
            filtered.append((row[i] - pred) & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + mc._png_chunk(b"IHDR", ihdr)
        + mc._png_chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + mc._png_chunk(b"IEND", b"")
    )
    assert bytes(mc.decode_png(png)["pixels"]) == pixels


def test_wav_codec_roundtrip():
    from structured_data_entity_extraction_spark.ops import modal_codecs as mc

    samples = [0, 1000, -1000, 32000, -32000, 7]
    data = mc.encode_wav(samples, sample_rate=8000)
    wav = mc.decode_wav(data)
    assert wav["sample_rate"] == 8000
    assert wav["n_frames"] == len(samples)
    import struct

    assert list(struct.unpack(f"<{len(samples)}h", wav["pcm"])) == samples
    feat = mc.audio_feature(data)
    assert len(feat) == mc.FEATURE_DIM and all(0.0 <= f <= 1.0 for f in feat)


def test_decontaminate_drops_benchmark_overlap(spark):
    """A corpus doc embedding a verbatim benchmark passage (>=13 shared
    tokens) is flagged and dropped; clean docs survive untouched."""
    from structured_data_entity_extraction_spark.ops import decontam

    passage = " ".join(f"w{i}" for i in range(20))  # 20-token eval question
    corpus = spark.createDataFrame(
        [
            (1, "prefix text " + passage + " suffix text"),  # contaminated
            (2, "a perfectly clean document " + " ".join(f"x{i}" for i in range(30))),
            (3, "short doc"),  # < 13 tokens -> whole-text shingle, no hit
        ],
        ["doc_id", "text"],
    )
    benchmark = spark.createDataFrame([(100, passage)], ["doc_id", "text"])
    rep = {
        r["doc_id"]: (r["n_hits"], r["contamination"])
        for r in decontam.contamination_report(corpus, benchmark, k=13).collect()
    }
    assert rep[1][0] == 8  # 20-token passage -> 8 shared 13-grams
    assert rep[2] == (0, 0.0) and rep[3] == (0, 0.0)
    kept = {r["doc_id"] for r in decontam.decontaminate(corpus, benchmark).collect()}
    assert kept == {2, 3}


def test_repetition_signals_planted(spark):
    """Known repetition ratios: duplicated lines and a dominant token."""
    df = spark.createDataFrame(
        [
            (1, "spam spam spam ham"),            # 4 toks, 2 distinct, top 3/4
            (2, "a\nb\na\nb"),                    # 4 lines, 2 distinct
            (3, "all tokens unique here now"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in textstats.repetition_signals(df).collect()}
    assert got[1]["dup_word_ratio"] == 0.5 and got[1]["top_word_ratio"] == 0.75
    assert got[2]["n_lines"] == 4 and got[2]["dup_line_ratio"] == 0.5
    assert got[3]["dup_word_ratio"] == 0.0 and got[3]["dup_line_ratio"] == 0.0
    assert got[3]["top_word_ratio"] == 0.2


def test_entity_cooccurrence_counts(spark):
    """Doc-level import co-occurrence edges with canonical direction and
    per-pair doc counts (repeat mentions inside one doc count once)."""
    from structured_data_entity_extraction_spark.codekg import entity_cooccurrence

    triples = spark.createDataFrame(
        [
            ("d1", "imports", "numpy"), ("d1", "imports", "pandas"),
            ("d1", "imports", "numpy"),  # dup mention, same doc
            ("d2", "imports", "numpy"), ("d2", "imports", "pandas"),
            ("d2", "imports", "react"),
            ("d3", "declares_function", "numpy"),  # wrong pred, ignored
        ],
        ["doc_id", "pred", "obj"],
    )
    got = {
        (r["src"], r["dst"]): r["n_docs"]
        for r in entity_cooccurrence(triples).collect()
    }
    assert got == {
        ("numpy", "pandas"): 2,
        ("numpy", "react"): 1,
        ("pandas", "react"): 1,
    }


def test_deterministic_sample_partition_invariant(spark):
    """The md5-threshold sample keeps the SAME rows regardless of
    partitioning (df.sample would not); stratified keeps every row of a
    1.0 stratum and none of an unlisted one."""
    from structured_data_entity_extraction_spark.ops import sampling

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    keep1 = {r["doc_id"] for r in sampling.deterministic_sample(df.repartition(7), 0.3, "doc_id").collect()}
    keep2 = {r["doc_id"] for r in sampling.deterministic_sample(df.coalesce(1), 0.3, "doc_id").collect()}
    assert keep1 == keep2 and 0.15 < len(keep1) / 300 < 0.45
    strat = {
        r["doc_id"]
        for r in sampling.stratified_sample(
            df, {"a": 1.0, "b": 0.5}, stratum_col="stratum", key_col="doc_id"
        ).collect()
    }
    assert {i for i, s in rows if s == "a"} <= strat  # 1.0 stratum: all kept
    assert not any(s == "c" for i, s in rows if i in strat)  # default 0.0: dropped
    # independent salts: overlap of two 0.3 samples well under the 0.3
    # self-overlap a shared decision would produce
    alt = {r["doc_id"] for r in sampling.deterministic_sample(df, 0.3, "doc_id", salt="x").collect()}
    assert len(keep1 & alt) < len(keep1)


def test_shuffle_shards_order_is_partition_invariant(spark):
    """r6 shuffle_shards: the (shard, sort_key) total order is a pure
    function of (key, salt) -- identical under any input partitioning;
    a different salt is an independent epoch order; cluster=True plans
    exactly one exchange (no global sort barrier)."""
    from structured_data_entity_extraction_spark.ops import sampling

    df = spark.createDataFrame([(i,) for i in range(400)], "doc_id long")

    def order(frame, salt):
        out = sampling.shuffle_shards(frame, n_shards=16, salt=salt)
        return [
            r["doc_id"]
            for r in out.orderBy("shard", "sort_key").select("doc_id").collect()
        ]

    o1 = order(df.repartition(13), "ep0")
    assert o1 == order(df.coalesce(1), "ep0")  # partitioning-invariant
    assert sorted(o1) == list(range(400))  # a permutation, nothing lost
    assert o1 != list(range(400))  # actually shuffled
    o2 = order(df, "ep1")
    assert o2 != o1  # fresh epoch order
    shards = {
        r["shard"]
        for r in sampling.shuffle_shards(df, 16).select("shard").distinct().collect()
    }
    assert shards <= set(range(16)) and len(shards) > 8
    plan = (
        sampling.shuffle_shards(df, 16, cluster=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert sum("Exchange hashpartitioning" in ln for ln in plan.splitlines()) == 1
    assert "rangepartitioning" not in plan  # no global sort barrier


def test_pii_scrub_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-1.org then 192.168.1.17 then +4917212345678 done"),
            (2, "clean text with no pii at all"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textstats.pii_scrub(df).collect()}
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (1, 1, 1)
    assert got[1]["scrubbed"] == "mail <EMAIL> then <IP> then <PHONE> done"
    assert got[2]["scrubbed"] == "clean text with no pii at all"
    assert (got[3]["n_email"], got[3]["scrubbed"]) == (0, "")


def test_dedup_near_with_zero_pairs(spark):
    """Regression (r3 review): an EMPTY pair frame must flow through
    near_dup_groups/dedup_near (CC on zero edges) without the driver
    fast path choking on schema inference."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.near_dup_groups(pairs).count() == 0
    assert dedup.dedup_near(docs, pairs).count() == docs.count()


def test_sample_frames_zero_frame_video(spark):
    """A VALID zero-frame Y4M yields zero frame rows (empty, not
    faulty); garbage still yields the frame_idx=-1 fault row."""
    from structured_data_entity_extraction_spark.ops.modal_codecs import encode_y4m

    rows = [
        ("empty", "video", encode_y4m(4, 4, []), None, None, None, 0),
        ("bad", "video", b"\x00\x01", None, None, None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    got = {r["asset_id"]: r["frame_idx"] for r in multimodal.sample_frames(df).collect()}
    assert got == {"bad": -1}


def test_approx_percentile_bounds_sf01(spark):
    """The scale-path percentile sketch honors its rank-error contract
    on the sf0.1 events table: every approx_percentile value lies
    between the exact percentiles at p -/+ 2/accuracy, per group."""
    import os

    from structured_data_entity_extraction_spark.ops import stats

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.exists(f"{sf_dir}/events.parquet"):
        pytest.skip("sf0.1 testdata not present")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = stats.percentile_contract_check(
        ev, "event_type", "value", accuracy=1000
    ).collect()
    assert rows
    for r in rows:
        d = r.asDict()
        assert all(v for c, v in d.items() if c.endswith("_ok")), d
    # the exact and approx operators agree on the group set + schema
    exact = stats.group_percentiles(ev, "event_type", "value")
    approx = stats.group_percentiles(ev, "event_type", "value", exact=False)
    assert exact.columns == approx.columns
    assert {r["event_type"] for r in exact.select("event_type").collect()} == {
        r["event_type"] for r in approx.select("event_type").collect()
    }


def test_asof_join_planted(spark):
    """Tie at equal ts takes the right row; duplicate right timestamps
    collapse deterministically (max); no prior right row -> NULL;
    foreign key -> NULL."""
    import datetime as dt

    from structured_data_entity_extraction_spark.ops import temporal

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    left = spark.createDataFrame(
        [(1, 10, base), (2, 10, base + 5 * m), (3, 10, base - 1 * m), (4, 20, base)],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, base, 100.0), (10, base + 3 * m, 200.0), (10, base + 3 * m, 150.0)],
        "user_id long, ts timestamp, value double",
    )
    got = {
        r["event_id"]: r["value_asof"]
        for r in temporal.asof_join(left, right).collect()
    }
    assert got == {1: 100.0, 2: 200.0, 3: None, 4: None}

    # a right row with NULL ts has no as-of position: dropped, and both
    # paths agree (default's nulls-first window must NOT let it seed
    # the running state while the bucketed carry ignores it)
    right_null = right.unionByName(
        spark.createDataFrame(
            [(10, None, 999.0)], "user_id long, ts timestamp, value double"
        )
    )
    for kw in ({}, {"bucket_s": 60}):
        got_n = {
            r["event_id"]: r["value_asof"]
            for r in temporal.asof_join(left, right_null, **kw).collect()
        }
        assert got_n == got, kw


def test_interval_join_planted(spark):
    """Inclusive bounds on both ends; intervals crossing the bucket
    boundary still match points in the later bucket; key isolation."""
    import datetime as dt

    from structured_data_entity_extraction_spark.ops import temporal

    def t(h, mi):
        return dt.datetime(2024, 1, 1, h, mi, 0)

    points = spark.createDataFrame(
        [
            (1, 1, t(0, 49)), (2, 1, t(0, 50)), (3, 1, t(1, 10)),
            (4, 1, t(1, 20)), (5, 1, t(1, 21)), (6, 2, t(1, 0)),
        ],
        "event_id long, user_id long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [(1, 100, t(0, 50), t(1, 20))],
        "user_id long, interval_id long, start timestamp, end timestamp",
    )
    got = {
        r["event_id"]
        for r in temporal.interval_join(points, intervals, bucket_s=3600).collect()
    }
    assert got == {2, 3, 4}  # inclusive both ends, cross-bucket, no user-2


def test_asof_join_matches_bruteforce_random(spark):
    """Seeded randomized law: asof_join == the quadratic reference
    (per-(key,ts) max collapse, then latest right <= left ts)."""
    import datetime as dt
    import random

    from structured_data_entity_extraction_spark.ops import temporal

    rng = random.Random(17)
    base = dt.datetime(2024, 1, 1)

    def ts(s):
        return base + dt.timedelta(seconds=s)

    left = [(i, rng.randrange(5), ts(rng.randrange(500))) for i in range(120)]
    right = [
        (rng.randrange(5), ts(rng.randrange(500)), round(rng.uniform(0, 100), 3))
        for _ in range(80)
    ]
    collapsed: dict = {}
    for k, t, v in right:
        collapsed[(k, t)] = max(collapsed.get((k, t), v), v)
    want = {}
    for i, k, t in left:
        cands = [(rt, v) for (rk, rt), v in collapsed.items() if rk == k and rt <= t]
        want[i] = max(cands)[1] if cands else None
    ldf = spark.createDataFrame(left, "event_id long, user_id long, ts timestamp")
    rdf = spark.createDataFrame(right, "user_id long, ts timestamp, value double")
    got = {
        r["event_id"]: r["value_asof"] for r in temporal.asof_join(ldf, rdf).collect()
    }
    assert got == want
    # the skew-resistant bucketed path obeys the identical law, with a
    # bucket small enough that carries chain across many empty buckets
    got_b = {
        r["event_id"]: r["value_asof"]
        for r in temporal.asof_join(ldf, rdf, bucket_s=64).collect()
    }
    assert got_b == want


def test_interval_join_matches_bruteforce_random(spark):
    """Seeded randomized law: bucketed interval_join == the quadratic
    range predicate, with a small bucket to force interval fanout over
    many buckets."""
    import datetime as dt
    import random

    from structured_data_entity_extraction_spark.ops import temporal

    rng = random.Random(23)
    base = dt.datetime(2024, 1, 1)

    def ts(s):
        return base + dt.timedelta(seconds=s)

    points = [(i, rng.randrange(4), ts(rng.randrange(1000))) for i in range(100)]
    intervals = []
    for j in range(40):
        s = rng.randrange(1000)
        intervals.append((rng.randrange(4), j, ts(s), ts(s + rng.randrange(0, 300))))
    want = {
        (i, j)
        for i, pk, pt in points
        for ik, j, s, e in intervals
        if pk == ik and s <= pt <= e
    }
    pdf = spark.createDataFrame(points, "event_id long, user_id long, ts timestamp")
    idf = spark.createDataFrame(
        intervals, "user_id long, interval_id long, start timestamp, end timestamp"
    )
    got = {
        (r["event_id"], r["interval_id"])
        for r in temporal.interval_join(pdf, idf, bucket_s=64).collect()
    }
    assert got == want


def test_cache_scope_releases_operator_persists(spark):
    """The dedup-family internal persists are intentionally leaked to
    LRU by default; cache_scope must release them eagerly on exit
    (multi-corpus sweep ergonomics, VERDICT r2 #10)."""
    from structured_data_entity_extraction_spark.ops.cache import cache_scope

    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    with cache_scope() as frames:
        dedup.minhash_lsh_pairs(df, threshold=0.6).collect()
        dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
        assert len(frames) >= 2 and all(f.is_cached for f in frames)
    assert all(not f.is_cached for f in frames)
    # outside any scope: persists still happen (LRU fallback), tracked nowhere
    with cache_scope() as outer:
        pass
    assert outer == []


def test_cache_scope_nested_exits_release_correct_scopes(spark):
    """ADVICE r3: nested scopes whose lists compare EQUAL (e.g. both
    empty) must still pop their own frame list -- removal by value
    popped the outer scope's list, leaking outer persists and raising
    ValueError at outer exit."""
    from structured_data_entity_extraction_spark.ops.cache import (
        cache_scope,
        persist_tracked,
    )

    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    with cache_scope() as outer:
        with cache_scope() as inner:
            pass  # inner exits while both lists are [] -- the trap
        p = persist_tracked(df.select("doc_id"))
        p.count()
        assert outer == [p] and inner == []
    assert not p.is_cached


def test_ivf_trained_codebook_beats_seeded_on_clustered(spark):
    """Offline k-means codebook (tools/train_codebook.py) must lift IVF
    recall vs the lowest-id seeded default on BLOCK-ordered clustered
    data (where the first 16 rows all come from one cluster, making the
    seeded codebook maximally unrepresentative)."""
    import numpy as np

    from tools.train_codebook import train_codebook

    rng = np.random.RandomState(0)
    centers = rng.randn(8, 64) * 5.0
    rows = [
        (i, (centers[i // 25] + rng.randn(64)).tolist())  # block-ordered clusters
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter(F.col("vec_id") < 5)
    truth = {
        (r["query_id"], r["vec_id"])
        for r in similarity.brute_force_topk(df, qs, k=10).collect()
    }

    def recall(out):
        got = {(r["query_id"], r["vec_id"]) for r in out.collect()}
        return len(got & truth) / len(truth)

    seeded = recall(similarity.ivf_topk(df, qs, k=10, n_centroids=8, n_probe=2))
    cb = train_codebook([v for _, v in rows], n_centroids=8, n_iter=10)
    trained = recall(similarity.ivf_topk(df, qs, k=10, n_probe=2, codebook=cb))
    assert trained >= seeded
    assert trained >= 0.9  # well-separated clusters: near-perfect lists
    # determinism: same input -> same codebook
    assert cb == train_codebook([v for _, v in rows], n_centroids=8, n_iter=10)


def test_y4m_codec_roundtrip_and_feature():
    from structured_data_entity_extraction_spark.ops import modal_codecs as mc

    w, h = 6, 4
    frames = [bytes((f * 30 + i) % 256 for i in range(w * h)) for f in range(5)]
    data = mc.encode_y4m(w, h, frames, fps=(30, 1))
    vid = mc.decode_y4m(data)
    assert (vid["width"], vid["height"], vid["n_frames"]) == (w, h, 5)
    assert (vid["fps_num"], vid["fps_den"]) == (30, 1)
    assert [bytes(p) for p in vid["y_planes"]] == frames
    feat = mc.video_feature(data)
    assert len(feat) == mc.FEATURE_DIM and all(0.0 <= f <= 1.0 for f in feat)
    # fault contract: garbage / truncated payloads raise CodecError
    import pytest as _pytest

    for bad in (b"", b"\x00" * 8, data[:20], data[: len(data) - 3]):
        with _pytest.raises(mc.CodecError):
            mc.decode_y4m(bad)


def test_png_decompression_bomb_rejected():
    """ADVICE r2: a crafted IDAT that inflates past the declared
    geometry must raise CodecError, bounded by the header dims -- never
    allocate the bomb."""
    import struct
    import zlib

    from structured_data_entity_extraction_spark.ops import modal_codecs as mc

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # 2x2 grey: 6 raw bytes
    bomb = zlib.compress(b"\x00" * 10_000_000, 9)  # ~10 MB of zeros, tiny payload
    png = (
        b"\x89PNG\r\n\x1a\n"
        + mc._png_chunk(b"IHDR", ihdr)
        + mc._png_chunk(b"IDAT", bomb)
        + mc._png_chunk(b"IEND", b"")
    )
    with pytest.raises(mc.CodecError, match="inflates past"):
        mc.decode_png(png)
    # malformed zlib stream -> CodecError too (not a bare zlib.error)
    png_badz = (
        b"\x89PNG\r\n\x1a\n"
        + mc._png_chunk(b"IHDR", ihdr)
        + mc._png_chunk(b"IDAT", b"\xff\xfe\xfd")
        + mc._png_chunk(b"IEND", b"")
    )
    with pytest.raises(mc.CodecError, match="bad IDAT"):
        mc.decode_png(png_badz)


def test_lang_id_tiebreak_ascending(spark):
    """Tied marker scores pick the lexicographically SMALLEST language,
    mirroring the DuckDB oracle's CASE order (ADVICE r1 medium)."""
    df = spark.createDataFrame(
        [(0, "the el"), (1, ""), (2, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(df).collect()}
    assert got[0] == "en"  # en/es tie at 1 -> 'en' (asc), not 'es'
    assert got[1] == "und"
    assert got[2] == "und"  # NULL text must not win a tie at score -5


def test_ngram_jaccard_df_cap_bounds_hot_shingle(spark):
    """A boilerplate shingle shared by m docs must NOT generate m^2
    pairs: with df_cap below m, the hot shingle is pruned from the
    inverted index (and from the sizes, consistently), so only the
    genuinely-similar planted pair survives."""
    hot = "shared boilerplate header"
    rows = [(i, f"{hot} unique{i} tail{i} token{i}") for i in range(60)]
    rows.append((100, "alpha beta gamma delta epsilon zeta"))
    rows.append((101, "alpha beta gamma delta epsilon eta"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = dedup.ngram_jaccard_pairs(df, threshold=0.3, df_cap=50).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert (100, 101) in got
    # without the cap the 60 boilerplate docs alone give C(60,2)=1770
    # candidate pairs; with it, none of them survive
    assert all(a >= 100 for a, _ in got)
    uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.01, df_cap=0)
    assert uncapped.count() > 1000  # proves the blowup the cap prevents


def test_near_dup_groups_and_dedup_near(spark, docs_df):
    """Pairs -> transitive groups -> keep-one verdict, vs a union-find
    twin over the same pairs."""
    pairs = dedup.ngram_jaccard_pairs(docs_df, threshold=0.3)
    got = {
        r["doc_id"]: r["group_id"]
        for r in dedup.near_dup_groups(pairs).collect()
    }
    ppairs = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in ppairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want
    kept = {r["doc_id"] for r in dedup.dedup_near(docs_df, pairs).collect()}
    dropped = {n for n, g in want.items() if n != g}
    assert kept == {d for d, _ in DOCS} - dropped


def test_ivf_topk_recall_and_planted(spark, vecs_df):
    """IVF coarse-quantizer ANN: decent recall vs brute force and the
    planted near-dup is its query's top hit (same contract as lsh_topk)."""
    df, _ = vecs_df
    queries = df.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.brute_force_topk(df, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in similarity.ivf_topk(df, queries, k=3, n_centroids=8, n_probe=3).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5
    top = {
        r["query_id"]: r["vec_id"]
        for r in similarity.ivf_topk(df, queries, k=1, n_centroids=8, n_probe=3).collect()
    }
    assert top.get(0) == 5  # planted near-dup of query 0


def test_minhash_pairs_subset_of_exact_with_equal_jaccard(spark, docs_df):
    """Consistency law: the LSH path reranks candidates by EXACT
    jaccard, so every found pair must appear in the exhaustive
    inverted-index result with an identical jaccard value (only recall
    may differ, never values)."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_df, threshold=0.5, df_cap=0).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs_df, threshold=0.5).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k], (k, v, exact[k])


def test_ann_queries_match_oracles_sf01(spark):
    """The four ANN registry queries equal their DuckDB oracle twins at
    sf0.01, compared as tools/check_oracles.py compares them (its
    ``normalize``)."""
    import os

    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracles import normalize
    from tools.make_goldens import SF001

    if not os.path.exists(f"{SF001}/embeddings.parquet"):
        pytest.skip("sf0.01 testdata not present")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{SF001}/embeddings.parquet'")
    qs, oracles = entry.queries(), entry.oracle_sql()
    for name in ("ann_lsh_topk", "ann_ivf_topk", "ann_ivf_codebook_topk", "ann_ivf_pq_topk"):
        got = normalize(qs[name](spark, SF001).toPandas())
        want = normalize(con.sql(oracles[name]).df())
        assert len(got) and got.equals(want), (name, got, want)


def test_driver_contract_key_parity():
    """Every queries() entry has an oracle_sql() twin and vice versa --
    the driver's correctness gate covers the full registered surface
    (no silent rows-only checks)."""
    import __spark_entry__ as entry

    q, o = set(entry.queries()), set(entry.oracle_sql())
    assert q == o, q ^ o
