"""Deduplication family for training-data pipelines (exact, MinHash-LSH,
SimHash, n-gram Jaccard, embedding-cosine). Designed scale-first:

- exact dedup is a single hash aggregation (map-side partial);
- n-gram Jaccard prunes via a shingle inverted index (explode + self
  join on shingle, then pair aggregation) -- never an O(n^2) cross join;
- MinHash-LSH is a native md5 banding implementation (exact SQL twin);
- SimHash pairs compare only within 16-bit band buckets;
- embedding near-dup blocks via sign-LSH buckets, brute-force rerank
  inside buckets.

Caching policy: the multi-consumer intermediates (inverted index, gram
arrays, simhash bands) are persisted MEMORY_AND_DISK via
``cache.persist_tracked`` and intentionally NOT unpersisted when the
operator returns -- the returned DataFrames are lazy and still
reference them; Spark evicts LRU under memory pressure, so a single
sweep degrades gracefully. Long-lived sessions sweeping many corpora
wrap each sweep in ``cache.cache_scope()`` to release them eagerly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .cache import persist_tracked
from .textstats import shingles_col


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than cores. A small parquet file scans as one partition, which would
    serialize the CPU-heavy per-row stages (shingling, 16x md5); a
    real multi-file table at scale already has enough partitions and
    skips the shuffle entirely."""
    if df.isStreaming:
        # .rdd is undefined on streaming frames; micro-batch inputs get
        # their parallelism from the source anyway
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ------------------------------------------------------------- exact


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(text_sha, n_docs, keep_id) for every duplicated text. One
    groupBy -- partial aggregation kicks in map-side."""
    return (
        df.select(
            F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("text_sha"),
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("text_sha")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per distinct text."""
    w = Window.partitionBy(F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)).orderBy(
        F.col(id_col)
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ------------------------------------------------- n-gram Jaccard pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int = 1000,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with word-k-gram Jaccard >=
    threshold. Inverted-index join: explode distinct shingles, self-join
    on shingle, count common, derive |A∪B| from per-doc sizes.

    Shingles whose document frequency exceeds ``df_cap`` are dropped
    BEFORE the self-join (from sizes too, so the Jaccard is computed
    consistently over the surviving rare shingles). Without the cap one
    boilerplate shingle shared by m docs generates m^2 candidate pairs --
    the quadratic blowup that kills this join at corpus scale. The
    DuckDB oracle applies the identical cap. The threshold filter uses
    the UNROUNDED ratio (rounding happens only in the projected column)
    so boundary values agree with the oracle.

    Shingles cross the inverted-index shuffle as 8-byte md5-prefix
    keys, not full k-gram strings (the decontam pattern: ~3-10x fewer
    shuffle bytes at identical semantics; collision odds ~n^2/2^64 are
    the same that bound every MinHash band here). The oracle mirrors
    substring(md5(shingle), 1, 16).

    Shape: ONE exchange groups the exploded shingles into a sorted
    distinct doc list per shingle key (collect_set == the oracle's
    DISTINCT doc_id, hkey), the cap is a size filter on the list, and
    candidate pairs come from an in-place i<j expansion of each list --
    the r6 self-join needed two more exchanges of the inverted index
    plus a sort-merge to produce the exact same pair stream. The
    per-pair count aggregation (the true quadratic cost any
    inverted-index similarity join pays) is unchanged; a conservative
    count lower bound (ratio >= t implies n_common >= t*n_a, since the
    union is at least n_a) prunes the 100:1 non-candidate tail between
    the two size joins, so only near-qualifying pairs reach the second
    one."""
    sh = (
        _ensure_parallelism(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(shingles_col(F.col(text_col), k)).alias("_s"),
        )
        .select("doc_id", F.unhex(F.substring(F.md5("_s"), 1, 16)).alias("hkey"))
    )
    lists = sh.groupBy("hkey").agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
    if df_cap:
        lists = lists.filter(F.size("docs") <= df_cap)
    # the capped lists feed two consumers (per-doc sizes, pair stream);
    # without persistence each re-runs the scan+shingle+group subtree
    lists = persist_tracked(lists)
    # eager materialization: the two consumers are independent subtrees
    # that the scheduler submits concurrently, racing to build the same
    # cache blocks (redundant compute + block-lock waits) otherwise.
    # The same pass collects the doc-id range, deciding whether a pair
    # of ids can be packed into one long below.
    _sz = F.size("docs").cast("long")
    _stats = lists.agg(
        F.min(F.array_min("docs")).alias("lo"),
        F.max(F.array_max("docs")).alias("hi"),
        F.sum(_sz * (_sz - 1) / 2).cast("long").alias("n_pairs"),
    ).first()
    # the id range only means something for integer ids (string ids
    # have neither a packing nor a dimension-sized range)
    _int_ids = isinstance(_stats["lo"], int) and isinstance(_stats["hi"], int)
    _packable = _int_ids and _stats["lo"] >= 0 and _stats["hi"] < (1 << 31)
    sizes = (
        lists.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
    )
    # Length-filter pre-prune (sound): n_common <= min(n_a, n_b) and
    # |A∪B| >= max(n_a, n_b), so jaccard <= min/max -- a pair whose
    # sizes differ by more than a factor 1/threshold can NEVER qualify
    # and is dropped BEFORE the pair exchange and the (hash-agg-
    # dominated) count (guide §2.3: shuffle fewer bytes; measured
    # 129M -> 98M pairs at t=0.5 on the 50k-doc corpus -- candidate
    # pairs are size-biased toward long docs, so the kill rate is
    # below the ~40% an independence model predicts; at t=0.8 the
    # filter remove most of the stream). The 1e-9 slack over-admits
    # ulp-borderline pairs; the exact unrounded filter below still
    # decides every surviving pair, so the result set is bit-identical.
    # Mechanics: two broadcast-hash joins attach (n_a, n_b) to the
    # pair stream BEFORE its exchange; the codegen'd probes measured
    # cheaper than either alternative tried at the 129M-pair scale (an
    # in-expansion filter over size-carrying struct elements doubled
    # the interpreted-HOF generation cost and gave the win back; a
    # post-exchange numpy/mapInArrow count+prune kernel paid the
    # Arrow transfer of the full pair stream -- both A/B'd, see
    # OPTIMIZATION_r07.md). Guarded by the id RANGE from the eager
    # stats pass: the filter needs `sizes` on the build side of two
    # broadcast joins over the pair stream, which is only provably
    # dimension-sized when the id range is (<= 1M ids -> a few MB
    # broadcast). At corpus scale (10^9 sparse ids) the guard turns
    # the prune off and the operator behaves exactly as before; an
    # unguarded join could degrade to a sort-merge that re-shuffles
    # the pair stream by id (guide §8: the attach-back join must not
    # sneak the big shuffle back in).
    _prefilter = threshold > 0 and _int_ids and (_stats["hi"] - _stats["lo"]) <= 1_000_000
    # docs is sorted ascending, so the nested i<j expansion emits each
    # unordered pair once with id_a < id_b -- exactly the rows of the
    # old a.hkey = b.hkey AND a.doc_id < b.doc_id self-join. Lambdas
    # reference only the cached `docs` column (or bound lambda
    # variables), never a derived subtree. When both ids fit in 31 bits
    # (checked against the REAL id range above -- bijective, so
    # result-identical), the pair travels as ONE packed long: a
    # narrower exchange, and the single-long groupBy key takes the
    # codegen fast-map path instead of 2-field row hashing.
    if _packable:
        pair_items = F.flatten(
            F.transform(
                F.col("docs"),
                lambda x, i: F.transform(
                    F.slice(F.col("docs"), i + 2, F.lit(1 << 30)),
                    lambda y: F.shiftleft(x, 32).bitwiseOR(y),
                ),
            )
        )
    else:
        pair_items = F.flatten(
            F.transform(
                F.col("docs"),
                lambda x, i: F.transform(
                    F.slice(F.col("docs"), i + 2, F.lit(1 << 30)),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    # The pair stream is near-unique (measured: 127M rows -> 126.5M
    # groups at 50k docs), so a pre-shuffle partial aggregation builds
    # giant per-task hash maps for zero reduction (measured: 11.7 GB
    # spilled, 54 s GC on the map side alone). Hash-repartitioning on
    # the pair key FIRST moves the whole aggregation post-shuffle --
    # the exchange carries the same bytes (nothing was reducing), and
    # an explicit fan-out keeps each task's group map at tens of MB
    # instead of letting AQE coalesce toward 64 MB targets whose ~8M
    # groups per task spill (AQE can coalesce but never SPLIT a
    # non-join shuffle). The fan-out is derived from the EXACT pair
    # count (sum of C(df,2), free in the eager stats pass): ~1M pairs
    # (~50 MB of group map) per reduce task, floored at the cluster
    # parallelism -- scale-adaptive per guide §2, not a local constant.
    n_pair_parts = max(
        df.sparkSession.sparkContext.defaultParallelism,
        min(4096, int((_stats["n_pairs"] or 0) // 1_000_000) + 1),
    )
    exploded = lists.select(F.explode(pair_items).alias("p"))
    if _prefilter:
        if _packable:
            ida = F.shiftrightunsigned("p", 32)
            idb = F.col("p").bitwiseAND(F.lit((1 << 32) - 1))
        else:
            ida, idb = F.col("p.id_a"), F.col("p.id_b")
        sz_a = sizes.select(F.col("doc_id").alias("_pa"), F.col("n_sh").alias("_na"))
        sz_b = sizes.select(F.col("doc_id").alias("_pb"), F.col("n_sh").alias("_nb"))
        exploded = (
            exploded.join(F.broadcast(sz_a), ida == F.col("_pa"))
            .join(F.broadcast(sz_b), idb == F.col("_pb"))
            .filter(
                F.least("_na", "_nb") >= threshold * F.greatest("_na", "_nb") - 1e-9
            )
            .select("p")
        )
    if _packable:
        common = (
            exploded.repartition(n_pair_parts, "p")
            .groupBy("p")
            .agg(F.count("*").alias("n_common"))
            .select(
                F.shiftrightunsigned("p", 32).alias("id_a"),
                F.col("p").bitwiseAND(F.lit((1 << 32) - 1)).alias("id_b"),
                "n_common",
            )
        )
    else:
        common = (
            exploded.select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
            .repartition(n_pair_parts, "id_a", "id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    ratio = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        # sound pre-filter: ratio >= t  =>  n_common >= t * n_a (union
        # >= n_a). The 1e-9 slack over-admits borderline pairs rather
        # than risking a ulp-level false drop; the exact filter below
        # decides them.
        .filter(F.col("n_common") >= threshold * F.col("n_a") - 1e-9)
        .join(sb, "id_b")
        .filter(ratio >= threshold)
        .select("id_a", "id_b", F.round(ratio, 6).alias("jaccard"))
    )


# --------------------------------------------------------- MinHash-LSH


def minhash_bands(grams: F.Column, num_hashes: int, rows_per_band: int) -> F.Column:
    """MinHash-LSH band entries of a NON-EMPTY shingle array, as
    ``array<struct<band: int, key: binary>>``, for both LSH paths
    (``minhash_lsh_pairs`` and codekg's fuzzy alias link). The i-th of
    ``num_hashes`` minhashes is the least md5(f'{i}:{shingle}') 16-hex
    prefix; a band's key is unhex(md5) of its ``rows_per_band``
    minhashes joined by '|'. md5-on-utf8 is bit-identical in the JVM,
    hashlib and DuckDB, so every hash has an exact SQL twin.

    ONE traversal of the array yields all minhashes (per-hash
    transform + array_min passes cost ~num_hashes x the iteration): an
    aggregate over running minima seeded with U+FFFF, which sorts above
    every hex char -- so an empty array would give every such row the
    same keys."""
    mins = F.aggregate(
        grams,
        F.array_repeat(F.lit("\uffff"), num_hashes),
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

    def entries(m: F.Column) -> F.Column:
        return F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    # unhex: the hex md5 is bijective with its 16 raw
                    # bytes, so joining on the binary form keeps the
                    # exact candidate set at half the key bytes
                    F.unhex(
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.element_at(m, b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        )
                    ).alias("key"),
                )
                for b in range(num_hashes // rows_per_band)
            ]
        )

    # let-binding trick: transform over a 1-element array evaluates the
    # fused aggregate ONCE and hands it to the lambda as a variable --
    # referencing it directly from every band entry would re-run the
    # whole traversal per band
    return F.element_at(F.transform(F.array(mins), entries), 1)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Jaccard near-dup pairs via native MinHash-LSH banding -- pure
    DataFrame ops, no pyspark.ml (the ml pipeline carried ~13 s of
    fixed fit/transform overhead per call and an unreproducible hash).

    Shingle array -> ``num_hashes`` md5 minhashes -> bands of
    ``rows_per_band`` (``minhash_bands``) -> self-join per band
    generates candidates -> EXACT Jaccard on the shingle arrays
    (array_intersect/array_union, JVM-side) filters to >= threshold. With b=8 bands of r=2 the candidate-recall s-curve is
    1-(1-j^2)^8: j=0.5 -> 0.90, j=0.6 -> 0.97, j=0.8 -> 0.9998.
    Returned jaccard is exact (not the minhash estimate), so found
    pairs match ngram_jaccard_pairs exactly; only recall is approximate.

    Scale: the band join keys on (band, 128-bit key) -- bucket sizes
    are the number of docs agreeing on r minhashes, so hot buckets mean
    real near-dup clusters, which any LSH must pay for; AQE skew-split
    handles residual imbalance. One shuffle for the signature agg, one
    for the band join, one narrow rejoin for the gram arrays."""
    # grams feed the signature branch AND both rerank join sides.
    # Null-text rows are dropped with a plain IsNotNull BEFORE the
    # shingle projection: the old filter(size(grams) > 0) was exactly
    # equivalent (shingles_col never yields an empty array, only null
    # for null text) but, referencing the derived column, it was pushed
    # below the repartition Exchange where it re-ran the whole shingle
    # expression on the (few) scan partitions. IsNotNull reaches the
    # parquet scan as a pushed filter instead.
    sh = _ensure_parallelism(df.filter(F.col(text_col).isNotNull())).select(
        F.col(id_col).alias("doc_id"), shingles_col(F.col(text_col), k).alias("grams")
    )
    # hashed grams computed ONCE here (inside the persist) -- both
    # rerank join sides reuse them, instead of re-hashing every gram
    # per side. The element is the md5 64-bit prefix BIJECTIVELY packed
    # into a long (two 32-bit conv halves), not a binary/hex value:
    # array_intersect on long arrays takes the primitive open-hash-set
    # path, while non-primitive element types fall back to an O(n*m)
    # pairwise-equality scan (measured: ~150us vs ~5us per pair).
    # Bijective, so set sizes equal the oracle's distinct-hex counts
    # exactly. array_distinct makes size(hgrams) the oracle's
    # distinct-hashed-set count even under a 2^-64 within-doc md5
    # collision, so the rerank below can use pure count arithmetic.
    sh = sh.withColumn(
        "hgrams",
        F.array_distinct(
            F.transform(
                F.transform(F.col("grams"), lambda g: F.substring(F.md5(g), 1, 16)),
                lambda h: F.shiftleft(
                    F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), 32
                ).bitwiseOR(F.conv(F.substring(h, 9, 8), 16, 10).cast("long")),
            )
        ),
    )
    sh = persist_tracked(sh)
    # shingles_col never yields an empty array, as minhash_bands needs
    bands = minhash_bands(F.col("grams"), num_hashes, rows_per_band)
    banded = sh.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", "bk.band", "bk.key"
    )
    # the band frame is BOTH self-join sides; persisting it (and
    # materializing eagerly, which also builds the sh cache underneath
    # in the same single pass -- no concurrent-subtree cache race) means
    # the 16-minhash signature pass runs once, not once per side
    # (measured: ~45 core-seconds per duplicate pass at 50k docs)
    banded = persist_tracked(banded)
    banded.count()
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # re-spread the candidate pairs before the rerank: their shuffle is
    # tiny (a few MB), so AQE coalesces the post-distinct stage down to
    # 1-2 partitions -- and the rerank's per-pair array intersections
    # (the CPU-heavy part) would run single-threaded (measured: a 15 s
    # one-task stage). A keyless REPARTITION_BY_NUM is AQE-stable.
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    # the exact rerank crosses its joins as arrays of 8-byte md5-prefix
    # keys, not full gram strings (~3-10x fewer bytes). hgrams is
    # distinct per doc, so |A∪B| = |A| + |B| - |A∩B| exactly -- one
    # array_intersect per pair instead of intersect + union (the oracle
    # denominator IS n_a + n_b - n_common over distinct hashed sets).
    ga = sh.select(F.col("doc_id").alias("id_a"), F.col("hgrams").alias("grams_a"))
    gb = sh.select(F.col("doc_id").alias("id_b"), F.col("hgrams").alias("grams_b"))
    n_common = F.size(F.array_intersect("grams_a", "grams_b"))
    ratio = n_common / (F.size("grams_a") + F.size("grams_b") - n_common)
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(ratio >= threshold)
        .select("id_a", "id_b", F.round(ratio, 6).alias("jaccard"))
    )


# ------------------------------------------------------------- SimHash

_SIMHASH_BITS = 64


def _simhash_one(tokens: list[str]) -> int:
    """Scalar reference implementation (kept as the property-test twin
    of the vectorized kernel below)."""
    import hashlib as _h

    acc = [0] * _SIMHASH_BITS
    for t in tokens:
        hv = int.from_bytes(_h.md5(t.encode()).digest()[:8], "big")
        for i in range(_SIMHASH_BITS):
            acc[i] += 1 if (hv >> i) & 1 else -1
    out = 0
    for i in range(_SIMHASH_BITS):
        if acc[i] > 0:
            out |= 1 << i
    return out - (1 << 63)  # to signed long


def _simhash_np(tokens: list[str]) -> int:
    """numpy-vectorized simhash: one md5 per token (unavoidable), then
    the 64 bit-accumulate ops run as two array expressions instead of a
    64-iteration Python loop per token. Bit-identical to _simhash_one
    (property-tested)."""
    import hashlib as _h

    import numpy as np

    if not tokens:
        return -(1 << 63)
    buf = b"".join(_h.md5(t.encode()).digest()[:8] for t in tokens)
    hvs = np.frombuffer(buf, dtype=">u8").astype(np.uint64)
    shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)
    ones = ((hvs[:, None] >> shifts) & np.uint64(1)).sum(axis=0, dtype=np.int64)
    acc = 2 * ones - len(tokens)
    setbits = (acc > 0).astype(np.uint64)
    # sum in uint64: the true value is < 2^64, so modular wrap is exact
    return int((setbits << shifts).sum(dtype=np.uint64)) - (1 << 63)


# tokenizer matching the DuckDB oracle's RE2 \s exactly ([ \t\n\f\r]):
# Python's str.split() would also split on unicode whitespace (U+00A0,
# U+2028, \x1c-\x1f, \v), silently diverging from the SQL twin on
# scraped text
import re as _re

_RE2_WS = _re.compile(r"[ \t\n\f\r]+")


def _simhash_tokens(text: str) -> list[str]:
    return [t for t in _RE2_WS.split((text or "").lower()) if t]


@pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: _simhash_np(_simhash_tokens(t)))


def _simhash_blocks(n_blocks: int = 6, bits: int = _SIMHASH_BITS) -> list[tuple[int, int]]:
    """(offset, width) per block, widths as even as possible (64/6 ->
    four 11-bit + two 10-bit blocks)."""
    base, extra = divmod(bits, n_blocks)
    out, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        out.append((off, w))
        off += w
    return out


def simhash_candidates(
    h: DataFrame,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a, id_b, sim_a, sim_b) for a (doc_id, sim)
    frame via Manku-style block-permute keys (Manku, Jain & Das Sarma,
    "Detecting Near-Duplicates for Web Crawling", WWW'07): split the 64
    bits into ``n_blocks`` blocks; a pair within ``max_hamming`` bits
    differs in at most max_hamming blocks, so it agrees EXACTLY on some
    combination of ``n_blocks - max_hamming`` whole blocks (pigeonhole
    -- recall is 1.0, not probabilistic). Each doc explodes into
    C(n_blocks, combo) rows keyed by ONE packed 64-bit long
    (combo_id + the concatenated block values); a single self-join on
    that key generates candidates.

    Scale rationale vs the old per-band scheme: 4x16-bit band keys put
    n/2^16 docs in a uniform bucket -- ~n^2/2^16 candidate pairs at
    corpus scale (quadratic). 3-of-6 block keys are ~33 bits wide, so
    uniform buckets hold n/2^33 docs: at 10^9 docs that is ~0.1 rows
    per bucket, and the join output tracks the number of TRUE
    near-dups, which any exact-recall scheme must pay for. More explode
    rows (20x vs 4x) buy 2^17x smaller buckets -- linear cost for the
    removal of the quadratic term.
    """
    if n_blocks is None:
        # max_hamming + 3 keeps combos of size 3 (wide keys) at every
        # threshold: 3 -> 6 blocks / C(6,3)=20 keys, 8 -> 11 blocks
        n_blocks = max_hamming + 3
    combo = n_blocks - max_hamming
    if combo < 1:
        raise ValueError(f"n_blocks={n_blocks} must exceed max_hamming={max_hamming}")
    from itertools import combinations

    blocks = _simhash_blocks(n_blocks)
    block_cols = [
        F.shiftrightunsigned("sim", off).bitwiseAND(F.lit((1 << w) - 1))
        for (off, w) in blocks
    ]
    max_w = max(w for _, w in blocks)
    # pack (combo_id, v_i, v_j, ...) into one long: combo values are
    # <= 11 bits each, combo_id < C(6,3)=20 -> 3*11 + 5 = 38 bits used.
    # Exotic parameters (max_hamming=0, caller-supplied n_blocks=20)
    # can exceed 63 bits, where shiftleft would silently drop the high
    # bits and collapse unrelated sims into shared buckets -- fall back
    # to a 64-bit hash key there (collisions ~n^2/2^64; the popcount
    # filter keeps the RESULT exact either way, this guards the
    # bucket-size bound).
    from math import comb as _comb

    combo_id_bits = max(_comb(n_blocks, combo) - 1, 1).bit_length()
    packed_fits = combo * max_w + combo_id_bits <= 63
    keys = []
    for ci, idxs in enumerate(combinations(range(n_blocks), combo)):
        if packed_fits:
            key = F.lit(ci).cast("long")
            for bi in idxs:
                key = F.shiftleft(key, max_w).bitwiseOR(block_cols[bi].cast("long"))
        else:
            key = F.xxhash64(F.lit(ci), *[block_cols[bi] for bi in idxs])
        keys.append(key)
    exploded = h.select(
        "doc_id", "sim", F.explode(F.array(*[k.alias("k") for k in keys])).alias("bkey")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    # the popcount filter is row-local, so it runs BEFORE the pair
    # dedup: each true pair is duplicated up to C(n_blocks, combo) times
    # by multi-combo agreement and the join also emits false candidates
    # -- filtering first means the distinct's exchange carries ONLY true
    # pairs (r5 verdict finding #2; result-identical, smaller shuffle).
    return (
        a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_blocks: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) for pairs within max_hamming bits.
    Candidate generation is Manku block-permute (see
    ``simhash_candidates`` -- exact recall, ~33-bit join keys so bucket
    sizes shrink 2^17x vs 16-bit bands); the exact popcount filter runs
    inside candidate generation, before the pair dedup.
    """
    h = _ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), simhash_udf(F.col(text_col)).alias("sim")
    )
    # the exploded frame feeds both self-join sides; without persistence
    # each side re-runs the simhash pUDF over the whole corpus. Eager
    # materialization: the two sides are submitted as concurrent
    # subtrees that otherwise race to build the same cache blocks, each
    # paying a full pUDF pass plus block-lock waits (the minhash
    # finding; same fix).
    h = persist_tracked(h)
    h.count()
    return simhash_candidates(h, max_hamming=max_hamming, n_blocks=n_blocks).select(
        "id_a", "id_b", "hamming"
    )


# ----------------------------------------- near-dup group resolution


def near_dup_groups(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Pair list (from minhash/simhash/ngram/cosine) -> transitive dup
    groups via connected components: (doc_id, group_id) with group_id =
    the MIN doc id in the component under the id column's native
    ordering (numeric min for numeric ids -- no string cast, so doc 9
    beats doc 10). The keep-decision is then ``doc_id == group_id``
    (keep the canonical representative, drop the rest) -- the piece
    that turns similarity pairs into an actual dedup verdict. Scales
    like cc.connected_components (driver union-find up to 50 000
    edges, large-star/small-star contraction above)."""
    from ..cc import connected_components

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    comp = connected_components(edges)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("group_id")
    )


def dedup_near(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every non-representative member of each near-dup group
    (keep = min id per component; docs in no pair survive untouched)."""
    groups = near_dup_groups(pairs)
    drop = groups.filter(F.col("doc_id") != F.col("group_id")).select(
        F.col("doc_id").alias("_drop_id")
    )
    return df.join(drop, df[id_col] == drop["_drop_id"], "left_anti")


# ------------------------------------------------- embedding near-dup


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    exact: bool = False,
) -> DataFrame:
    """(id_a, id_b, cos) pairs with cosine >= threshold. exact=True does
    the O(n^2) self-join (small-n oracle); default blocks by sign-LSH
    bucket (all n_planes sign bits equal) then reranks exactly."""
    from .similarity import cosine_expr, with_signature

    # a single-file embeddings table scans as 1-2 splits, serializing
    # both the sign-LSH signature pass and the exact-mode self-join's
    # streamed side onto those cores (measured 6.5 s -> ~1 s for the
    # 400-vector exact oracle slice at 10x scale); the guard makes a
    # real multi-file table skip the exchange
    v = _ensure_parallelism(df).select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    if exact:
        a, b = v.alias("a"), v.alias("b")
        joined = a.join(b, F.col("a.vid") < F.col("b.vid"))
    else:
        sig = with_signature(v, "vec", n_planes, "bucket")
        a, b = sig.alias("a"), sig.alias("b")
        joined = a.join(
            b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vid") < F.col("b.vid"))
        )
    return joined.select(
        F.col("a.vid").alias("id_a"),
        F.col("b.vid").alias("id_b"),
        cosine_expr(F.col("a.vec"), F.col("b.vec")).alias("cos"),
    ).filter(F.col("cos") >= threshold)
