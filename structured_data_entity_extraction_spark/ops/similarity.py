"""Similarity search over embedding columns (array<float>).

- ``cosine_expr``: pure built-in (zip_with + aggregate) cosine -- stays
  in whole-stage codegen, no Python;
- ``brute_force_topk``: exact top-k per query via broadcast query set +
  window row_number (the correctness baseline);
- ``lsh_topk``: the scale path -- random-hyperplane sign buckets
  (seeded, deterministic) shrink the candidate set before exact rerank.
  At 100 TB the bucket join replaces the full cross product; multiprobe
  (hamming-1 neighbor buckets) keeps recall high.

Centroids, PQ sub-codebooks and hyperplanes are data: one
``codebook_frame`` row, cross-joined by broadcast and read by
higher-order functions, so plan size does not grow with the codebook.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

_VECS = T.ArrayType(T.ArrayType(T.DoubleType()))
_BOOK = T.StructType(
    [
        T.StructField("cents", _VECS),
        T.StructField("pq", T.ArrayType(_VECS)),
        T.StructField("pq_norms", _VECS),
        T.StructField("planes", _VECS),
    ]
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side."""
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((na > 0) & (nb > 0), _dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def _planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def codebook_frame(
    spark, cents: list | None = None, pq: list | None = None, planes: list | None = None
) -> DataFrame:
    """One row holding the codebooks as data, for a broadcast cross
    join: ``cents`` (coarse centroids), ``pq`` (PQ sub-codebooks, m x
    ksub x dsub) with ``pq_norms`` (each codeword's squared norm,
    summed in Python), ``planes`` (sign-LSH hyperplanes); null when
    not given."""
    norms = pq and [[float(sum(x * x for x in cv)) for cv in sub] for sub in pq]
    return local_frame(spark, [(cents, pq, norms, planes)], _BOOK)


def with_signature(df: DataFrame, vec_col: str, n_planes: int, out: str) -> DataFrame:
    """``df`` plus ``out``, the sign-LSH bucket id of ``vec_col``: bit i
    = sign(vec . plane_i) over the seeded ``_planes(64, n_planes, 42)``,
    read from a broadcast ``codebook_frame`` row."""
    book = codebook_frame(df.sparkSession, planes=_planes(64, n_planes, 42))
    bits = F.transform(
        F.col("planes"),
        lambda p, i: F.when(
            _dot(F.col(vec_col), p) >= 0, F.call_function("shiftleft", F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long")),
    )
    sig = F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc + b)
    return df.crossJoin(F.broadcast(book)).select(*df.columns, sig.alias(out))


def best_cells(vec: Column, n: int) -> Column:
    """Array of the ``n`` indices into the cross-joined ``cents`` with
    the highest cosine to ``vec`` (cosine desc, index asc)."""
    scored = F.transform(
        F.col("cents"),
        lambda cv, i: F.struct((-cosine_expr(vec, cv)).alias("neg"), i.alias("cell")),
    )
    return F.slice(F.array_sort(scored), 1, n).getField("cell")


def _vectors(df: DataFrame, id_col: str, vec_col: str, ids: str, vecs: str) -> DataFrame:
    return df.select(F.col(id_col).alias(ids), F.col(vec_col).cast("array<double>").alias(vecs))


def _top(scored: DataFrame, k: int, by: str = "cos") -> DataFrame:
    """The ``k`` best rows per query_id by ``by`` desc (ties -> vec_id
    asc), numbered in ``rank``."""
    w = Window.partitionBy("query_id").orderBy(F.desc(by), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _probes(
    queries: DataFrame, book: DataFrame, n_probe: int, id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, qvec, cell) for each of a query's ``n_probe`` best cells."""
    return (
        _vectors(queries, id_col, vec_col, "query_id", "qvec")
        .crossJoin(book)
        .select("query_id", "qvec", F.explode(best_cells(F.col("qvec"), n_probe)).alias("cell"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, vec_id, cos, rank) exact top-k neighbors per query.
    Query set is broadcast (small); corpus never shuffles until the
    per-query window."""
    from .dedup import _ensure_parallelism

    # single-split embeddings scan would run all |corpus| x |queries|
    # cosines on one core (the scoring is the whole query)
    c = _vectors(_ensure_parallelism(corpus), id_col, vec_col, "vec_id", "cvec")
    q = _vectors(queries, id_col, vec_col, "query_id", "qvec")
    scored = c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        cosine_expr(F.col("qvec"), F.col("cvec")).alias("cos"),
    )
    return _top(scored, k).select("query_id", "vec_id", "cos", "rank")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer
    assigns every corpus vector to its nearest centroid (the inverted
    list), each query probes only its ``n_probe`` closest centroids'
    lists, and candidates are reranked by exact cosine.

    ``codebook``: a precomputed centroid table (the production path --
    train offline with tools/train_codebook.py's deterministic k-means
    on a sample, then pass the centroids here; they travel as the one
    row of a broadcast ``codebook_frame``). Without it, the centroids
    default to the ``n_centroids`` lowest-id corpus rows, gathered into
    that row inside the plan (no driver collect) -- deterministic but
    unrepresentative on clustered data (an inline distributed k-means
    would be partition-order dependent, i.e. nondeterministic).
    Assignment is a JVM-side argmax over the centroid cosines -- a
    narrow map over the corpus, no shuffle; the probe join keys on
    centroid id, so per-query work is |corpus| * n_probe / n_centroids."""
    from .dedup import _ensure_parallelism

    if codebook is not None:
        book = codebook_frame(corpus.sparkSession, cents=codebook)
    else:
        book = (
            _vectors(corpus, id_col, vec_col, "vid", "v")
            .orderBy("vid")
            .limit(n_centroids)
            .agg(F.sort_array(F.collect_list(F.struct("vid", "v"))).getField("v").alias("cents"))
        )
    book = F.broadcast(book)
    # spread the scan before the per-row coarse-cell assignment (the
    # centroid cosine argmax is the CPU-heavy part; one split would
    # serialize it)
    c = (
        _vectors(_ensure_parallelism(corpus), id_col, vec_col, "vec_id", "cvec")
        .crossJoin(book)
        .select("vec_id", "cvec", best_cells(F.col("cvec"), 1)[0].alias("cell"))
    )
    q = _probes(queries, book, n_probe, id_col, vec_col)
    # no distinct needed: each corpus vector sits in exactly one cell
    # and a query's probe cells are distinct, so (query_id, vec_id)
    # pairs are already unique -- a distinct here would be a pure
    # wasted shuffle of the whole candidate set
    cand = c.join(F.broadcast(q), "cell").filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id", "vec_id", cosine_expr(F.col("qvec"), F.col("cvec")).alias("cos")
    )
    return _top(scored, k).select("query_id", "vec_id", "cos", "rank")


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse: list[list[float]],
    pq: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ approximate top-k (Jegou, Douze & Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011) -- the
    memory-scale path the raw-vector IVF lacks: the inverted lists
    carry only m PQ codes per vector (m bytes at ksub<=256 vs
    4*dim bytes raw -- ~3 TB of hot floats at 10^9 x 768-d shrinks to
    ~tens of GB), the probe join scans codes with an asymmetric-
    distance (ADC) score against the query's real vector, and only the
    top ``rerank`` candidates per query touch raw vectors again for the
    exact-cosine rerank.

    Both codebooks are pinned offline artifacts
    (tools/train_codebook.py --pq -> data/ivf_pq_codebook.json) held
    in one broadcast ``codebook_frame`` row; encoding, probing, and
    ADC are higher-order JVM expressions over its columns, zero Python.
    No residual encoding (FAISS by_residual=false flavor): codes
    quantize the raw vector, which keeps the ADC score a pure
    query-independent table lookup AND keeps the whole operator
    SQL-oracle-able.

    Determinism contract (shared with the DuckDB oracle): PQ encode =
    argmin L2^2 per subspace (ties -> lowest code); ADC score =
    cos(query, reconstruction), ROUNDED to 6 dp before the rerank
    cutoff (ties -> vec_id asc) so bit-level float fold differences
    between engines cannot flip the cutoff set; final ranking by exact
    cosine (ties -> vec_id asc)."""
    from .dedup import _ensure_parallelism

    m, dsub = len(pq), len(pq[0][0])
    book = F.broadcast(codebook_frame(corpus.sparkSession, cents=coarse, pq=pq))

    def sub(vec: Column, mi: Column) -> Column:
        return F.slice(vec, mi * dsub + 1, dsub)

    def codeword(table: str, mi: Column) -> Column:
        return F.element_at(F.element_at(F.col(table), mi + 1), F.element_at("codes", mi + 1) + 1)

    def over_subspaces(term) -> Column:
        """0.0 + term(0) + ... + term(m - 1), left to right."""
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0), lambda acc, mi: acc + term(mi)
        )

    def l2sq(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # array<int> of m PQ codes: per subspace, argmin L2^2 (ties ->
    # lowest code, via array_sort on (dist, code) structs)
    encode = F.transform(
        F.col("pq"),
        lambda words, mi: F.array_sort(
            F.transform(
                words,
                lambda cv, ci: F.struct(
                    l2sq(sub(F.col("cvec"), mi), cv).alias("d"), ci.alias("code")
                ),
            )
        )[0]["code"],
    )
    # the embeddings table scans as a single split, which would run the
    # CPU-heavy encode/ADC projection below on one core (measured: a
    # 2.5 s one-task stage at sf0.1); round-robin spread first
    c = _vectors(_ensure_parallelism(corpus), id_col, vec_col, "vec_id", "cvec")
    # the inverted list: (cell, vec_id, codes) -- this is ALL the probe
    # join ever touches; raw vectors stay in c and are fetched only for
    # the reranked few
    c_codes = c.crossJoin(book).select(
        "vec_id", best_cells(F.col("cvec"), 1)[0].alias("cell"), encode.alias("codes")
    )
    q = _probes(queries, book, n_probe, id_col, vec_col)
    cand = (
        c_codes.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .crossJoin(book)
    )
    adc_dot = over_subspaces(lambda mi: _dot(sub(F.col("qvec"), mi), codeword("pq", mi)))
    xhat_norm = F.sqrt(over_subspaces(lambda mi: codeword("pq_norms", mi)))
    qnorm = F.sqrt(
        F.aggregate(F.col("qvec"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        "qvec",
        F.round(
            F.when(
                (qnorm > 0) & (xhat_norm > 0), adc_dot / (qnorm * xhat_norm)
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("adc"),
    )
    shortlist = _top(scored, rerank, by="adc").select("query_id", "vec_id", "qvec")
    # exact rerank: only |queries| * rerank rows fetch a raw vector
    exact = F.broadcast(shortlist).join(c, "vec_id").select(
        "query_id",
        "vec_id",
        cosine_expr(F.col("qvec"), F.col("cvec")).alias("cos"),
    )
    return _top(exact, k).select("query_id", "vec_id", "cos", "rank")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    multiprobe: bool = True,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign bucket (or a
    hamming-1 neighbor bucket when multiprobe), exact cosine rerank."""
    from .dedup import _ensure_parallelism

    c = with_signature(
        _vectors(_ensure_parallelism(corpus), id_col, vec_col, "vec_id", "cvec"),
        "cvec",
        n_planes,
        "cbucket",
    )
    q = with_signature(
        _vectors(queries, id_col, vec_col, "query_id", "qvec"), "qvec", n_planes, "qbucket"
    )
    if multiprobe:
        probes = F.array(
            F.col("qbucket"),
            *[F.col("qbucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
        q = q.withColumn("probe", F.explode(probes))
    else:
        q = q.withColumn("probe", F.col("qbucket"))
    # no distinct needed (same argument as ivf_topk): each corpus vector
    # has exactly one cbucket and a query's probe values (qbucket and its
    # single-bit flips) are pairwise distinct, so the join emits every
    # (query_id, vec_id) pair at most once -- a distinct here would be a
    # pure wasted shuffle of the candidate set
    cand = c.join(
        F.broadcast(q),
        (F.col("cbucket") == F.col("probe")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "vec_id",
        cosine_expr(F.col("qvec"), F.col("cvec")).alias("cos"),
    )
    return _top(cand, k).select("query_id", "vec_id", "cos", "rank")
