"""North-rule pipeline: code-corpus knowledge-graph construction over
``repos_src(repo, path, commit, lang, content)`` (BASELINE.json).

The reference's extraction semantics generalized to source code
(SURVEY.md §2.3 "code-corpus re-targeting"): keyword/pattern-anchored
mention detection per content blob -> broadcast-dictionary +
MinHash-LSH entity linking -> connected-components canonicalization ->
(subj, pred, obj) triple materialization.

Stages (each a narrow map or an explicitly-keyed shuffle):
  A extract  -- one JVM regex projection: imports / function & class
                declarations / config key-values / identifiers
  B link     -- broadcast equi-join on the alias dim; unmatched values
                go through MinHash-LSH (char-3-gram Jaccard) blocking
  C canonize -- CC label propagation merges transitive alias chains
  D triples  -- doc/repo/entity triples, partitioned (repo_bucket, lang)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cc import connected_components
from .session import local_frame

# ------------------------------------------------------- extraction spec
#
# Per-lang anchored patterns -- the code analogue of the per-field anchor
# lists in extractorAvaluos.py:93,117,551,649,749,876,908. Written in
# Python ``re`` syntax with re.MULTILINE semantics; the DuckDB oracle and
# the pure-Python twin (tools/make_goldens.py) read these same tables,
# and ``_jvm_regex`` pins them for the JVM.

_IMPORT_PATTERNS = {
    "python": [r"^\s*import\s+([\w.]+)", r"^\s*from\s+([\w.]+)\s+import\b"],
    "javascript": [
        r"""require\(\s*['"]([^'"]+)['"]\s*\)""",
        r"""^\s*import\b[^'"]*['"]([^'"]+)['"]""",
    ],
    "rust": [r"^\s*use\s+([A-Za-z_][\w:]*)"],
    "go": [r"""import\s+"([^"]+)\""""],
}
_DEF_PATTERNS = {
    "python": [r"^\s*def\s+(\w+)\s*\("],
    "javascript": [r"\bfunction\s+(\w+)\s*\(", r"\bconst\s+(\w+)\s*=\s*\("],
    "rust": [r"\bfn\s+(\w+)\s*\("],
    "go": [r"\bfunc\s+(\w+)\s*\("],
}
_CLASS_PATTERNS = {
    "python": [r"^\s*class\s+(\w+)"],
    "javascript": [r"\bclass\s+(\w+)"],
    "rust": [r"\b(?:struct|enum|trait)\s+(\w+)"],
    "go": [r"\btype\s+(\w+)\s+struct\b"],
}
_CONFIG_PATTERNS = {
    "yaml": [r"^([\w.-]+)\s*:"],
    "ini": [r"^([\w.-]+)\s*="],
}
# PEP-263 encoding cookie: the first hit of a MULTILINE search
_ENCODING_PATTERN = r"^#.*?coding[:=]\s*([-\w.]+)"
_IDENT_PATTERN = r"\b[A-Za-z_][A-Za-z0-9_]{2,}\b"
_KEYWORDS = frozenset(
    "def class import from return if else elif for while in not and or is None True False "
    "fn use let mut pub struct enum impl match func type var const function require "
    "new this self super try except finally with as lambda yield async await".split()
)
_MAX_IDENTS = 50

# Python ``re`` on str is Unicode-aware; java.util.regex is ASCII unless
# flagged, and JDK 19+ redefines ``\b``. Pin Python's classes explicitly:
# \w = str.isalnum() or '_'; \s = str.isspace(); \b = a \w/non-\w edge.
# (?d) makes ^ and . treat only \n as a line break, as Python does.
_W = r"[\p{L}\p{N}_]"
_SPACE = r"\t-\r\x1c-\x20\x85\p{Z}"
_JVM_ESCAPE = {
    "w": _W,
    "s": f"[{_SPACE}]",
    "b": f"(?:(?<={_W})(?!{_W})|(?<!{_W})(?={_W}))",
}


def _no_strings():
    return F.array().cast("array<string>")


def _jvm_regex(rx: str) -> str:
    """A table pattern in java.util.regex syntax with Python semantics.
    Rewrites only the escapes \\w \\s \\b (the tables hold no escaped
    backslash and no \\b inside a class); \\w inside a class becomes a
    nested class, which Java unions."""
    return "(?md)" + re.sub(r"\\([wsb])", lambda m: _JVM_ESCAPE[m.group(1)], rx)


def _pattern_values(table: dict):
    """array<string> of every group-1 hit of the row's lang patterns,
    pattern by pattern, each in match order; [] for other langs."""
    out = _no_strings()
    for lang, patterns in table.items():
        hits = [F.regexp_extract_all("content", F.lit(_jvm_regex(rx)), 1) for rx in patterns]
        out = F.when(F.col("lang") == lang, F.concat(*hits)).otherwise(out)
    return out


def _mention_values():
    """(field, array<string>) per mention field, in the order the Python
    twin emits them."""
    # secondary modal signal (S3 analogue, extractorAvaluos.py:161-180):
    # shebang line / PEP-263 encoding cookie as cheap per-blob metadata.
    # shebang: '#!' plus one non-newline char at string start; the value
    # is the rest of that line stripped of \s on both ends (the greedy
    # body backtracks only over trailing space, so this stays linear)
    shebang = F.regexp_extract(
        "content", rf"^#![[{_SPACE}]&&[^\n]]*+((?:[^\n]*[^{_SPACE}])?)", 1
    )
    # the cookie's group needs one char, so '' means no match
    encoding = F.regexp_extract("content", _jvm_regex(_ENCODING_PATTERN), 1)
    idents = F.filter(
        F.regexp_extract_all("content", F.lit(_jvm_regex(_IDENT_PATTERN)), 0),
        lambda v: ~v.isin(*sorted(_KEYWORDS)),
    )
    return [
        ("import", _pattern_values(_IMPORT_PATTERNS)),
        ("def", _pattern_values(_DEF_PATTERNS)),
        ("class", _pattern_values(_CLASS_PATTERNS)),
        ("config", _pattern_values(_CONFIG_PATTERNS)),
        ("shebang", F.when(F.col("content").rlike(r"^#![^\n]"), F.array(shebang))),
        ("encoding", F.when(encoding != "", F.array(encoding))),
        # distinct identifiers, first-occurrence order, bounded
        ("ident", F.slice(F.array_distinct(idents), 1, _MAX_IDENTS)),
    ]


def _tagged(field: str, values):
    return F.transform(
        F.coalesce(values, _no_strings()),
        lambda v: F.struct(F.lit(field).alias("field"), v.alias("value")),
    )


# ------------------------------------------------------------ stage A


def extract_code_mentions(repos_src: DataFrame, bucket_count: int = 64) -> DataFrame:
    """repos_src -> mentions(doc_id, repo, repo_bucket, path, lang,
    content_sha, field, value). doc_id and content_sha per
    BASELINE.json:input_hint; repo_bucket = pmod(xxhash64(repo), B) is the
    output partition key AND the salting basis for skewed repos.

    One JVM projection: every field is a regexp_extract_all array over
    the pinned patterns, tagged with its field name and exploded. No
    Python worker runs and no row can raise, so there is no per-row
    fault path; a doc without mentions yields no rows."""
    return repos_src.select(
        F.sha2(
            F.concat_ws("\x00", F.col("repo"), F.col("path"), F.col("commit")), 256
        ).alias("doc_id"),
        "repo",
        F.pmod(F.xxhash64("repo"), F.lit(bucket_count)).cast("int").alias("repo_bucket"),
        "path",
        "lang",
        F.coalesce(F.col("content"), F.lit("")).alias("content"),
    ).select(
        "doc_id",
        "repo",
        "repo_bucket",
        "path",
        "lang",
        F.sha2("content", 256).alias("content_sha"),
        F.explode(F.concat(*[_tagged(f, v) for f, v in _mention_values()])).alias("m"),
    ).select(
        "doc_id", "repo", "repo_bucket", "path", "lang", "content_sha", "m.field", "m.value"
    )


# ------------------------------------------------------------- alias dim


def default_code_alias_rows() -> list[tuple[str, str]]:
    """Seeded (alias, canonical) module-alias dim with transitive chains
    (FIXTURES.md §3 `code_alias`) -- the code analogue of the reference's
    state/municipality dictionaries."""
    rows = [
        ("np", "numpy"), ("numpy", "numpy"),
        ("pd", "pandas"), ("pandas", "pandas"),
        ("plt", "matplotlib"), ("matplotlib", "matplotlib"),
        ("lodash-es", "lodash"), ("lodash", "lodash"), ("underscore", "lodash"),
        ("react-dom", "react"), ("react", "react"),
        ("tokio-core", "tokio"), ("tokio", "tokio"),
        ("encoding/json", "encoding/json"), ("json", "encoding/json"),
        ("net/http", "net/http"), ("http", "net/http"),
        ("os.path", "os"), ("os", "os"),
        ("collections.abc", "collections"), ("collections", "collections"),
    ]
    return rows


def code_alias_dim(spark: SparkSession, rows=None) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("alias", T.StringType(), False),
            T.StructField("canonical", T.StringType(), False),
        ]
    )
    return local_frame(spark, rows or default_code_alias_rows(), schema)


# ------------------------------------------------------------- stage B


def _char_ngrams(s: str, n: int = 3) -> list[str]:
    s = f"^{s}$"
    return [s[i : i + n] for i in range(max(1, len(s) - n + 1))]


def char_ngrams_col(value, n: int = 3):
    """JVM twin of ``_char_ngrams``: '^'+value+'$' sliced into n-grams
    with substr over a sequence -- whole-stage codegen, no Python."""
    padded = F.concat(F.lit("^"), value, F.lit("$"))
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(padded) - F.lit(n - 1), F.lit(1))),
        lambda i: padded.substr(i, F.lit(n)),
    )


# the fuzzy link's MinHash-LSH: a surface value links to a dim alias
# whose char-3-gram jaccard is at least LSH_THRESHOLD, among the aliases
# sharing one of LSH_HASHES r=1 bands with it. The DuckDB oracle
# (__spark_entry__._lsh_sql_ctes) and the Python twin
# (tools/make_goldens._lsh_best_match) read these same constants.
LSH_THRESHOLD = 0.5
LSH_HASHES = 16


def _lsh_band_candidates(vg: DataFrame, dg: DataFrame) -> DataFrame:
    """The band join of ``lsh_alias_map`` (the dim-growth property test
    counts it): ``vg(value, grams)`` x broadcast ``dg(alias, canonical,
    grams)`` -> one (value, grams, alias, canonical, dgrams) row per
    r=1 band the two agree on; the caller's aggregate absorbs a pair's
    repeats."""
    from .ops.dedup import minhash_bands

    def banded(df: DataFrame) -> DataFrame:
        return df.select(
            "*", F.explode(minhash_bands(F.col("grams"), LSH_HASHES, 1)).alias("bk")
        ).select(*df.columns, "bk.band", "bk.key")

    dim_bands = banded(dg).withColumnRenamed("grams", "dgrams")
    return banded(vg).join(F.broadcast(dim_bands), ["band", "key"]).drop("band", "key")


def lsh_alias_map(values: DataFrame, alias_dim: DataFrame) -> DataFrame:
    """Distinct surface values -> best fuzzy dim match via NATIVE
    MinHash-LSH banding (``ops.dedup.minhash_bands`` -- no pyspark.ml,
    every hash reproducible in DuckDB/Python, so the flagship LSH path
    is golden-oracle-checkable; VERDICT r2 #1).

    Bands of r=1: for short strings recall is what matters -- candidate
    probability at jaccard j is 1-(1-j)^16 (j=0.5 -> 1-2^-16) -- and
    false candidates die in the exact-jaccard filter at LSH_THRESHOLD.
    The dim is broadcast into the band join with its gram arrays, and
    the best match is one min(-jaccard, canonical, alias) aggregate per
    value. Returns (value, lsh_canonical, lsh_score), score = EXACT
    char-3-gram jaccard."""
    vg = values.select("value", char_ngrams_col(F.col("value")).alias("grams"))
    dg = alias_dim.select(
        "alias", "canonical", char_ngrams_col(F.col("alias")).alias("grams")
    )
    jac = F.size(F.array_intersect("grams", "dgrams")) / F.size(
        F.array_union("grams", "dgrams")
    )
    best = F.min(F.struct((-F.col("jac")).alias("neg_jac"), "canonical", "alias"))
    return (
        _lsh_band_candidates(vg, dg)
        .select("value", "canonical", "alias", jac.alias("jac"))
        .filter(F.col("jac") >= LSH_THRESHOLD)
        .groupBy("value")
        .agg(best.alias("best"))
        .select(
            "value",
            F.col("best.canonical").alias("lsh_canonical"),
            (-F.col("best.neg_jac")).alias("lsh_score"),
        )
    )


def link_mentions(mentions: DataFrame, alias_dim: DataFrame) -> DataFrame:
    """mentions + alias dim -> candidates(doc_id, field, value, canonical,
    score, method). Exact alias hits via broadcast equi-join (method=
    'dict', score=1.0); misses among import mentions go through native
    MinHash-LSH char-3-gram blocking (method='lsh', score = exact gram
    jaccard of the matched alias).

    The LSH side joins DISTINCT values against the dim -- candidate
    generation is value-level, then rejoined to mentions, so the
    banding join runs on |distinct misses| not |mentions|. The rejoin
    broadcasts the lsh map (bounded by the values that fuzzy-match a
    dimension entry -- dimension-sized at any corpus scale), so no
    shuffle of the mention stream and no skew from hot values.
    """
    dict_hits = mentions.join(
        F.broadcast(alias_dim), mentions.value == alias_dim["alias"], "left"
    ).select(
        mentions["*"],
        F.col("canonical"),
        F.when(F.col("canonical").isNotNull(), F.lit(1.0)).alias("score"),
        F.when(F.col("canonical").isNotNull(), F.lit("dict")).alias("method"),
    )
    # no isEmpty() fast-path probe: it cost a full extra action over the
    # mention stream per call, while the LSH subtree on an empty miss
    # set is just empty joins (near-free) and the left rejoin is a no-op
    misses = (
        dict_hits.filter(F.col("canonical").isNull() & (F.col("field") == "import"))
        .select("value")
        .distinct()
        .filter(F.length("value") >= 2)
    )
    lsh_map = lsh_alias_map(misses, alias_dim)
    return (
        dict_hits.join(F.broadcast(lsh_map), "value", "left")
        .select(
            *[c for c in mentions.columns],
            F.coalesce("canonical", "lsh_canonical").alias("canonical"),
            F.coalesce("score", "lsh_score").alias("score"),
            F.coalesce(
                "method", F.when(F.col("lsh_canonical").isNotNull(), F.lit("lsh"))
            ).alias("method"),
        )
    )


# ------------------------------------------------------------- stage C


def link_edges(candidates: DataFrame, alias_dim: DataFrame) -> DataFrame:
    """The canonicalization edge list as a first-class KG table
    (north_rule: "... triples plus node/edge tables"): (src, dst,
    etype) with etype='alias' for dictionary rows and etype='link' for
    observed surface->canonical links (dict hits and LSH fuzzy
    matches). The link side collapses to distinct pairs map-side
    before any shuffle."""
    dim_edges = alias_dim.select(
        F.col("alias").alias("src"),
        F.col("canonical").alias("dst"),
        F.lit("alias").alias("etype"),
    )
    obs_edges = (
        candidates.filter(F.col("canonical").isNotNull())
        .select(F.col("value").alias("src"), F.col("canonical").alias("dst"))
        .distinct()
        .withColumn("etype", F.lit("link"))
    )
    return dim_edges.unionByName(obs_edges)


def canonicalize(
    candidates: DataFrame, alias_dim: DataFrame, edges: DataFrame | None = None
) -> DataFrame:
    """Merge transitive alias chains: edges = dim alias->canonical pairs
    + linked value->canonical pairs (``link_edges``, or a materialized
    edge table passed in by the checkpointed pipeline); CC gives every
    surface form a component; the component's canonical name is its
    lexicographically smallest dim canonical (else smallest member).
    Returns nodes(surface, entity_id, canonical)."""
    if edges is None:
        edges = link_edges(candidates, alias_dim)
    comp = connected_components(edges.select("src", "dst"))
    # preferred canonical per component: min dim canonical present in it
    dim_canon = (
        comp.join(alias_dim, comp.node == alias_dim.canonical, "inner")
        .groupBy("component")
        .agg(F.min("canonical").alias("dim_canonical"))
    )
    return (
        comp.join(dim_canon, "component", "left")
        .select(
            F.col("node").alias("surface"),
            F.col("component").alias("entity_id"),
            F.coalesce("dim_canonical", "component").alias("canonical"),
        )
    )


# ------------------------------------------------------------- stage D


def build_kg(repos_src: DataFrame, use_lsh: bool = True) -> DataFrame:
    """One-shot in-memory run of all four stages over the default alias
    dim and 64 repo buckets -> triples. The checkpointed path
    (pipeline.run_codekg_pipeline) materializes each stage instead;
    here intermediates that feed multiple consumers are persisted so
    extraction and linking run exactly once.

    Linking always includes the MinHash-LSH fuzzy link. ``use_lsh``
    stays only because the frozen ``bench.py`` passes ``use_lsh=True``;
    ``False`` raises ``ValueError``."""
    from .ops.cache import persist_tracked

    if not use_lsh:
        raise ValueError(
            "build_kg always runs the MinHash-LSH link: use_lsh=False is not supported"
        )
    alias_dim = code_alias_dim(repos_src.sparkSession)
    mentions = persist_tracked(extract_code_mentions(repos_src))
    candidates = persist_tracked(link_mentions(mentions, alias_dim))
    nodes = canonicalize(candidates, alias_dim)
    return build_triples(candidates, nodes)


def entity_cooccurrence(
    triples: DataFrame,
    pred: str = "imports",
    max_per_doc: int = 256,
    exact_tail: bool = False,
) -> DataFrame:
    """KG analytics over the triple table: (src, dst, n_docs) edges
    between canonical entities co-mentioned in the same document under
    ``pred`` (e.g. modules imported together). Per-doc entity lists are
    typically small (imports per file) -- but the doc_id self-join is
    QUADRATIC in per-doc distinct entities, so one generated
    imports-everything file (lockfile, barrel module) with 2k imports
    would emit 2M pairs from a single row. ``max_per_doc`` bounds the
    fanout: each doc contributes only its first N entities (ordered by
    obj asc -- deterministic and oracle-mirrorable), capping any row's
    pair output at N*(N-1)/2. Docs the cap truncates are reported by
    ``cooccurrence_truncation_report`` -- no silent dropping; the
    DuckDB oracle applies the identical cap. Pass ``max_per_doc=0`` to
    disable. Hot entity PAIRS aggregate with map-side combine; src <
    dst canonicalizes edge direction.

    Caveat the cap implies (by design): a capped doc contributes NO
    pairs for its entities past position ``max_per_doc``, so n_docs on
    edges involving those entities undercounts by that doc -- the
    count is bounded-wrong, not silently absent: the truncation report
    names exactly the docs where this applies; raise or disable the
    cap if they matter.

    ``exact_tail=True`` removes the bounded-wrong caveat entirely: the
    result equals the UNCAPPED pair counts, but the few over-cap docs
    (few by definition -- they exceed max_per_doc distinct entities)
    are split into their own join branch, so their m^2 fanout is
    isolated where AQE skew-split can spread it instead of hiding
    inside the bulk join's partitions. Under-cap docs keep the bounded
    N*(N-1)/2 fanout guarantee."""
    from pyspark.sql import Window

    e = (
        triples.filter(F.col("pred") == pred)
        .select("doc_id", "obj")
        .distinct()
    )

    def pairs(frame: DataFrame) -> DataFrame:
        a, b = frame.alias("a"), frame.alias("b")
        return a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.obj") < F.col("b.obj")),
        ).select(F.col("a.obj").alias("src"), F.col("b.obj").alias("dst"))

    if max_per_doc and exact_tail:
        from .ops.cache import persist_tracked

        # e feeds the over-cap aggregate, the routing anti/semi joins,
        # and both sides of each branch self-join (~6 consumers) --
        # persist it or the filter+distinct subtree re-evaluates per use
        e = persist_tracked(e)
        over_cap = (
            e.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_per_doc)
            .select("doc_id")
        )
        head = e.join(over_cap, "doc_id", "left_anti")
        tail = e.join(over_cap, "doc_id", "left_semi")
        all_pairs = pairs(head).unionByName(pairs(tail))
    else:
        if max_per_doc:
            w = Window.partitionBy("doc_id").orderBy(F.asc("obj"))
            e = (
                e.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= max_per_doc)
                .drop("_rn")
            )
        all_pairs = pairs(e)
    return all_pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_docs"))


def cooccurrence_truncation_report(
    triples: DataFrame, pred: str = "imports", max_per_doc: int = 256
) -> DataFrame:
    """(doc_id, n_entities) for every doc whose distinct-entity count
    exceeds ``max_per_doc`` -- the docs whose co-occurrence edges
    ``entity_cooccurrence`` truncates. Surfacing the cap instead of
    silently applying it (the ngram_jaccard_pairs df_cap precedent).
    ``max_per_doc=0`` mirrors entity_cooccurrence's cap-disabled
    convention: nothing is truncated, so the report is empty."""
    counts = (
        triples.filter(F.col("pred") == pred)
        .select("doc_id", "obj")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_entities"))
    )
    if not max_per_doc:
        return counts.filter(F.lit(False))
    return counts.filter(F.col("n_entities") > max_per_doc)


def _is_hex(col: str):
    """True when the column is canonical lowercase hex of whole bytes
    (the sha256 ids this pipeline mints) -- only then does the binary
    round-trip restore the exact original string."""
    return F.col(col).rlike("^(?:[0-9a-f]{2})+$")


def _hex_pack(col: str):
    return F.when(_is_hex(col), F.unhex(col)).otherwise(F.encode(col, "UTF-8"))


def _hex_unpack(bcol: str, flag: str):
    return F.when(F.col(flag), F.lower(F.hex(bcol))).otherwise(
        F.decode(F.col(bcol), "UTF-8")
    )


def build_triples(
    candidates: DataFrame, nodes: DataFrame, write_salt: int = 8
) -> DataFrame:
    """candidates + canonical nodes -> (subj, pred, obj) triples.

    PRECONDITION (r6 fold): ``repo_bucket`` and ``lang`` must be
    doc_id-functional -- every row of one doc_id carries one
    (repo_bucket, lang) pair. extract_code_mentions guarantees this by
    construction (both derive from the doc's repo/lang); the fold
    RELIES on it twice: the dedup groupBy keys on (repo_bucket, lang),
    so a doc_id spanning two pairs would emit one triple per pair
    (r5's max()-fold collapsed them to an arbitrary winner), and the
    claim that one repartition co-locates every dup group is only true
    when dup rows agree on the partition columns. Synthetic frames
    that violate it get deterministic-but-per-pair rows, not silent
    corruption of real-pipeline outputs.

    Dedup strategy (the scale-critical part): exactly ONE shuffle of
    the mention stream. The node join is an explicit broadcast (nodes
    is the canonicalized alias dim -- a dimension table at any scale),
    so the only wide operation is a single groupBy(doc_id, pred, obj)
    that simultaneously kills repeated-mention dups AND
    canonical-collapse dups (two surfaces -> one obj), keeping
    max(conf) and the doc-functional columns via max (values are equal
    per doc_id, so max is deterministic). A separate
    dropDuplicates(doc_id, field, value) stage would be redundant --
    the groupBy subsumes it -- and measurably doubled the shuffle count
    on a 17M-mention corpus (these triple keys are mostly unique, so
    partial aggregation cannot shrink the map output; every extra
    pass is a full re-shuffle). repo_triples come from a per-doc
    groupBy whose map-side combine collapses mentions to ~|docs| rows
    before the exchange.

    The sha columns cross the dedup exchange as BINARY (unhex before,
    lower(hex) after): doc_id + content_sha are the two widest columns
    of the row (64 hex chars each), and since the keys are mostly
    unique the exchange carries every row -- halving those columns
    shrinks shuffle bytes ~25% (A/B-measured 10-19% wall on the 17M
    corpus at 8 cores, identical output). Ids that are NOT canonical
    lowercase hex (this is a public API; callers pass synthetic ids in
    tests) take a UTF-8-bytes fallback with the encoding flag kept IN
    the grouping key, so mixed-encoding ids can never collide or get
    silently re-cased."""
    pred = (
        F.when(F.col("field") == "import", F.lit("imports"))
        .when(F.col("field") == "def", F.lit("declares_function"))
        .when(F.col("field") == "class", F.lit("declares_class"))
        .when(F.col("field") == "config", F.lit("has_config_key"))
        .when(F.col("field") == "shebang", F.lit("has_shebang"))
        .when(F.col("field") == "encoding", F.lit("has_encoding"))
        .otherwise(F.lit("mentions_identifier"))
    )
    doc_dim = candidates.groupBy("doc_id").agg(
        F.max("repo").alias("repo"),
        F.max("repo_bucket").alias("repo_bucket"),
        F.max("lang").alias("lang"),
        F.max("content_sha").alias("content_sha"),
    )
    doc_triples = (
        candidates.join(
            F.broadcast(
                nodes.select(
                    F.col("surface").alias("value"),
                    F.col("canonical").alias("node_canonical"),
                )
            ),
            "value",
            "left",
        )
        .select(
            _hex_pack("doc_id").alias("_doc_id_b"),
            _is_hex("doc_id").alias("_doc_hex"),
            pred.alias("pred"),
            F.coalesce("node_canonical", "value").alias("obj"),
            "repo",
            "repo_bucket",
            "lang",
            _hex_pack("content_sha").alias("_content_sha_b"),
            _is_hex("content_sha").alias("_sha_hex"),
            F.coalesce("score", F.lit(1.0)).alias("conf"),
            # write-salt: a deterministic function of the PACKED dedup
            # key (not the raw doc_id -- "AB"/"ab" pack to one key but
            # would hash to different salts and split a dup group), so
            # every duplicate group shares one salt value and clustering
            # on (bucket, lang, salt) still co-locates whole groups
            F.pmod(
                F.xxhash64(
                    _hex_pack("doc_id"),
                    _is_hex("doc_id"),
                    pred,
                    F.coalesce("node_canonical", "value"),
                ),
                F.lit(write_salt),
            ).cast("int").alias("_ws"),
        )
        # ONE exchange serves BOTH the dedup and the final write layout:
        # dup triples share their doc, hence their (repo_bucket, lang),
        # so an explicit repartition on the write-partition columns
        # clusters every dup group into one partition; the groupBy keeps
        # the repartition columns IN its key set, so HashPartitioning on
        # that subset already satisfies the aggregate's clustered
        # distribution -- Catalyst plans NO second exchange (plan-gated)
        # and the aggregate runs partition-local. Without this fold the
        # dedup exchange hashed on the (mostly unique) triple key and
        # the partitionBy write then emitted a file per task per
        # (bucket, lang) value -- a small-files explosion at scale.
        # The key-derived _ws salt fixes the fold's own scale ceiling:
        # bare (bucket, lang) has bucket_count x |langs| distinct values
        # (384 at the large-input layout, pipeline.derive_layout),
        # capping the dedup at 384 reduce tasks no matter how many
        # executors the cluster has, with ~1.6x
        # balls-into-bins skew at 32 partitions. Salting multiplies the
        # key space by write_salt (unbounded parallelism again) while
        # the partitioned write still sees AT MOST write_salt part-files
        # per (bucket, lang) directory -- bounded, vs one-per-task
        # without the fold.
        .repartition("repo_bucket", "lang", "_ws")
        .groupBy("repo_bucket", "lang", "_ws", "_doc_id_b", "_doc_hex", "pred", "obj")
        .agg(
            F.max("repo").alias("repo"),
            # flag + bytes aggregated as ONE struct so both always come
            # from the same row: independent maxes could pair a true
            # flag from one sha with the byte-max of another and
            # fabricate a value absent from the input (only reachable
            # via synthetic ids -- content_sha is doc_id-functional in
            # the real pipeline -- but this is public API)
            F.max(F.struct(F.col("_sha_hex").alias("f"), F.col("_content_sha_b").alias("b"))).alias("_sha"),
            F.max("conf").alias("conf"),
        )
        .select(
            _hex_unpack("_doc_id_b", "_doc_hex").alias("subj"),
            "pred",
            "obj",
            _hex_unpack("_doc_id_b", "_doc_hex").alias("doc_id"),
            "repo",
            "repo_bucket",
            "lang",
            F.when(F.col("_sha.f"), F.lower(F.hex("_sha.b")))
            .otherwise(F.decode(F.col("_sha.b"), "UTF-8"))
            .alias("content_sha"),
            "conf",
        )
    )
    repo_triples = doc_dim.select(
        F.col("repo").alias("subj"),
        F.lit("contains_file").alias("pred"),
        F.col("doc_id").alias("obj"),
        "doc_id",
        "repo",
        "repo_bucket",
        "lang",
        "content_sha",
        F.lit(1.0).alias("conf"),
        # cluster this branch to the write layout too: doc_dim leaves the
        # groupBy hash-partitioned on doc_id, so each of its tasks holds
        # every (repo_bucket, lang) value and the partitioned write would
        # emit |tasks| x |values| tiny files from this side. One exchange
        # of a |docs|-sized frame (mentions already collapsed map-side).
        # Salted like the doc branch (rows are already unique per doc,
        # so any doc-derived hash keeps correctness; the salt only lifts
        # the bucket x lang parallelism cap).
    ).repartition(
        F.col("repo_bucket"),
        F.col("lang"),
        F.pmod(F.xxhash64("doc_id"), F.lit(write_salt)).cast("int"),
    )
    return doc_triples.unionByName(repo_triples)
