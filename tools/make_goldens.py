"""Materialize golden parquet fixtures that let the driver's DuckDB
oracle hash-check the two flagship KG queries (VERDICT.md next-round #1).

- ``avaluo_triples.parquet`` -- the EXACT expected output of
  ``q_avaluo_triples`` (avaluo_docs(200, seed=42) -> 13 triples/doc),
  derived by executing the ACTUAL reference field functions
  (extractorAvaluos.py, loaded via tests/ref_loader.py) per document.
  Independent of every Spark code path.

- ``codekg_triples.parquet`` -- the expected output of
  ``q_codekg_triples`` (repos_src_rows(400, seed=42)),
  computed by a pure-Python single-process twin of the pipeline:
  Python ``re`` extraction over codekg's pattern tables (``extract_code``,
  the independent twin of the engine's JVM regex projection), dict
  linking / native-MinHash-LSH fuzzy linking / union-find
  canonicalization / dedup re-implemented without Spark, so the fixture
  validates extraction + join + LSH + CC + dedup end to end.

Run from the repo root (needs /root/reference present):
    python tools/make_goldens.py

The fixtures are committed; the oracle SQL reads them with DuckDB's
``read_parquet`` at check time (no reference needed then).
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from structured_data_entity_extraction_spark import codekg  # noqa: E402
from structured_data_entity_extraction_spark.fixtures import avaluo_docs, repos_src_rows  # noqa: E402
from structured_data_entity_extraction_spark.schemas import RECORD_FIELDS  # noqa: E402

GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "structured_data_entity_extraction_spark", "data", "golden",
)

TRIPLE_SCHEMA = pa.schema(
    [
        ("subj", pa.string()),
        ("pred", pa.string()),
        ("obj", pa.string()),
        ("doc_id", pa.string()),
        ("repo", pa.string()),
        ("lang", pa.string()),
        ("content_sha", pa.string()),
        ("conf", pa.float64()),
    ]
)


def _sha(s: str) -> str:
    return hashlib.sha256((s or "").encode("utf-8")).hexdigest()


def _write(rows: list[dict], name: str) -> None:
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    cols = {f: [r[f] for r in rows] for f in TRIPLE_SCHEMA.names}
    table = pa.Table.from_pydict(cols, schema=TRIPLE_SCHEMA)
    path = os.path.join(GOLDEN_DIR, name)
    pq.write_table(table, path, compression="zstd")
    print(f"wrote {path}: {len(rows)} rows")


# ----------------------------------------------------------- avaluo golden


def make_avaluo_golden() -> None:
    from tests.ref_loader import load_reference

    ref = load_reference()
    if ref is None:
        raise SystemExit("reference repo not present; cannot build avaluo golden")
    rows = []
    for r in avaluo_docs(200, seed=42):
        t = r["text"]
        avaluo, bool_avaluo = ref["valor"](t)
        rec = {
            "validez_del_formato": ref["validez"](t),
            "opcion_de_firma": ref["opcion_de_firma"](t),
            "legibilidad": ref["legibilidad"](t),
            "codigo_de_barras": "",
            "boolean_codigo_de_barras": "NO",
            "CB_Nomenclatura_Completez": "NO",
            "estado": ref["estado"](t),
            "municipio": ref["municipio"](t),
            "colonia": ref["colonia"](t),
            "calle": ref["calle"](t),
            "fecha": ref["fecha"](t),
            "avaluo": avaluo,
            "boolean_avaluo": bool_avaluo,
        }
        assert set(rec) == set(RECORD_FIELDS)
        sha = _sha(t)
        for pred in RECORD_FIELDS:
            rows.append(
                {
                    "subj": r["doc_id"],
                    "pred": pred,
                    "obj": rec[pred],
                    "doc_id": r["doc_id"],
                    "repo": None,
                    "lang": None,
                    "content_sha": sha,
                    "conf": 1.0,
                }
            )
    _write(rows, "avaluo_triples.parquet")


# ----------------------------------------------------------- codekg golden

_PRED = {
    "import": "imports",
    "def": "declares_function",
    "class": "declares_class",
    "config": "has_config_key",
    "shebang": "has_shebang",
    "encoding": "has_encoding",
}


def extract_code(content: str | None, lang: str | None) -> list[tuple[str, str]]:
    """Pure-Python twin of codekg.extract_code_mentions for one blob:
    (field, value) mentions from Python ``re`` (Unicode \\w \\s \\b,
    re.MULTILINE) over the same pattern tables the engine pins for the
    JVM."""
    if not content:
        return []
    out = []
    for field, table in (
        ("import", codekg._IMPORT_PATTERNS),
        ("def", codekg._DEF_PATTERNS),
        ("class", codekg._CLASS_PATTERNS),
        ("config", codekg._CONFIG_PATTERNS),
    ):
        for rx in table.get(lang, []):
            out += [(field, v) for v in re.findall(rx, content, re.MULTILINE)]
    m = re.match(r"#!([^\n]+)", content)
    if m:
        out.append(("shebang", m.group(1).strip()))
    m = re.search(codekg._ENCODING_PATTERN, content, re.MULTILINE)
    if m:
        out.append(("encoding", m.group(1)))
    # distinct identifiers, first-occurrence order, bounded
    idents = dict.fromkeys(re.findall(codekg._IDENT_PATTERN, content))
    out += [("ident", v) for v in idents if v not in codekg._KEYWORDS][: codekg._MAX_IDENTS]
    return out


def _lsh_best_match(
    miss_values: set[str], dim_rows: list[tuple[str, str]]
) -> dict[str, tuple[str, float]]:
    """Pure-Python twin of codekg.lsh_alias_map: md5 minhash signatures
    (r=1 banding: candidate iff ANY of the codekg.LSH_HASHES minhashes
    agrees), exact char-3-gram-SET jaccard rerank >= codekg.LSH_THRESHOLD,
    best per value with (jaccard desc, canonical asc, alias asc)
    tiebreak. Bit-identical to the Spark path: same md5-on-utf8 hashing,
    same int/int IEEE division."""

    def grams(s: str) -> list[str]:
        return codekg._char_ngrams(s)

    def sig(gs: list[str]) -> list[str]:
        return [
            min(
                hashlib.md5(f"{i}:{g}".encode()).hexdigest()[:16] for g in gs
            )
            for i in range(codekg.LSH_HASHES)
        ]

    dim = [(a, c, set(grams(a)), sig(grams(a))) for a, c in dim_rows]
    best: dict[str, tuple[str, float]] = {}
    for v in miss_values:
        vg = grams(v)
        vset, vsig = set(vg), sig(vg)
        cands = []
        for alias, canonical, aset, asig in dim:
            if not any(vsig[i] == asig[i] for i in range(codekg.LSH_HASHES)):
                continue  # no band collision -> never a candidate
            jac = len(vset & aset) / len(vset | aset)
            if jac >= codekg.LSH_THRESHOLD:
                cands.append((-jac, canonical, alias))
        if cands:
            neg_jac, canonical, _alias = min(cands)
            best[v] = (canonical, -neg_jac)
    return best


def make_codekg_golden() -> None:
    """Twin of q_codekg_triples: dict linking + native-MinHash-LSH
    fuzzy linking + union-find canonicalization + (doc, pred, obj)
    max-conf dedup, all without Spark."""
    src = repos_src_rows(400, seed=42)
    dim_rows = codekg.default_code_alias_rows()
    alias_map = dict(dim_rows)

    # pass 1: extract all mentions, collect the LSH input = distinct
    # import-field values missing from the dict with len >= 2
    extracted = []
    miss_values: set[str] = set()
    for r in src:
        mentions = extract_code(r["content"], r["lang"])
        extracted.append((r, mentions))
        for field, v in mentions:
            if field == "import" and v not in alias_map and len(v) >= 2:
                miss_values.add(v)
    lsh_best = _lsh_best_match(miss_values, dim_rows)

    # union-find over dim edges + lsh edges (value -> matched canonical);
    # mirrors canonicalize(): candidates with canonical NOT NULL are
    # exactly dict hits (alias->canonical, already dim edges) + lsh hits
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, c in list(dim_rows) + [(v, c) for v, (c, _j) in lsh_best.items()]:
        ra, rc = find(a), find(c)
        if ra != rc:
            parent[max(ra, rc)] = min(ra, rc)
    # canonical per component: min dim canonical present, else component id
    comp_canon: dict = {}
    for _, c in dim_rows:
        root = find(c)
        comp_canon[root] = min(comp_canon.get(root, c), c)
    node_canonical = {n: comp_canon.get(find(n), find(n)) for n in parent}

    triples: dict = {}  # (doc_id, pred, obj) -> row (max conf)
    repo_rows: dict = {}  # doc_id -> row
    for r, mentions in extracted:
        doc_id = _sha2_concat(r["repo"], r["path"], r["commit"])
        content_sha = _sha(r["content"])
        if not mentions:
            continue  # explode drops zero-mention docs
        seen_mention = set()
        for field, v in mentions:
            key = (doc_id, field, v)
            if key in seen_mention:
                continue  # dropDuplicates(doc_id, field, value)
            seen_mention.add(key)
            obj = node_canonical.get(v, v)
            # conf mirrors coalesce(score, lsh_score, 1.0): the lsh map
            # rejoins on VALUE alone, so ident mentions sharing a fuzzy-
            # matched surface form also carry the lsh score
            if v in alias_map:
                conf = 1.0
            elif v in lsh_best:
                conf = lsh_best[v][1]
            else:
                conf = 1.0
            pred = _PRED.get(field, "mentions_identifier")
            tkey = (doc_id, pred, obj)
            row = {
                "subj": doc_id,
                "pred": pred,
                "obj": obj,
                "doc_id": doc_id,
                "repo": r["repo"],
                "lang": r["lang"],
                "content_sha": content_sha,
                "conf": conf,
            }
            if tkey not in triples or conf > triples[tkey]["conf"]:
                triples[tkey] = row
        repo_rows[doc_id] = {
            "subj": r["repo"],
            "pred": "contains_file",
            "obj": doc_id,
            "doc_id": doc_id,
            "repo": r["repo"],
            "lang": r["lang"],
            "content_sha": content_sha,
            "conf": 1.0,
        }
    _write(list(triples.values()) + list(repo_rows.values()), "codekg_triples.parquet")


def _sha2_concat(*parts: str) -> str:
    return hashlib.sha256("\x00".join(parts).encode("utf-8")).hexdigest()


# ------------------------------------------------- sf0.01-input goldens
#
# simhash_pairs / ann_lsh_topk read the driver's sf0.01 tables; their
# goldens are computed here by pure-Python twins (brute force for
# simhash -- the 4x16-bit banding is EXACT for hamming<=3, so brute
# force equals the banded result and validates the banding; sequential
# IEEE-754 left-fold arithmetic for the cosine/sign-LSH twin, matching
# Spark's aggregate() evaluation order bit for bit).

SF001 = "/root/testdata/sf0.01"


def _round_half_up(x: float, digits: int) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


# simhash_pairs' golden twin was retired in r3: md5 hex prefixes, the
# per-bit +-1 sums and the 16-bit banding are all DuckDB-expressible,
# so the oracle is now pure SQL (__spark_entry__._simhash_pairs_sql).


def _dot_seq(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _cos_seq(a: list[float], b: list[float]) -> float:
    import math

    dot = _dot_seq(a, b)
    na = math.sqrt(_dot_seq(a, a))
    nb = math.sqrt(_dot_seq(b, b))
    return dot / (na * nb) if na > 0 and nb > 0 else 0.0


def make_ann_lsh_golden(k: int = 10, n_planes: int = 6) -> None:
    from structured_data_entity_extraction_spark.ops.similarity import _planes

    emb = pq.read_table(os.path.join(SF001, "embeddings.parquet")).to_pylist()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb}
    planes = _planes(64, n_planes, seed=42)

    def bucket(v):
        sig = 0
        for i, p in enumerate(planes):
            if _dot_seq(v, p) >= 0:
                sig += 1 << i
        return sig

    buckets = {vid: bucket(v) for vid, v in vecs.items()}
    rows = []
    for qid in sorted(vecs):
        if qid >= 3:
            continue
        probes = {buckets[qid]} | {buckets[qid] ^ (1 << i) for i in range(n_planes)}
        cands = [
            (vid, _cos_seq(vecs[qid], vecs[vid]))
            for vid in sorted(vecs)
            if vid != qid and buckets[vid] in probes
        ]
        cands.sort(key=lambda t: (-t[1], t[0]))
        for rank, (vid, cos) in enumerate(cands[:k], start=1):
            rows.append(
                {"query_id": qid, "rank": rank, "vec_id": vid,
                 "cos_r": _round_half_up(cos, 4)}
            )
    schema = pa.schema(
        [("query_id", pa.int64()), ("rank", pa.int32()),
         ("vec_id", pa.int64()), ("cos_r", pa.float64())]
    )
    table = pa.Table.from_pydict(
        {k_: [r[k_] for r in rows] for k_ in schema.names}, schema=schema
    )
    pq.write_table(table, os.path.join(GOLDEN_DIR, "ann_lsh_topk.parquet"), compression="zstd")
    print(f"wrote ann_lsh_topk.parquet: {len(rows)} rows")


def make_ivf_golden(k: int = 10, n_centroids: int = 16, n_probe: int = 4) -> None:
    """Sequential-arithmetic twin of similarity.ivf_topk over the sf0.01
    embeddings (queries = vec_id < 3). Mirrors Spark's array_sort on
    (neg_cos, cell) structs: ascending tuple order."""
    emb = sorted(
        pq.read_table(os.path.join(SF001, "embeddings.parquet")).to_pylist(),
        key=lambda r: r["vec_id"],
    )
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb}
    cents = [(i, vecs[r["vec_id"]]) for i, r in enumerate(emb[:n_centroids])]

    def cells(v, n):
        scored = sorted(((-_cos_seq(v, cv), ci) for ci, cv in cents))
        return [ci for _, ci in scored[:n]]

    cell_of = {vid: cells(v, 1)[0] for vid, v in vecs.items()}
    rows = []
    for qid in sorted(vecs):
        if qid >= 3:
            continue
        probes = set(cells(vecs[qid], n_probe))
        cands = [
            (vid, _cos_seq(vecs[qid], vecs[vid]))
            for vid in sorted(vecs)
            if vid != qid and cell_of[vid] in probes
        ]
        cands.sort(key=lambda t: (-t[1], t[0]))
        for rank, (vid, cos) in enumerate(cands[:k], start=1):
            rows.append(
                {"query_id": qid, "rank": rank, "vec_id": vid,
                 "cos_r": _round_half_up(cos, 4)}
            )
    schema = pa.schema(
        [("query_id", pa.int64()), ("rank", pa.int32()),
         ("vec_id", pa.int64()), ("cos_r", pa.float64())]
    )
    table = pa.Table.from_pydict(
        {k_: [r[k_] for r in rows] for k_ in schema.names}, schema=schema
    )
    pq.write_table(table, os.path.join(GOLDEN_DIR, "ann_ivf_topk.parquet"), compression="zstd")
    print(f"wrote ann_ivf_topk.parquet: {len(rows)} rows")


def make_multimodal_golden(n: int = 30) -> None:
    """Expected decoded-metadata frame for q_multimodal_features:
    regenerates the seeded assets without Spark and decodes them with
    the pure-stdlib codecs (real PNG/WAV parse) -- pins the mapInPandas
    plumbing AND the decode results."""
    from structured_data_entity_extraction_spark.ops.modal_codecs import (
        decode_png,
        decode_wav,
        decode_y4m,
    )
    from structured_data_entity_extraction_spark.ops.multimodal import (
        synthetic_asset_rows,
    )

    rows = []
    for asset_id, kind, data, *_ in synthetic_asset_rows(n, seed=42):
        r = {
            "asset_id": asset_id, "kind": kind, "n_bytes": len(data),
            "dec_width": None, "dec_height": None, "dec_sample_rate": None,
            "decode_error": None,
        }
        if kind == "image":
            img = decode_png(data)
            r["dec_width"], r["dec_height"] = img["width"], img["height"]
        elif kind == "audio":
            r["dec_sample_rate"] = decode_wav(data)["sample_rate"]
        elif kind == "video":
            vid = decode_y4m(data)
            r["dec_width"], r["dec_height"] = vid["width"], vid["height"]
        rows.append(r)
    schema = pa.schema(
        [
            ("asset_id", pa.string()), ("kind", pa.string()), ("n_bytes", pa.int32()),
            ("dec_width", pa.int32()), ("dec_height", pa.int32()),
            ("dec_sample_rate", pa.int32()), ("decode_error", pa.string()),
        ]
    )
    table = pa.Table.from_pydict(
        {k: [r[k] for r in rows] for k in schema.names}, schema=schema
    )
    pq.write_table(
        table, os.path.join(GOLDEN_DIR, "multimodal_features.parquet"), compression="zstd"
    )
    print(f"wrote multimodal_features.parquet: {len(rows)} rows")


def make_repos_fixture() -> None:
    """The SHARED INPUT of the codekg_triples SQL oracle (r4): the
    repos_src_rows(400, seed=42) corpus as parquet, read by both the
    Spark query and the DuckDB oracle. Parity with the generator is
    pytest-gated (test_repos_fixture_parquet_matches_generator)."""
    from structured_data_entity_extraction_spark.fixtures import repos_src_rows

    fix_dir = os.path.join(
        os.path.dirname(GOLDEN_DIR), "fixtures"
    )
    os.makedirs(fix_dir, exist_ok=True)
    rows = repos_src_rows(400, seed=42)
    table = pa.Table.from_pydict(
        {c: [r[c] for r in rows] for c in ("repo", "path", "commit", "lang", "content")}
    )
    path = os.path.join(fix_dir, "repos_src_400.parquet")
    pq.write_table(table, path)
    print(f"wrote {path}: {len(rows)} rows")


if __name__ == "__main__":
    make_repos_fixture()
    make_avaluo_golden()
    make_codekg_golden()
    make_ann_lsh_golden()
    make_ivf_golden()
    make_multimodal_golden()
