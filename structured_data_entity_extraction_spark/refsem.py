"""Exact pure-Python reproduction of the reference's text-level field
semantics (Oscar-Ulises/structured-data-entity-extraction,
``extractorAvaluos.py``), written from scratch against the observed
behavior. These functions are the *batch kernels* executed inside
Arrow-vectorized pandas UDFs (one call per element of a pandas batch --
never a Spark row-at-a-time Python UDF), and double as the golden
oracle generator for fixtures.

Every function cites the reference location it reproduces. Known quirks
reproduced bug-for-bug (see SURVEY.md §7):

- ``estado``'s keyword list contains the concatenated literal
  ``'CIUDAD DE MÉESTADO DE ME'`` (missing comma, extractorAvaluos.py:268)
  so a bare ``ESTADO DE ME`` never matches as its own keyword;
- ``estado`` keeps the *last* matching keyword (loop overwrite, :273-276)
  and falls back to ``estados_digitos`` via NameError when nothing
  matched (:279-280);
- window ends are clipped by ``len(texto)`` (the *raw* text) while the
  slice is taken on the whitespace-normalized ``parrafo`` (:99-100 etc.)
  -- except ``estado`` which clips by ``len(parrafo)`` (:259);
- ``pre_colonia``/``pre_calle`` return ``''`` when *no* stop pattern is
  found (:642, :741), not the cleaned text;
- money: split at the *last* ``.`` else last ``,`` after the first
  ``$`` (:794-800); ``eliminar_33`` truncates at the last ``33 N…`` /
  ``33 -…`` run (:768-784).

Dictionaries (state prefixes, 2-digit codes, 31 per-state municipality
branches, ~2.5k aliases) are data extracted from the reference by
``tools/extract_dims.py`` into ``data/geo_dims.json``.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from functools import lru_cache

_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "geo_dims.json")

# ---------------------------------------------------------------- dims


@lru_cache(maxsize=1)
def geo_dims() -> dict:
    with open(_DATA, encoding="utf-8") as fh:
        return json.load(fh)


@lru_cache(maxsize=1)
def _compiled_branches():
    """Per-branch: (gate test fn over state string, clave patterns, patrones dict)."""
    out = []
    for br in geo_dims()["municipio_branches"]:
        gates = [
            (re.compile(g["pattern"], re.IGNORECASE), g["negated"], g["op"])
            for g in br["gates"]
        ]

        def make_test(gates):
            def test(state: str) -> bool:
                if any(op == "or" for _, _, op in gates):
                    return any(
                        (rx.search(state) is None) == neg for rx, neg, _ in gates
                    )
                return all((rx.search(state) is None) == neg for rx, neg, _ in gates)

            return test

        clave = [(p, re.compile(p)) for p in br["ciudades_clave"]]
        # one alternation regex per branch: a single scan decides whether
        # the 13-142 per-alias scans are needed at all (hot-path prefilter;
        # most docs hit 0-1 branches out of 31)
        any_alias = re.compile("|".join(f"(?:{p})" for p in br["ciudades_clave"]))
        out.append((make_test(gates), clave, br["patrones_ciudades"], any_alias))
    return out


# ------------------------------------------------------- tiny scalars


def fold_tildes(texto: str) -> str:
    """Uppercase accent folding -- extractorAvaluos.py:78-86 (P1)."""
    for a, b in zip("ÁÉÍÓÚ", "AEIOU"):
        texto = texto.replace(a, b)
    return texto


_WS = re.compile(r"\s+")


def norm_ws(texto: str) -> str:
    """Whitespace collapse used at the head of every field fn (P2)."""
    return _WS.sub(" ", texto)


def _windows(
    parrafo: str,
    clip_len: int,
    anchors: list[str],
    pre: int,
    post: int,
    *,
    ignorecase: bool,
    from_start: bool,
):
    """Keyword-anchored context windows -- the shared skeleton of every
    field extractor (extractorAvaluos.py:96-102 and siblings). Emits
    the windows in reference iteration order: anchors outer, matches
    inner."""
    flags = re.IGNORECASE if ignorecase else 0
    out = []
    for kw in anchors:
        for m in re.finditer(re.escape(kw), parrafo, flags):
            base = m.start() if from_start else m.end()
            lo = max(0, base - pre) if pre else base
            hi = min(clip_len, m.end() + post)
            out.append(parrafo[lo:hi])
    return out


# ------------------------------------------------- presence fields M1/M2

VALIDEZ_ANCHORS = [
    "avalúo comercial",
    "avaluo comercial",
    "valuadora",
    "entidad valuadora",
    "avalúo",
    "avaluo",
]
FIRMA_ANCHORS = ["avalúo digital", "digital", "notario"]


def validez(texto: str) -> str:
    """Presence test -> 'SI'/'NO' -- extractorAvaluos.py:88-110 (M1)."""
    if texto is None:
        return ""
    parrafo = norm_ws(texto)
    hit = any(re.search(re.escape(k), parrafo, re.IGNORECASE) for k in VALIDEZ_ANCHORS)
    return "SI" if hit else "NO"


def opcion_de_firma(texto: str) -> str:
    """Presence test -> firma enum -- extractorAvaluos.py:112-134 (M2)."""
    if texto is None:
        return "NINGUNA"
    parrafo = norm_ws(texto)
    hit = any(re.search(re.escape(k), parrafo, re.IGNORECASE) for k in FIRMA_ANCHORS)
    return "ELECTRÓNICA" if hit else "FÍSICA"


# --------------------------------------------------------- estado (M3)


def pre_estado(input_string: str) -> str:
    """Exact prefix-dict lookup -- extractorAvaluos.py:182-229 (L1)."""
    s = input_string.replace("[", "").replace("]", "").upper()
    hit = geo_dims()["state_prefix_map"].get(s, "")
    return fold_tildes(hit) if hit else ""


def estados_digitos(texto: str) -> str:
    """First 2-digit number -> state-code dict -- :231-249 (L2)."""
    for num in re.findall(r"\d+", texto):
        if len(num) == 2:
            return geo_dims()["state_code_map"].get(num, "")
    return ""


def estado(texto: str) -> str:
    """Keyword scan over 'ENTIDAD FED' windows; LAST match wins;
    no match -> digit-code fallback -- extractorAvaluos.py:251-280 (M3).

    Note the reference clips these windows by ``len(parrafo)`` (:259),
    unlike every other field.
    """
    if texto is None:
        return ""
    parrafo = norm_ws(texto).upper()
    ctxs = [
        parrafo[m.end() : min(len(parrafo), m.end() + 100)]
        for m in re.finditer("ENTIDAD FED", parrafo)
    ]
    ent = " ".join(ctxs)
    selected = None
    for kw in geo_dims()["estado_keywords"]:
        m = re.search(kw, ent)
        if m:
            selected = m.group()
    if selected is None:
        return estados_digitos(ent)
    return pre_estado(selected)


# ----------------------------------------------------- municipio (M4/L3/L4)


def ciudades_regex(parrafo_upper: str, clave, patrones: dict) -> str:
    """Frequency-vote disambiguation over ±10-char alias context windows
    -- extractorAvaluos.py:282-314 (L3). Tie -> first-listed alias."""
    sel = []
    for _pat_str, rx in clave:
        for m in rx.finditer(parrafo_upper):
            lo = max(0, m.start() - 10)
            hi = min(len(parrafo_upper), m.end() + 10)
            sel.append(parrafo_upper[lo:hi])
    joined = "\n\n".join(sel)
    freq = Counter()
    for pat_str, rx in clave:
        freq[pat_str] = len(rx.findall(joined))
    if not freq or all(v == 0 for v in freq.values()):
        return ""
    winner = max(freq, key=freq.get)  # ties keep first-listed (dict order)
    winner = winner.replace("[", "").replace("]", "")
    for patron, ciudad in patrones.items():
        if re.fullmatch(patron, winner, re.IGNORECASE):
            return fold_tildes(ciudad)
    return ""


MUNICIPIO_ANCHORS = ["municipio", "Municipio", "MUNICIPIO", "Alcaldia", "ALCALDIA"]


def pre_municipio(parrafo_municipio: str, estado_republica: str) -> str:
    """State-gated dispatch to the per-state vote -- :316-544 (L4).
    Branch order is load-bearing (e.g. SUR before BAJA, :330,337)."""
    p = re.sub(r"[\r\n]+", " ", norm_ws(parrafo_municipio)).strip().upper()
    if not estado_republica:
        return ""
    for test, clave, patrones, _any in _compiled_branches():
        if test(estado_republica):
            return ciudades_regex(p, clave, patrones)
    return ""


def municipio(texto: str) -> str:
    """Anchor windows [start, end+35] joined, then state-gated vote --
    extractorAvaluos.py:546-568 (M4)."""
    if texto is None:
        return ""
    parrafo = norm_ws(texto)
    wins = _windows(
        parrafo, len(texto), MUNICIPIO_ANCHORS, 0, 35, ignorecase=False, from_start=True
    )
    ciudad = " ".join(wins)
    return pre_municipio(ciudad, estado(texto))


def legibilidad(texto: str) -> str:
    """Derived: municipio found? -- extractorAvaluos.py:136-143 (M9)."""
    return "SI" if municipio(texto) != "" else "NO"


# ------------------------------------------------------- colonia (M5/N1/N2)

_COLONIA_STOPS_2 = ["NOMBRE", "26284", "21", "14", "CP|CERRO DE SAN"]
_COLONIA_STOPS_1 = [r"1\s*\.\s*11\s*\.\s*4", "NOMBRE", "13", "C[OÓ]DIGO", "[OC]P", "11"]
_COLONIA_DROP = [
    (":", ""), (";", ""), ("O FRACC", ""), ('"', ""), ("/", ""), ("/", ""),
    (">", ""), ("<", ""), ("|", ""), (",", ""), ("-", ""), (")", ""), (".", ""),
    ("11", ""), ("13", ""), ("ASENTAMIENTO", ""), ("COLONIA", ""),
    ("SA DE CV", ""), ("#", ""), ("12", ""), ("SECCIORX", ""),
]
COLONIA_ANCHORS = [
    "Asentamiento", "Colonia", "asentamiento", "colonia", "ASENTAMIENTO",
    "COLONIA", "Fracciomaniento", "FRACCIONAMIENTO", "fraccionamiento",
]


def _apply_drops(texto: str, drops) -> str:
    for a, b in drops:
        texto = texto.replace(a, b)
    return texto


def _trim_ws(texto: str) -> str:
    return re.sub(r"^\s+|\s+$", "", norm_ws(texto))


def second_match_colonia(texto: str) -> str:
    """Ordered stop-pattern truncation -- extractorAvaluos.py:570-602 (N1)."""
    for pat in _COLONIA_STOPS_2:
        m = re.search(pat, texto)
        if m:
            return _trim_ws(texto[: m.start()])
    return _trim_ws(texto)


def pre_colonia(texto: str) -> str:
    """Upper -> first stop pattern -> clean -> N1; no stop -> '' --
    extractorAvaluos.py:604-642 (N2)."""
    texto = texto.upper()
    for pat in _COLONIA_STOPS_1:
        m = re.search(pat, texto)
        if m:
            return second_match_colonia(_apply_drops(texto[: m.start()], _COLONIA_DROP))
    return ""


def colonia(texto: str) -> str:
    """First non-empty parsed window over first 7,500 chars --
    extractorAvaluos.py:644-667 (M5)."""
    if texto is None:
        return ""
    parrafo = norm_ws(texto[:7500]).replace("Asentamientos", "")
    wins = _windows(
        parrafo, len(texto), COLONIA_ANCHORS, 0, 100, ignorecase=False, from_start=False
    )
    for w in wins:
        parsed = pre_colonia(w)
        if parsed and parsed.strip():
            return parsed
    return ""


# --------------------------------------------------------- calle (M6/N3/N4)

_CALLE_STOPS_2 = ["TIPO DE VIALIDAD", "TIPO VIALIDAD", "UBICADA", "SUBD", "A FICO", "1 11 2"]
_CALLE_STOPS_1 = [
    r"1\s*\.\s*11\s*\.\s*2",
    r"1 11\.\s*NOM|11\.\s*NOM|11 NOM",
    r"1. NOM|1.1 2|1 11.",
    "NOMBRE",
    r"10. COLO|COLONIA|PODFRACCIONA|FRACCIONA",
]
_CALLE_DROP = [
    ("|", " "), ("AVALÚOS GLISON", " "), ("\\", " "), ('"', " "), ("(", " "),
    (")", ""), (";", " "), (":", " "), ("/", " "), (".", " "), ("DOMICILIO", " "),
]
CALLE_ANCHORS = [
    "y número", "y numero", "domicilio", "casa habitación",
    "y numer", "y nomeio", "y adams", "1.11.1",
]


def second_match_calle(texto: str) -> str:
    """Ordered stop-pattern truncation -- extractorAvaluos.py:669-706 (N3)."""
    for pat in _CALLE_STOPS_2:
        m = re.search(pat, texto)
        if m:
            return _trim_ws(texto[: m.start()])
    return _trim_ws(texto)


def pre_calle(texto: str) -> str:
    """Upper -> first stop pattern -> clean -> N3; no stop -> '' --
    extractorAvaluos.py:708-741 (N4)."""
    texto = texto.upper()
    for pat in _CALLE_STOPS_1:
        m = re.search(pat, texto)
        if m:
            return second_match_calle(_apply_drops(texto[: m.start()], _CALLE_DROP))
    return ""


def calle(texto: str) -> str:
    """First non-empty parsed window; ','->'.' pre-pass; first 7,500 chars
    -- extractorAvaluos.py:743-766 (M6)."""
    if texto is None:
        return ""
    parrafo = norm_ws(texto[:7500]).replace(",", ".")
    wins = _windows(
        parrafo, len(texto), CALLE_ANCHORS, 0, 150, ignorecase=True, from_start=False
    )
    for w in wins:
        parsed = pre_calle(w)
        if parsed and parsed.strip():
            return parsed
    return ""


# ---------------------------------------------------------- fecha (M7/N7/N8)

_MONTH_PATTERNS = [
    (r"e.*o", "01"), (r"f.*e", "02"), (r"m.*zo", "03"), (r"a.*l", "04"),
    (r"m.*y", "05"), (r"jun", "06"), (r"jul", "07"), (r"a.*o", "08"),
    (r"s.*e", "09"), (r"n.*e", "11"), (r"o.*e", "10"), (r"d.*re", "12"),
]
FECHA_ANCHORS = ["fecha del", "del avalúo", "del avaluo", "fecha"]


def second_pre_fecha(texto: str) -> str:
    """Spanish prose date -> ISO -- extractorAvaluos.py:816-850 (N8)."""
    texto = texto.replace("de", " ")
    if re.search(r"\d", texto):
        texto = re.search(r"\d.*", texto).group()
    m_year = re.search(r"\b(\d{4})\b", texto)
    if not m_year:
        return ""
    year = m_year.group(1)
    texto = texto[: m_year.start()]
    month = None
    for pat, num in _MONTH_PATTERNS:
        if re.search(pat, texto, re.IGNORECASE):
            month = num
            break
    if not month:
        return ""
    m_day = re.search(r"\b(\d{2})\b", texto)
    if not m_day:
        return ""
    return f"{year}-{month}-{m_day.group(1)}"


def pre_fecha(texto: str) -> str:
    """dd/mm/yyyy -> yyyy-mm-dd with zero-pad + separator fold; prose
    fallback -- extractorAvaluos.py:852-867 (N7)."""
    texto = re.sub(r"\b(\d{1})\b", r"0\1", texto).replace("-", "/").replace(".", "/")
    hits = re.findall(r"\b\d{2}[/\-]\d{2}[/\-]\d{4}\b", texto)
    if not hits:
        return second_pre_fecha(texto)
    dia, mes, year = hits[0].split("/")
    return f"{year}-{mes}-{dia}"


def fecha(texto: str) -> str:
    """First non-empty parsed date window -- extractorAvaluos.py:870-896
    (M7; the whole-text re-parse at :891-892 is dead code, not kept)."""
    if texto is None:
        return ""
    parrafo = norm_ws(texto).replace(",", ".")
    wins = _windows(
        parrafo, len(texto), FECHA_ANCHORS, 0, 75, ignorecase=True, from_start=False
    )
    for w in wins:
        parsed = pre_fecha(w)
        if parsed and parsed.strip():
            return parsed
    return ""


# ---------------------------------------------------------- valor (M8/N5/N6)

VALOR_ANCHORS = ["valor concluido", "Valor Concluido", "VALOR CONCLUIDO"]


def eliminar_33(text: str) -> str:
    """Truncate at the LAST '33 N…' run, else last '33 -…' run --
    extractorAvaluos.py:768-784 (N6)."""
    for pat in (r"33[\s.,]*N.*", r"33[\s.,]*-.*"):
        matches = list(re.finditer(pat, text))
        if matches:
            return text[: matches[-1].start()]
    return text


def extract_characters(text: str) -> str:
    """Money parse: after first '$', split at last '.' else last ',',
    keep int digits + first 2 decimal digits -- :786-814 (N5)."""
    text = eliminar_33(text)
    m = re.search(r"\$(.*)", text)
    if not m:
        return ""
    after = m.group(1)
    if "." in after:
        idx = after.rfind(".")
    elif "," in after:
        idx = after.rfind(",")
    else:
        idx = -1
    if idx == -1:
        return "".join(re.findall(r"\d+", after))
    p1 = "".join(re.findall(r"\d+", after[:idx]))
    p2 = "".join(re.findall(r"\d+", after[idx + 1 :]))[:2]
    return f"{p1}.{p2}" if p1 and p2 else p1 or p2


def valor(texto: str):
    """First parsable money window after 'valor concluido' (skipping
    'Geo'-contaminated windows) + found flag -- :898-931 (M8)."""
    if texto is None:
        return "", "NO"
    parrafo = norm_ws(texto).replace("|", "").replace("!", "").replace("]", "")
    wins = _windows(
        parrafo, len(texto), VALOR_ANCHORS, 0, 25, ignorecase=False, from_start=True
    )
    boleano = "NO"
    precios = []
    for w in wins:
        if "Geo" in w:
            continue
        parsed = extract_characters(w)
        if parsed:
            precios.append(parsed)
            boleano = "SI"
    if not precios:
        return "", "NO"
    return precios[0], boleano


# ----------------------------------------------- KG-stage feature kernels
#
# The distributed pipeline (SURVEY.md §3 "new-engine lifecycle") splits
# extraction into per-doc FEATURES (computed here, inside one Arrow
# batch pass) and LINKING (broadcast dim joins + an array argmax vote,
# done in DataFrame ops). These kernels emit exactly the features the
# link stage needs, preserving reference semantics bit-for-bit.


def estado_features(texto: str) -> tuple[int, str]:
    """(max matching keyword rank | -1, first 2-digit code | '') over the
    joined 'ENTIDAD FED' windows -- the loop-overwrite in
    extractorAvaluos.py:273-276 means the LAST keyword in list order
    that matches anywhere wins, i.e. the max rank."""
    if texto is None:
        return -1, ""
    parrafo = norm_ws(texto).upper()
    ctxs = [
        parrafo[m.end() : min(len(parrafo), m.end() + 100)]
        for m in re.finditer("ENTIDAD FED", parrafo)
    ]
    ent = " ".join(ctxs)
    max_rank = -1
    for rank, kw in enumerate(geo_dims()["estado_keywords"]):
        if re.search(kw, ent):
            max_rank = rank
    digit = ""
    for num in re.findall(r"\d+", ent):
        if len(num) == 2:
            digit = num
            break
    return max_rank, digit


def muni_windows_text(texto: str) -> str:
    """The normalized municipality-anchor window string fed to the vote
    (extractorAvaluos.py:548-563 + :318)."""
    if texto is None:
        return ""
    parrafo = norm_ws(texto)
    wins = _windows(
        parrafo, len(texto), MUNICIPIO_ANCHORS, 0, 35, ignorecase=False, from_start=True
    )
    joined = " ".join(wins)
    return re.sub(r"[\r\n]+", " ", norm_ws(joined)).strip().upper()


def muni_vote_counts(texto: str) -> list[tuple[int, int, int]]:
    """Exact ciudades_regex vote counts per (branch_id, alias_rank):
    ±10-char context windows around every alias hit in a branch are
    concatenated and each alias re-counted over the concatenation
    (extractorAvaluos.py:287-300). Only nonzero counts are emitted --
    the argmax/tiebreak happens DataFrame-side (L3/A2)."""
    p = muni_windows_text(texto)
    if not p:
        return []
    out = []
    for bid, (_test, clave, _patrones, any_alias) in enumerate(_compiled_branches()):
        if not any_alias.search(p):
            continue
        sel = []
        hit = False
        for _pat, rx in clave:
            for m in rx.finditer(p):
                hit = True
                lo = max(0, m.start() - 10)
                hi = min(len(p), m.end() + 10)
                sel.append(p[lo:hi])
        if not hit:
            continue
        joined = "\n\n".join(sel)
        for rank, (_pat, rx) in enumerate(clave):
            cnt = len(rx.findall(joined))
            if cnt:
                out.append((bid, rank, cnt))
    return out


@lru_cache(maxsize=1)
def estado_rank_dim() -> list[tuple[int, str]]:
    """rank -> canonical state as pre_estado resolves each keyword
    (the concatenated-literal quirk entry resolves to '')."""
    return [(i, pre_estado(kw)) for i, kw in enumerate(geo_dims()["estado_keywords"])]


@lru_cache(maxsize=1)
def state_branch_dim() -> list[tuple[str, int]]:
    """canonical-state string -> first gating branch_id (L4 branch order
    is load-bearing). Domain: every string `estado` can emit."""
    states = set()
    for v in geo_dims()["state_prefix_map"].values():
        states.add(fold_tildes(v))
    states.update(geo_dims()["state_code_map"].values())
    out = []
    for st in sorted(states):
        for bid, (test, _c, _p, _a) in enumerate(_compiled_branches()):
            if test(st):
                out.append((st, bid))
                break
    return out


@lru_cache(maxsize=1)
def muni_alias_dim() -> list[tuple[int, int, str]]:
    """(branch_id, alias_rank, canonical_folded) -- the winner->canonical
    resolution of ciudades_regex:305-310 precomputed per alias."""
    out = []
    for bid, br in enumerate(geo_dims()["municipio_branches"]):
        patrones = br["patrones_ciudades"]
        for rank, alias in enumerate(br["ciudades_clave"]):
            stripped = alias.replace("[", "").replace("]", "")
            canonical = ""
            for patron, ciudad in patrones.items():
                if re.fullmatch(patron, stripped, re.IGNORECASE):
                    canonical = fold_tildes(ciudad)
                    break
            out.append((bid, rank, canonical))
    return out


# -------------------------------------------------------- record (T1)

RECORD_FIELDS = [
    "validez_del_formato", "opcion_de_firma", "legibilidad",
    "codigo_de_barras", "boolean_codigo_de_barras", "CB_Nomenclatura_Completez",
    "estado", "municipio", "colonia", "calle", "fecha", "avaluo", "boolean_avaluo",
]


def extract_record(texto: str) -> dict:
    """The 13-field record -- extractorAvaluos.py:933-956 (T1). Barcode
    acquisition is binary/OCR-bound and out of scope (SURVEY §2.1 S3/S4):
    those fields are fixed '' / 'NO' / 'NO'. The estado->municipio chain
    is computed ONCE and reused (the reference recomputes it 3x,
    :137-143,944,948-949 -- an inefficiency we do not port)."""
    muni = municipio(texto)
    avaluo, bool_avaluo = valor(texto)
    return {
        "validez_del_formato": validez(texto),
        "opcion_de_firma": opcion_de_firma(texto),
        "legibilidad": "SI" if muni != "" else "NO",
        "codigo_de_barras": "",
        "boolean_codigo_de_barras": "NO",
        "CB_Nomenclatura_Completez": "NO",
        "estado": estado(texto),
        "municipio": muni,
        "colonia": colonia(texto),
        "calle": calle(texto),
        "fecha": fecha(texto),
        "avaluo": avaluo,
        "boolean_avaluo": bool_avaluo,
    }
