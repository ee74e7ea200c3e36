"""Deterministic, seed-pinned fixture generators (FIXTURES.md §1-2).

Two synthetic corpora, no external data:

- ``avaluo_docs(n)`` -- OCR-style Spanish appraisal texts with PLANTED
  field values exercising every extraction path of the reference
  (anchors, accent variants, vote ties, stop-pattern noise, money and
  date formats, 'Geo' exclusion, 7,500-char truncation, edge rows);
- ``repos_src_rows(n)`` -- the north-rule input table
  ``(repo, path, commit, lang, content)`` with Zipf-skewed repo sizes
  (one mega-repo to exercise salting/AQE skew) and planted code
  mentions (imports, function/class declarations, config key-values)
  recorded so recall is checkable.

Everything is derived from ``random.Random(seed)`` -- same seed, same
bytes, any machine.
"""

from __future__ import annotations

import hashlib
import random

from .refsem import geo_dims

# --------------------------------------------------------------- avaluo


_MONEY = ["$1,234,567.89", "$950,000.00", "$12 345 678.50", "$4,500,000", "$780.000,25"]
_DATES_NUM = ["05/03/2021", "5/3/2021", "12-11-2019", "01.02.2023", "28/02/2020"]
_DATES_PROSE = [
    "12 de marzo de 2021",
    "05 de enero de 2019",
    "17 de diciembre de 2022",
    "23 de agosto de 2020",
]
_COLONIA_NAMES = ["LAS FLORES", "CENTRO", "DEL VALLE", "JARDINES DEL SOL", "LOMAS VERDES"]
_CALLE_NAMES = [
    "AV INSURGENTES SUR 450",
    "CALLE REFORMA 12",
    "BLVD HIDALGO 88",
    "PRIV DE LOS PINOS 7",
]
_FILLER = (
    "El presente documento describe las características del inmueble "
    "objeto de estudio incluyendo superficie construcción antigüedad "
    "y elementos de infraestructura urbana disponibles en la zona. "
)


def avaluo_docs(n: int = 200, seed: int = 42, content_scale: int = 1) -> list[dict]:
    """Rows: (doc_id, text). Golden values are NOT stored here -- tests
    derive them by running the reference (or refsem) on `text`."""
    rng = random.Random(seed)
    dims = geo_dims()
    branches = dims["municipio_branches"]
    prefixes = list(dims["state_prefix_map"].items())
    rows = []
    for i in range(n):
        parts = []
        kind = i % 10
        # header / validez anchor (70% present)
        if rng.random() < 0.7:
            parts.append("AVALÚO COMERCIAL folio %d" % rng.randint(1000, 9999))
        if rng.random() < 0.4:
            parts.append("firmado ante notario con certificado digital")
        parts.append(_FILLER * (rng.randint(1, 3) * content_scale))
        # estado + municipio (planted via branch dims)
        if kind != 9:  # kind 9 = no-geo doc
            prefix, canonical = prefixes[rng.randrange(len(prefixes))]
            parts.append(f"ENTIDAD FEDERATIVA {prefix} clave {rng.randint(10, 99)}")
            # find the branch this canonical state gates into, pick an alias
            from .refsem import pre_municipio  # avoid cycle at import time

            for br in branches:
                import re as _re

                gates_ok = None
                ors = [g for g in br["gates"] if g["op"] == "or"]
                if ors:
                    gates_ok = any(
                        (_re.search(g["pattern"], canonical, _re.IGNORECASE) is None)
                        == g["negated"]
                        for g in br["gates"]
                    )
                else:
                    gates_ok = all(
                        (_re.search(g["pattern"], canonical, _re.IGNORECASE) is None)
                        == g["negated"]
                        for g in br["gates"]
                    )
                if gates_ok:
                    aliases = br["ciudades_clave"]
                    alias = aliases[rng.randrange(len(aliases))]
                    # strip regex char-classes to a concrete accent variant
                    concrete = _concretize(alias, rng)
                    parts.append(f"Municipio {concrete} zona urbana")
                    if rng.random() < 0.3:  # vote reinforcement
                        parts.append(f"MUNICIPIO {concrete} región centro")
                    break
        # colonia
        if kind not in (8, 9):
            name = _COLONIA_NAMES[rng.randrange(len(_COLONIA_NAMES))]
            parts.append(f"Colonia {name} CP {rng.randint(10000, 99999)}")
        # calle
        if kind not in (7, 9):
            street = _CALLE_NAMES[rng.randrange(len(_CALLE_NAMES))]
            parts.append(f"domicilio {street} TIPO DE VIALIDAD avenida")
        # fecha
        if kind not in (6, 9):
            if rng.random() < 0.6:
                d = _DATES_NUM[rng.randrange(len(_DATES_NUM))]
            else:
                d = _DATES_PROSE[rng.randrange(len(_DATES_PROSE))]
            parts.append(f"fecha del avalúo {d}")
        # valor (+ occasional Geo contamination and 33-N noise)
        if kind not in (5, 9):
            money = _MONEY[rng.randrange(len(_MONEY))]
            if rng.random() < 0.15:
                parts.append("VALOR CONCLUIDO Geo $999,999.99")
            parts.append(f"VALOR CONCLUIDO {money}")
            if rng.random() < 0.2:
                parts.append("33 N notas del perito")
        # edge rows
        if kind == 4:
            parts.insert(0, _FILLER * 40)  # push some anchors past 7500 chars
        text = "  ".join(parts)
        if i == 0:
            text = ""  # empty-text edge row
        rows.append({"doc_id": f"doc{i:05d}", "text": text})
    return rows


def _concretize(alias_pattern: str, rng: random.Random) -> str:
    """Turn an alias regex like 'COS[IÍ]O' into a concrete string by
    picking one char from each class."""
    out = []
    i = 0
    while i < len(alias_pattern):
        c = alias_pattern[i]
        if c == "[":
            j = alias_pattern.index("]", i)
            choices = alias_pattern[i + 1 : j]
            out.append(choices[rng.randrange(len(choices))])
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


# ------------------------------------------------------------ repos_src

_LANGS = ["python", "javascript", "rust", "go", "yaml", "ini"]

# pools include NEAR-MISS surface forms (pandas2, reactjs, tokios,
# net/https) that are absent from the alias dim but within char-3-gram
# jaccard >= 0.5 of a dim alias -- they exercise the MinHash-LSH fuzzy
# link stage (L6) end to end; genuinely-unknown modules (express, clap,
# ...) stay unlinked
_PY_MODULES = ["os", "sys", "json", "numpy", "pandas", "re", "math", "collections", "pandas2"]
_JS_MODULES = ["react", "lodash", "express", "axios", "fs", "path", "reactjs"]
_RS_CRATES = ["serde", "tokio", "rand", "regex", "clap", "tokios"]
_GO_PKGS = ["fmt", "strings", "net/http", "encoding/json", "os", "net/https"]
_IDENT_POOL = [
    "parse_config", "load_data", "run_pipeline", "Handler", "Worker",
    "compute_hash", "merge_results", "Settings", "Router", "validate",
]


def _content_for(lang: str, rng: random.Random, content_scale: int = 1) -> tuple[str, list[tuple[str, str]]]:
    """Return (content, planted [(field, value), ...])."""
    planted = []
    lines = []
    if lang == "python":
        for _ in range(rng.randint(1, 4)):
            m = _PY_MODULES[rng.randrange(len(_PY_MODULES))]
            if rng.random() < 0.5:
                lines.append(f"import {m}")
            else:
                lines.append(f"from {m} import thing")
            planted.append(("import", m))
        for _ in range(rng.randint(1, 3)):
            name = _IDENT_POOL[rng.randrange(len(_IDENT_POOL))]
            if rng.random() < 0.6:
                lines.append(f"def {name}(x):\n    return x")
                planted.append(("def", name))
            else:
                lines.append(f"class {name}:\n    pass")
                planted.append(("class", name))
    elif lang == "javascript":
        for _ in range(rng.randint(1, 3)):
            m = _JS_MODULES[rng.randrange(len(_JS_MODULES))]
            lines.append(f"const x = require('{m}');")
            planted.append(("import", m))
        name = _IDENT_POOL[rng.randrange(len(_IDENT_POOL))]
        lines.append(f"function {name}(a) {{ return a; }}")
        planted.append(("def", name))
    elif lang == "rust":
        for _ in range(rng.randint(1, 3)):
            c = _RS_CRATES[rng.randrange(len(_RS_CRATES))]
            lines.append(f"use {c};")
            planted.append(("import", c))
        name = _IDENT_POOL[rng.randrange(len(_IDENT_POOL))]
        lines.append(f"fn {name}() {{}}")
        planted.append(("def", name))
    elif lang == "go":
        for _ in range(rng.randint(1, 3)):
            p = _GO_PKGS[rng.randrange(len(_GO_PKGS))]
            lines.append(f'import "{p}"')
            planted.append(("import", p))
        name = _IDENT_POOL[rng.randrange(len(_IDENT_POOL))]
        lines.append(f"func {name}() {{}}")
        planted.append(("def", name))
    else:  # yaml / ini config
        for _ in range(rng.randint(2, 5)):
            k = _IDENT_POOL[rng.randrange(len(_IDENT_POOL))].lower()
            v = rng.randint(0, 100)
            if lang == "yaml":
                lines.append(f"{k}: {v}")
            else:
                lines.append(f"{k} = {v}")
            planted.append(("config", k))
    # comment filler so content sizes vary (content_scale approximates
    # realistic file sizes: 1 -> ~300 B, 10 -> ~3 KB)
    for _ in range(content_scale):
        lines.append("# " + " ".join("tok%d" % rng.randint(0, 50) for _ in range(rng.randint(0, 30))))
    return "\n".join(lines), planted


_EXT = {"python": "py", "javascript": "js", "rust": "rs", "go": "go", "yaml": "yaml", "ini": "ini"}


def repos_src_rows(n: int = 500, seed: int = 42, n_repos: int = 20, content_scale: int = 1) -> list[dict]:
    """Zipf-skewed repo sizes: repo0 is the mega-repo (~40% of files)."""
    rng = random.Random(seed)
    weights = [1.0 / (k + 1) for k in range(n_repos)]
    tot = sum(weights)
    weights = [w / tot for w in weights]
    rows = []
    for i in range(n):
        r = rng.random()
        acc = 0.0
        ri = 0
        for k, w in enumerate(weights):
            acc += w
            if r <= acc:
                ri = k
                break
        repo = f"org{ri % 5}/repo{ri}"
        lang = _LANGS[rng.randrange(len(_LANGS))]
        path = f"src/pkg{rng.randint(0, 9)}/mod{i}.{_EXT[lang]}"
        commit = hashlib.sha1(f"{repo}:{seed}".encode()).hexdigest()
        content, planted = _content_for(lang, rng, content_scale)
        rows.append(
            {
                "repo": repo,
                "path": path,
                "commit": commit,
                "lang": lang,
                "content": content,
                "planted": planted,
            }
        )
    return rows
