"""Schema-guided per-file triple extraction — the shared, pure-Python core.

This module is the single source of truth for extraction semantics: the
Arrow-batched Spark UDF (extract.py) and the pytest golden oracle
(tests/) both call :func:`extract_file`, so the distributed pipeline and
the reference oracle can never drift apart. This mirrors the reference's
per-record extractor pipeline (tools/entity_extraction.py:59-271), with
its load-bearing quirks re-expressed for source code:

- slot extraction per record → lang-specific mention detection per file
  (imports / function defs / class defs / call sites), the analogue of
  the ClassifyDistribution/Habits/Features extractors
  (entity_extraction.py:7-25).
- invalid-value filter (entity_extraction.py:158,180,...: drop "无信息"/
  "不明确") → SENTINELS below.
- multi-delimiter split + trim on [,，] (entity_extraction.py:141-154 —
  reference drops '，'-only strings; we implement the corrected
  semantics, documented in SURVEY.md F4).
- int cast with null-on-failure for the year field
  (entity_extraction_db.py:406-412).
- range→mean scalarization "40-60" → 50.0
  (entity_extraction_db.py:224-232).
- raw-text fallback on extractor failure (entity_extraction.py:163-169):
  an import line that fails to parse still emits a triple with the raw
  text as the object (obj_type="raw") — load-bearing for recall.
- taxonomy chain repo→dir→…→file with `contains` edges mirrors the
  kingdom→…→species chain (entity_extraction.py:113-133).

Everything here is deterministic, pure-Python, dependency-free.
"""

from __future__ import annotations

import hashlib
import re

# Values considered "no information" — dropped wherever they appear
# (mirrors entity_extraction.py:158 "无信息"/"不明确" filters).
SENTINELS = frozenset(
    {"", "unknown", "n/a", "none", "null", "tbd", "无信息", "不明确"}
)

# predicate vocabulary (closed; mirrors the reference's 9 relations,
# entity_extraction.py:103-241 — mapping documented in FIXTURES.md F2)
PRED_CONTAINS = "contains"            # 包含 (taxonomy chain)
PRED_IN_LANG = "in_lang"              # rank attribute edge
PRED_IMPORTS = "imports"              # 分布于 (1:N list slot)
PRED_DEF_FUNC = "defines_function"    # 食性为-like slot
PRED_DEF_CLASS = "defines_class"      # 繁殖特征-like slot
PRED_CALLS = "calls"                  # 行为特征-like slot
PRED_AUTHORED = "authored_by"         # 作者
PRED_NAMED_IN = "named_in"            # 命名年份
PRED_HAS_LOC = "has_loc"              # numeric fact (体长为-like)
PRED_HAS_SIZE = "has_size"            # range→mean numeric fact

ALL_PREDICATES = (
    PRED_CONTAINS,
    PRED_IN_LANG,
    PRED_IMPORTS,
    PRED_DEF_FUNC,
    PRED_DEF_CLASS,
    PRED_CALLS,
    PRED_AUTHORED,
    PRED_NAMED_IN,
    PRED_HAS_LOC,
    PRED_HAS_SIZE,
)

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"

# ----- header facts (author / year / size live in leading comments) -----
_HEADER_RE = {
    "author": re.compile(r"^\s*(?:#|//)\s*author:\s*(.+)$", re.I),
    "year": re.compile(r"^\s*(?:#|//)\s*year:\s*(\S+)", re.I),
    "size": re.compile(r"^\s*(?:#|//)\s*size:\s*([0-9.~\-]+)", re.I),
}

# ----- per-language import syntax -----
_PY_IMPORT = re.compile(r"^\s*import\s+(.+?)\s*$")
_PY_FROM = re.compile(rf"^\s*from\s+({_IDENT}(?:\.{_IDENT})*)\s+import\s+")
_JS_IMPORT = re.compile(r"""^\s*import\s+.*?\bfrom\s+['"]([^'"]+)['"]""")
_JS_REQUIRE = re.compile(r"""require\(\s*['"]([^'"]+)['"]\s*\)""")
_JAVA_IMPORT = re.compile(rf"^\s*import\s+(?:static\s+)?({_IDENT}(?:\.{_IDENT})*)\s*;")

# ----- per-language definitions -----
_PY_DEF = re.compile(rf"^\s*def\s+({_IDENT})\s*\(")
_PY_CLASS = re.compile(rf"^\s*class\s+({_IDENT})\s*[(:]")
_JS_FUNC = re.compile(rf"^\s*(?:export\s+)?(?:async\s+)?function\s+({_IDENT})\s*\(")
_JS_CONST_FN = re.compile(rf"^\s*(?:export\s+)?const\s+({_IDENT})\s*=\s*(?:async\s*)?\(")
_JS_CLASS = re.compile(rf"^\s*(?:export\s+)?class\s+({_IDENT})\s*[{{\s]")
_JAVA_CLASS = re.compile(rf"^\s*(?:public\s+|final\s+|abstract\s+)*class\s+({_IDENT})")
_JAVA_METHOD = re.compile(
    rf"^\s*(?:public|private|protected|static|final|\s)+[\w<>\[\]]+\s+({_IDENT})\s*\([^)]*\)\s*\{{"
)

# ----- call sites: identifier immediately followed by '(' -----
_CALL = re.compile(rf"\b({_IDENT})\s*\(")

_KEYWORDS = frozenset(
    """if elif else for while return def class import from as with try except
    finally raise lambda yield pass break continue assert del global nonlocal
    and or not in is print function const let var new typeof instanceof switch
    case do throw catch void int long float double boolean char byte short
    public private protected static final abstract this super extends
    implements package synchronized throws""".split()
)


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def split_multi(value: str) -> list[str]:
    """Split on ASCII and fullwidth commas, trim, drop empties.

    Corrected semantics of entity_extraction.py:141-154 (the reference
    drops strings containing only '，'; we split on both delimiters —
    pinned in tests/test_extraction.py).
    """
    return [p.strip() for p in re.split(r"[,，]", value) if p.strip()]


def is_valid_value(value: str) -> bool:
    """Invalid-value filter, mirrors entity_extraction.py:158 etc."""
    v = value.strip().lower()
    return v not in SENTINELS and "无具体" not in v


def try_int(value: str) -> int | None:
    """Int cast with null-on-failure (entity_extraction_db.py:406-412)."""
    try:
        return int(value.strip())
    except (ValueError, TypeError):
        return None


def range_mean(value: str) -> float | None:
    """'40-60' / '40~60' → 50.0; '42' → 42.0; junk → None.

    Mirrors the range→mean scalarization of entity_extraction_db.py:
    224-232 (split on [-~], average the endpoints).
    """
    parts = [p for p in re.split(r"[-~]", value.strip()) if p]
    nums = []
    for p in parts:
        try:
            nums.append(float(p))
        except ValueError:
            return None
    if not nums:
        return None
    return sum(nums) / len(nums)


# --------------------------------------------------------------- node ids
# Prefixed surrogate ids mirror entity_extraction.py:101-109
# (f"年份_{y}" → "year:{y}" etc.). Content-derived, no sequences
# (replaces cursor.lastrowid, entity_extraction_db.py:436).

def file_id(repo: str, path: str) -> str:
    return f"file:{repo}/{path}"


def _dirs_of(path: str) -> list[str]:
    parts = path.split("/")[:-1]
    out = []
    for i in range(len(parts)):
        out.append("/".join(parts[: i + 1]))
    return out


# ---------------------------------------------------------------- extract

def _iter_imports(lang: str, line: str):
    """Yield (module_name, ok) pairs; ok=False → raw-text fallback (X7)."""
    if lang == "python":
        m = _PY_FROM.match(line)
        if m:
            yield m.group(1), True
            return
        m = _PY_IMPORT.match(line)
        if m:
            body = m.group(1)
            if body.startswith("(") or not body:
                yield line.strip(), False
                return
            for piece in split_multi(body):
                name = piece.split(" as ")[0].strip()
                if re.fullmatch(rf"{_IDENT}(?:\.{_IDENT})*", name):
                    yield name, True
                else:
                    # extractor failure → raw-text fallback
                    # (entity_extraction.py:163-169)
                    yield piece, False
    elif lang == "javascript":
        m = _JS_IMPORT.match(line)
        if m:
            yield m.group(1), True
        for m in _JS_REQUIRE.finditer(line):
            yield m.group(1), True
    elif lang == "java":
        m = _JAVA_IMPORT.match(line)
        if m:
            yield m.group(1), True
        elif re.match(r"^\s*import\s+", line):
            yield line.strip(), False


def _iter_defs(lang: str, line: str):
    """Yield (name, kind) where kind ∈ {function, class}."""
    if lang == "python":
        m = _PY_DEF.match(line)
        if m:
            yield m.group(1), "function"
        m = _PY_CLASS.match(line)
        if m:
            yield m.group(1), "class"
    elif lang == "javascript":
        for rx in (_JS_FUNC, _JS_CONST_FN):
            m = rx.match(line)
            if m:
                yield m.group(1), "function"
        m = _JS_CLASS.match(line)
        if m:
            yield m.group(1), "class"
    elif lang == "java":
        m = _JAVA_CLASS.match(line)
        if m:
            yield m.group(1), "class"
        m = _JAVA_METHOD.match(line)
        if m:
            yield m.group(1), "function"


def extract_file(
    repo: str, path: str, commit: str, lang: str, content: str
) -> list[dict]:
    """One source file → list of (subj, pred, obj, …) triple dicts.

    Deterministic, order-stable (triples emitted in document order per
    category, matching the reference's per-record loop,
    entity_extraction.py:78-249). The per-row content sha256 invariant
    rides along on every triple.
    """
    sha = sha256_hex(content)
    fid = file_id(repo, path)
    triples: list[dict] = []
    seen: set[tuple[str, str, str]] = set()

    def emit(subj, pred, obj, subj_type, obj_type):
        key = (subj, pred, obj)
        if key in seen:
            return
        seen.add(key)
        triples.append(
            {
                "subj": subj,
                "pred": pred,
                "obj": obj,
                "subj_type": subj_type,
                "obj_type": obj_type,
                "repo": repo,
                "path": path,
                "commit": commit,
                "lang": lang,
                "content_sha256": sha,
            }
        )

    # 1. taxonomy chain: repo → dir → … → file (contains edges,
    #    mirrors the kingdom→…→species chain entity_extraction.py:113-133)
    prev, prev_t = f"repo:{repo}", "repo"
    for d in _dirs_of(path):
        cur = f"dir:{repo}/{d}"
        emit(prev, PRED_CONTAINS, cur, prev_t, "dir")
        prev, prev_t = cur, "dir"
    emit(prev, PRED_CONTAINS, fid, prev_t, "file")
    emit(fid, PRED_IN_LANG, f"lang:{lang}", "file", "lang")

    lines = content.split("\n")
    defined: list[str] = []
    called: list[str] = []

    for line in lines:
        # header facts (the regexes only match comment lines)
        m = _HEADER_RE["author"].match(line)
        if m:
            for a in split_multi(m.group(1)):
                if is_valid_value(a):
                    emit(fid, PRED_AUTHORED, f"author:{a}", "file", "author")
        m = _HEADER_RE["year"].match(line)
        if m:
            y = try_int(m.group(1))
            if y is not None:
                emit(fid, PRED_NAMED_IN, f"year:{y}", "file", "year")
        m = _HEADER_RE["size"].match(line)
        if m:
            v = range_mean(m.group(1))
            if v is not None:
                emit(fid, PRED_HAS_SIZE, f"size:{v:g}", "file", "metric")
        # imports
        for name, ok in _iter_imports(lang, line):
            if ok and is_valid_value(name):
                emit(fid, PRED_IMPORTS, f"mod:{name}", "file", "module")
            elif not ok:
                emit(fid, PRED_IMPORTS, f"raw:{name}", "file", "raw")
        # definitions
        for name, kind in _iter_defs(lang, line):
            if not is_valid_value(name):
                continue
            pred = PRED_DEF_FUNC if kind == "function" else PRED_DEF_CLASS
            emit(fid, pred, f"sym:{name}", "file", "symbol")
            defined.append(name)
        # call sites (skip the definition line's own name)
        def_names = {n for n, _ in _iter_defs(lang, line)}
        for m in _CALL.finditer(line):
            name = m.group(1)
            if name in _KEYWORDS or name in def_names:
                continue
            called.append(name)

    for name in called:
        if is_valid_value(name):
            emit(fid, PRED_CALLS, f"sym:{name}", "file", "symbol")

    emit(fid, PRED_HAS_LOC, f"loc:{len(lines)}", "file", "metric")
    return triples
