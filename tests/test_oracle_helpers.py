"""Source scan: the exact-sum, finite-guard and vector-validity rules are
spelled only by their helpers.

Oracle strings and Spark-side SQL texts interpolate ``functions/exact.py``
(``sql_cents``/``sql_cents_term``/``sql_finite``/``sql_exact_sum``/
``sql_dsum``/``sql_davg``)
and ``operators/similarity.py`` (``sql_vec_valid``/``_SQL_VECTORS``). A
pasted expansion drifts from its helper the next time the rule changes, so
any copy outside the owning definition fails here. The scan reads every
string literal in ``kinesis_test_spark/`` (f-string fields rendered as
``{expr}``), whitespace-normalized, so copies split across lines count too.
The Column side is scanned as code: ``cents(...)`` is called only inside
``exact.py``; every other site goes through ``exact_sum``/``cents_sum``/
``cents_term``/``dsum``/``davg``.

The MinHash rule (shingle set, seed-salted signature, band key, estimate)
is spelled once per engine in ``operators/dedup.py``: the SQL generators
``SQL_MINHASH_SIG``/``sql_bands``/``sql_est`` and the Column helpers
``shingle_set``/``minhash_sig``. Any other copy of its seed hash, row-local
``list_min`` signature, band positions, estimate, salted Column md5 or
nested 3-gram ``zip_with`` fails here. The SimHash bit vote is spelled
once, by ``dedup.sql_simhash_fps``.

The exact-Jaccard rule is spelled once per engine in ``operators/dedup.py``
too: the oracle CTEs ``_SQL_CAP`` (stop-shingle cap, behind ``SQL_KEPT``),
``_SQL_OVERLAP`` (inverted-index overlap count and threshold, behind
``SQL_JACCARD``) and ``sql_components`` (the ``reach(u, v)`` connected
components). A pasted cap CTE, inverted-index self-join, Jaccard
threshold or ``reach(u, v)`` recursion elsewhere fails here, and so does
the oracle millisecond idiom outside ``exact.sql_ms``.

Streams start in one place: ``streaming/pipeline.py`` (``start_stream``/
``drain``) sets the checkpoint and trigger, holds ``sized_state`` across
``.start()`` and awaits termination. A ``.start()``,
``.awaitTermination(`` or ``sized_state(`` call anywhere else in the
package fails here.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "kinesis_test_spark"

EXACT = "functions/exact.py"
SIMILARITY = "operators/similarity.py"

CENTS = re.compile(r"FLOOR\s*\(\s*ABS\s*\(", re.I)
# the per-row term pasted around the helper field: CAST({sql_cents(...)} AS DECIMAL(p,0))
CENTS_TERM = re.compile(r"CAST\s*\(\s*\{\s*sql_cents\(", re.I)
VEC_VALID = re.compile(r"len\s*\(\s*list_filter\s*\(\s*[\w.]*embedding\b", re.I)
VECTORS = re.compile(
    r"SELECT DISTINCT vec_id, label, embedding FROM embeddings"
    r" WHERE vec_id IS NOT NULL",
    re.I,
)
GUARD_HEAD = re.compile(r"CASE WHEN abs\(", re.I)
GUARD_MID = re.compile(r"\) < 1\.0e\d+ THEN ", re.I)


DEDUP = "operators/dedup.py"
MINHASH_HELPERS = {"SQL_MINHASH_SIG", "sql_bands", "sql_est", "shingle_set", "minhash_sig"}
MINHASH_SQL = {
    "seed hash": re.compile(r"md5\s*\(\s*CAST\s*\(\s*seed\b", re.I),
    "row-local sig": re.compile(r"list_min\s*\(\s*list_transform\s*\(", re.I),
    "band positions": re.compile(r"\bsig\s*\[\s*(\d+|\{[^}]*\})\s*\*\s*b\b", re.I),
    "estimate": re.compile(
        r"generate_series\s*\(\s*1\s*,[^)]*\)\s*IF\s+\S+\.sig\s*\[\s*i\s*\]", re.I
    ),
    "salted md5 expr": re.compile(r"md5\s*\(\s*concat\s*\(\s*'", re.I),
}


SIMHASH_VOTE = re.compile(
    r"SUM\s*\(\s*CASE\s+WHEN\s*\([^)]*&[^)]*\)\s*>\s*0\s+THEN\s+1\s+ELSE\s+-1\s+END\s*\)",
    re.I,
)

JACCARD_HELPERS = {"_SQL_CAP", "_SQL_OVERLAP", "sql_components"}
JACCARD_SQL = {
    "cap CTE": re.compile(r"\bhot\s+AS\s*\(\s*SELECT\s+s\s+FROM\s+shingles\b", re.I),
    "inverted-index self-join": re.compile(
        r"\b(\w+)\s+(\w+)\s+JOIN\s+\1\s+(\w+)\s+ON\s+\2\.s\s*=\s*\3\.s\s+AND\s+"
        r"\2\.doc_id\s*(<>|!=|<)\s*\3\.doc_id",
        re.I,
    ),
    "jaccard threshold": re.compile(r"(\bjaccard|n_inter\s*/\s*\([^)]*\))\s*>=", re.I),
    "reach(u, v)": re.compile(r"\breach\s*\(\s*u\s*,\s*v\s*\)", re.I),
}
MS = re.compile(r"epoch_us\s*\(\s*time_bucket\s*\(\s*INTERVAL\s*'1 millisecond'", re.I)

PIPELINE = "streaming/pipeline.py"


def _text(node: ast.AST) -> str:
    if isinstance(node, ast.Constant):
        return node.value
    parts = []
    for v in node.values:  # ast.JoinedStr
        if isinstance(v, ast.Constant):
            parts.append(v.value)
        else:
            parts.append("{" + ast.unparse(v.value) + "}")
    return "".join(parts)


def _exempt_lines(tree: ast.AST, exempt: set[str]) -> list[tuple[int, int]]:
    """Line spans of the top-level definitions named in ``exempt``."""
    skip: list[tuple[int, int]] = []
    for node in ast.walk(tree):
        name = None
        if isinstance(node, ast.FunctionDef):
            name = node.name
        elif isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
            name = node.targets[0].id
        if name in exempt:
            skip.append((node.lineno, node.end_lineno))
    return skip


def _strings(path: Path, exempt: set[str]):
    """(line, whitespace-normalized text) of every string literal outside
    the definitions named in ``exempt``."""
    tree = ast.parse(path.read_text())
    skip = _exempt_lines(tree, exempt)
    parts = {id(v) for n in ast.walk(tree) if isinstance(n, ast.JoinedStr) for v in n.values}
    for node in ast.walk(tree):
        is_str = isinstance(node, ast.Constant) and isinstance(node.value, str)
        if not (is_str or isinstance(node, ast.JoinedStr)) or id(node) in parts:
            continue
        if any(a <= node.lineno <= b for a, b in skip):
            continue
        yield node.lineno, " ".join(_text(node).split())


def _balanced_end(s: str, i: int) -> int | None:
    """Index of the ')' closing the '(' just before ``s[i]``."""
    depth = 1
    for j in range(i, len(s)):
        if s[j] == "(":
            depth += 1
        elif s[j] == ")":
            depth -= 1
            if depth == 0:
                return j
    return None


def _bare_guards(s: str) -> list[str]:
    """Every ``CASE WHEN abs(E) < 1.0eN THEN E END`` whose THEN is E."""
    found = []
    for m in GUARD_HEAD.finditer(s):
        end = _balanced_end(s, m.end())
        if end is None:
            continue
        e = s[m.end() : end]
        mid = GUARD_MID.match(s, end)
        if mid and s[mid.end() :].startswith(e + " END"):
            found.append(e)
    return found


def _copies() -> dict[str, list[str]]:
    rules = {
        "cents": [],
        "cents term": [],
        "finite guard": [],
        "vec validity": [],
        "vec identity": [],
    }
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        exempt = {"sql_vec_valid", "_SQL_VECTORS"} if rel == SIMILARITY else set()
        for line, s in _strings(path, exempt):
            where = f"{rel}:{line}"
            if rel != EXACT:
                rules["cents"] += [where] * len(CENTS.findall(s))
                rules["cents term"] += [where] * len(CENTS_TERM.findall(s))
                rules["finite guard"] += [f"{where} abs({e})" for e in _bare_guards(s)]
            rules["vec validity"] += [where] * len(VEC_VALID.findall(s))
            rules["vec identity"] += [where] * len(VECTORS.findall(s))
    return rules


def test_no_pasted_helper_expansions():
    copies = _copies()
    assert not any(copies.values()), "pasted helper SQL (interpolate the helper): " + "; ".join(
        f"{rule} x{len(v)}: {', '.join(v[:8])}" for rule, v in copies.items() if v
    )


def _call_name(node: ast.AST) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _salted_md5(node: ast.AST) -> bool:
    """``md5(concat(lit(f"...{seed}..."), ...))``: a seed-salted Column md5."""
    if _call_name(node) != "md5" or not node.args or _call_name(node.args[0]) != "concat":
        return False
    salt = node.args[0].args[0] if node.args[0].args else None
    return _call_name(salt) == "lit" and bool(salt.args) and isinstance(salt.args[0], ast.JoinedStr)


def _shingle_zip(node: ast.AST) -> bool:
    """A ``zip_with`` nesting another ``zip_with``: the word-3-gram shape."""
    return _call_name(node) == "zip_with" and any(
        _call_name(n) == "zip_with" for a in node.args for n in ast.walk(a)
    )


def _minhash_copies(pkg: Path = PKG) -> dict[str, list[str]]:
    """file:line of every MinHash spelling outside its helper in ``pkg``."""
    rules = {name: [] for name in [*MINHASH_SQL, "salted md5 column", "shingle zip_with"]}
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        exempt = MINHASH_HELPERS if rel == DEDUP else set()
        for line, s in _strings(path, exempt):
            for name, pat in MINHASH_SQL.items():
                rules[name] += [f"{rel}:{line}"] * len(pat.findall(s))
        tree = ast.parse(path.read_text())
        skip = _exempt_lines(tree, exempt)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and not any(a <= node.lineno <= b for a, b in skip):
                if _salted_md5(node):
                    rules["salted md5 column"].append(f"{rel}:{node.lineno}")
                if _shingle_zip(node):
                    rules["shingle zip_with"].append(f"{rel}:{node.lineno}")
    return rules


def test_minhash_rule_spelled_once():
    copies = _minhash_copies()
    assert not any(copies.values()), "pasted MinHash rule (call the dedup helper): " + "; ".join(
        f"{rule} x{len(v)}: {', '.join(v[:8])}" for rule, v in copies.items() if v
    )


def test_minhash_scan_sees_the_helpers():
    # the patterns match the helpers' own output and code, so a copy is caught
    from kinesis_test_spark.operators.dedup import SQL_MINHASH_SIG, sql_bands, sql_est

    sql = " ".join(f"{SQL_MINHASH_SIG} {sql_bands(2)} {sql_est('a', 'b')}".split())
    for name in ("seed hash", "band positions", "estimate"):
        assert MINHASH_SQL[name].search(sql), name
    assert MINHASH_SQL["row-local sig"].search("list_min(list_transform(sh, x -> md5(x)))")
    assert MINHASH_SQL["salted md5 expr"].search("array_min(transform(sh, x -> md5(concat('{s}|', x))))")
    helpers = ast.parse((PKG / DEDUP).read_text())
    defs = {n.name: n for n in helpers.body if isinstance(n, ast.FunctionDef)}
    assert any(_salted_md5(n) for n in ast.walk(defs["minhash_sig"]))
    assert any(_shingle_zip(n) for n in ast.walk(defs["shingle_set"]))


def _cents_calls() -> list[str]:
    """file:line of every ``cents(...)`` call (bare or attribute) outside
    ``exact.py``."""
    calls = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == EXACT:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "cents":
                calls.append(f"{rel}:{node.lineno}")
    return calls


def test_no_column_cents_outside_exact():
    calls = _cents_calls()
    assert not calls, f"{len(calls)} cents( calls outside {EXACT} (use its sum helpers): " + ", ".join(
        calls
    )


def test_scan_sees_the_helper_definitions():
    # the patterns match the helpers' own output, so a copy of it is caught
    from kinesis_test_spark.functions.exact import sql_cents, sql_finite
    from kinesis_test_spark.operators.similarity import _SQL_VECTORS, sql_vec_valid

    assert CENTS.search(sql_cents("x", 2))
    pasted = ast.parse("f'CAST({sql_cents(sql_finite(x, 15), 2)} AS DECIMAL(18,0))'")
    assert CENTS_TERM.search(_text(pasted.body[0].value))
    assert _bare_guards(" ".join(sql_finite("a.b * (1 - c)").split())) == ["a.b * (1 - c)"]
    assert VEC_VALID.search(sql_vec_valid("a.embedding"))
    assert VECTORS.search(" ".join(_SQL_VECTORS.split()))


def _sql_copies(rules: dict, owner: str, helpers: set[str], pkg: Path = PKG) -> dict[str, list[str]]:
    """file:line of every match of ``rules`` in ``pkg``'s string literals
    outside the ``helpers`` definitions of the ``owner`` module."""
    found = {name: [] for name in rules}
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for line, s in _strings(path, helpers if rel == owner else set()):
            for name, pat in rules.items():
                found[name] += [f"{rel}:{line}"] * len(pat.findall(s))
    return found


def test_simhash_vote_spelled_once():
    votes = _sql_copies({"vote": SIMHASH_VOTE}, DEDUP, {"sql_simhash_fps"})["vote"]
    assert not votes, "pasted SimHash vote (interpolate dedup.sql_simhash_fps): " + ", ".join(votes)


def test_simhash_scan_sees_the_helper():
    # unexempted, the scan finds the helper's own vote, so a copy is caught
    votes = [line for line, s in _strings(PKG / DEDUP, set()) if SIMHASH_VOTE.search(s)]
    (helper,) = _exempt_lines(ast.parse((PKG / DEDUP).read_text()), {"sql_simhash_fps"})
    assert len(votes) == 1 and helper[0] <= votes[0] <= helper[1], (votes, helper)


def _stream_starts(pkg: Path = PKG, skip: str | None = PIPELINE) -> dict[str, list[str]]:
    """file:line of every stream start, await and state-sizing call in
    ``pkg`` outside ``skip``."""
    rules = {"start()": [], "awaitTermination(": [], "sized_state(": []}
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == skip:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = _call_name(node)
            if name == "start" and not node.args and not node.keywords:
                rules["start()"].append(f"{rel}:{node.lineno}")
            elif name in ("awaitTermination", "sized_state"):
                rules[f"{name}("].append(f"{rel}:{node.lineno}")
    return rules


def test_streams_start_only_in_the_pipeline():
    starts = _stream_starts()
    assert not any(starts.values()), f"stream lifecycle outside {PIPELINE} (call start_stream/drain): " + "; ".join(
        f"{rule} x{len(v)}: {', '.join(v[:8])}" for rule, v in starts.items() if v
    )


def test_stream_scan_sees_the_pipeline():
    # the rule matches the helpers' own calls, so a copy elsewhere is caught
    starts = _stream_starts(PKG / "streaming", skip=None)
    assert all(v and all(w.startswith("pipeline.py:") for w in v) for v in starts.values()), starts


def test_jaccard_rule_spelled_once():
    copies = _sql_copies(JACCARD_SQL, DEDUP, JACCARD_HELPERS)
    assert not any(copies.values()), "pasted exact-Jaccard rule (interpolate the dedup helper): " + "; ".join(
        f"{rule} x{len(v)}: {', '.join(v[:8])}" for rule, v in copies.items() if v
    )


def test_jaccard_scan_sees_the_helpers():
    # the patterns match the helpers' own output, and unexempted the scan
    # finds each rule inside its helper only, so a copy is caught
    from kinesis_test_spark.operators.dedup import SQL_JACCARD, sql_components

    sql = " ".join(f"{SQL_JACCARD}, {sql_components()}".split())
    for name, pat in JACCARD_SQL.items():
        assert pat.search(sql), name
    spans = _exempt_lines(ast.parse((PKG / DEDUP).read_text()), JACCARD_HELPERS)
    for name, where in _sql_copies(JACCARD_SQL, DEDUP, set()).items():
        lines = [int(w.split(":")[1]) for w in where if w.startswith(DEDUP + ":")]
        assert lines and all(any(a <= n <= b for a, b in spans) for n in lines), (name, where)


def test_ms_rule_spelled_once():
    copies = _sql_copies({"ms": MS}, EXACT, {"sql_ms"})["ms"]
    assert not copies, "pasted millisecond idiom (interpolate exact.sql_ms): " + ", ".join(copies)


def test_ms_scan_sees_the_helper():
    from kinesis_test_spark.functions.exact import sql_ms

    assert MS.search(sql_ms("ts"))
    (found,) = [w for w in _sql_copies({"ms": MS}, EXACT, set())["ms"] if w.startswith(EXACT)]
    (helper,) = _exempt_lines(ast.parse((PKG / EXACT).read_text()), {"sql_ms"})
    assert helper[0] <= int(found.split(":")[1]) <= helper[1], (found, helper)
