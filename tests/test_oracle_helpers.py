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


def _strings(path: Path, exempt: set[str]):
    """(line, whitespace-normalized text) of every string literal outside
    the definitions named in ``exempt``."""
    tree = ast.parse(path.read_text())
    skip: list[tuple[int, int]] = []
    for node in ast.walk(tree):
        name = None
        if isinstance(node, ast.FunctionDef):
            name = node.name
        elif isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
            name = node.targets[0].id
        if name in exempt:
            skip.append((node.lineno, node.end_lineno))
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
