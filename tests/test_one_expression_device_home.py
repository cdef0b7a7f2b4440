"""Guard: each recurring text or money expression has one definition.

Six expression devices are written once, as Spark SQL text, and every
Spark-side query calls the helper (``F.expr(helper("col"))``, or the
text spliced into a statement):

    tokens      text_funcs.tokens      filter(split(lower(x), ' '), ...)
    words       text_funcs.words       filter(split(x, ' '), ...)
    sentences   text_funcs.sentences   split(regexp_replace(x, ...), ...)
    normalized  text_funcs.normalized  regexp_replace(..., '[^a-z0-9 ]', ...)
    exact_sum   aggregations.exact_sum sum(CAST(x AS decimal(14,2)))
    cents       aggregations.cents     CAST(round(x * 100) AS BIGINT)

The scan walks every package module's AST and finds each device both
as a PySpark Column chain and as SQL text in a string literal (an
f-string's placeholders read as ``{}``). Docstrings are not code, and
DuckDB oracle text is skipped: the ``oracle=`` argument of every
``register`` call, every function or module-level name that holds
``oracle``, the ``_oracle_cc`` module, and the oracle constants that
``ALLOWED`` names. An oracle is a second engine's statement of the same
rule; sharing Spark's helper would make the parity check compare the
rule with itself. A site is ``module::top-level name``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "bigdatanycdiseasesurveillance_spark"

HOMES = {
    "tokens": "functions/text_funcs.py::tokens",
    "words": "functions/text_funcs.py::words",
    "sentences": "functions/text_funcs.py::sentences",
    "normalized": "functions/text_funcs.py::normalized",
    "exact_sum": "operators/aggregations.py::exact_sum",
    "cents": "operators/aggregations.py::cents",
}

# site -> why it keeps its own copy
ALLOWED = {
    ("normalized", "operators/text_analysis.py::langid_trigram_fast"): (
        "its Python normalizer runs inside a pandas UDF, on executors "
        "that do not import this package"
    ),
    ("exact_sum", "operators/aggregations.py::VALUE_DECIMAL"): (
        "the decimal type exact_sum casts to"
    ),
    ("cents", "queries/quality_q.py::eval_calibration_bins"): (
        "percent of a probability, not money"
    ),
    **{
        (device, site): "DuckDB oracle text"
        for device, site in [
            ("tokens", "queries/curation_q.py::_TOK_CTE"),
            ("tokens", "queries/curation_q.py::_MASK_CTE"),
            ("normalized", "queries/dedup_q.py::_NORM_SQL"),
            ("tokens", "queries/ir_q.py::_BM25_SQL_BODY"),
            ("tokens", "queries/streaming_extra_q.py::_PREFIX_FP_SQL"),
            ("tokens", "queries/text_q.py::_TOKS_CTE"),
            ("normalized", "queries/text_q.py::_NORM_SQL"),
        ]
    },
}

_SQL = {
    "tokens": re.compile(r"split\(\s*lower\(", re.I),
    "words": re.compile(r"filter\(\s*split\(\s*(?!lower\()[^,()]*(\([^()]*\))?[^,()]*,\s*' '\s*\)", re.I),
    "sentences": re.compile(r"split\(\s*regexp_replace\(", re.I),
    "normalized": re.compile(re.escape("[^a-z0-9 ]")),
    "exact_sum": re.compile(r"decimal\(\s*14\s*,\s*2\s*\)", re.I),
    "cents": re.compile(r"round\([^()]*\*\s*100\s*(,\s*0\s*)?\)\s*as\s+bigint", re.I),
}


def _fn(node) -> str | None:
    """`F.split(...)` / `split(...)` -> "split"; a method call -> its name."""
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _text(node) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
        )
    return None


def _column_devices(node) -> list[str]:
    """The devices a Column-API call node builds."""
    name = _fn(node)
    args = getattr(node, "args", [])
    found = []
    if name == "split" and args:
        inner = _fn(args[0])
        if inner == "lower":
            found.append("tokens")
        elif inner == "regexp_replace":
            found.append("sentences")
    if name == "filter" and args and _fn(args[0]) == "split":
        split = args[0]
        if _fn(split.args[0]) not in ("lower", "regexp_replace") and any(
            _text(a) == " " for a in split.args[1:]
        ):
            found.append("words")
    if name == "cast" and isinstance(node.func, ast.Attribute):
        recv = node.func.value
        to = _text(args[0]) if args else None
        if (
            _fn(recv) == "round"
            and (to or "").lower() in ("long", "bigint")
            and isinstance(recv.args[0], ast.BinOp)
            and isinstance(recv.args[0].op, ast.Mult)
            and getattr(recv.args[0].right, "value", None) == 100
        ):
            found.append("cents")
    if isinstance(node, ast.Name) and node.id == "VALUE_DECIMAL":
        found.append("exact_sum")
    return found


class _Scan(ast.NodeVisitor):
    """Device hits of one module as (device, "rel::name", line)."""

    def __init__(self, rel: str):
        self.rel = rel
        self.scope = ["<module>"]
        self.hits: list[tuple[str, str, int]] = []

    def _site(self) -> str:
        return f"{self.rel}::{self.scope[min(1, len(self.scope) - 1)]}"

    def _enter(self, name, node):
        if "oracle" not in name.lower():
            self.scope.append(name)
            self.generic_visit(node)
            self.scope.pop()

    def visit_FunctionDef(self, node):
        self._enter(node.name, node)

    def visit_Assign(self, node):
        target = node.targets[0]
        if len(self.scope) == 1 and isinstance(target, ast.Name):
            self._enter(target.id, node)
        else:
            self.generic_visit(node)

    def visit_Expr(self, node):
        if _text(node.value) is None:  # a bare string is a docstring
            self.generic_visit(node)

    def visit_Call(self, node):
        if _fn(node) == "register":
            self.visit(node.func)
            for a in node.args:
                self.visit(a)
            for kw in node.keywords:
                if kw.arg != "oracle":
                    self.visit(kw.value)
            return
        self._record(node)
        self.generic_visit(node)

    def visit_Name(self, node):
        self._record(node)

    def visit_Constant(self, node):
        self._sql(_text(node), node)

    def visit_JoinedStr(self, node):
        self._sql(_text(node), node)
        for v in node.values:
            if isinstance(v, ast.FormattedValue):
                self.visit(v.value)

    def _record(self, node):
        for d in _column_devices(node):
            self.hits.append((d, self._site(), node.lineno))

    def _sql(self, text, node):
        for d, rx in _SQL.items():
            if text and rx.search(text):
                self.hits.append((d, self._site(), node.lineno))


def _trees() -> dict[str, ast.Module]:
    return {
        str(p.relative_to(PKG)): ast.parse(p.read_text())
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "_oracle_cc.py"
    }


def _hits(trees) -> list[tuple[str, str, int]]:
    hits = []
    for rel, tree in trees.items():
        scan = _Scan(rel)
        scan.visit(tree)
        hits += scan.hits
    return hits


def test_each_expression_device_is_built_only_in_its_home():
    trees = _trees()
    copies = sorted(
        f"{device} at {site}:{line}"
        for device, site, line in _hits(trees)
        if site != HOMES[device] and (device, site) not in ALLOWED
    )
    assert not copies, (
        "rebuilt outside its one definition; call the helper instead "
        "(F.expr(helper('col')) or splice its SQL text):\n  " + "\n  ".join(copies)
    )
    defined = {
        f"{rel}::{node.name}"
        for rel, tree in trees.items()
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
    }
    assert set(HOMES.values()) <= defined, "a device's home is gone"
