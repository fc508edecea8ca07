"""Duplicate guard: no two functions in the package are near copies.

Each module-level function and method (nested functions stay part of
their enclosing function) is reduced to its AST token stream: node type
names plus the attribute names of ``x.attr`` accesses, docstrings
stripped, so renamed locals, literals and comments do not hide a copy.
Two functions spanning at least ``MIN_LINES`` lines whose sets of
``NGRAM``-token windows have a Jaccard similarity of ``MAX_JACCARD`` or
more are near copies and should be one implementation.

Functions with fewer than ``MIN_NGRAMS`` distinct windows are skipped:
such a function is a single string template (e.g. an oracle's SQL text),
and its AST carries no structure to compare.
"""

from __future__ import annotations

import ast
import itertools
from pathlib import Path

import ophidia_io_server_spark

NGRAM = 6
MIN_LINES = 20
MIN_NGRAMS = 30
MAX_JACCARD = 0.9


def _is_docstring(node: ast.AST) -> bool:
    return (isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str))


def _tokens(fn: ast.AST) -> list[str]:
    out: list[str] = []

    def visit(node: ast.AST) -> None:
        out.append(type(node).__name__)
        if isinstance(node, ast.Attribute):
            out.append(node.attr)
        for child in ast.iter_child_nodes(node):
            if not _is_docstring(child):
                visit(child)

    visit(fn)
    return out


def _functions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node
        elif isinstance(node, ast.ClassDef):
            yield from (m for m in node.body
                        if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)))


def _fingerprints() -> list[tuple[str, frozenset]]:
    pkg = Path(ophidia_io_server_spark.__file__).parent
    out = []
    for path in sorted(pkg.rglob("*.py")):
        for fn in _functions(ast.parse(path.read_text())):
            if fn.end_lineno - fn.lineno + 1 < MIN_LINES:
                continue
            toks = _tokens(fn)
            grams = frozenset(tuple(toks[i:i + NGRAM])
                              for i in range(len(toks) - NGRAM + 1))
            if len(grams) >= MIN_NGRAMS:
                out.append((f"{path.relative_to(pkg)}::{fn.name}", grams))
    return out


def test_no_near_copy_functions():
    copies = []
    for (a, ga), (b, gb) in itertools.combinations(_fingerprints(), 2):
        small, large = sorted((len(ga), len(gb)))
        if small < MAX_JACCARD * large:  # Jaccard <= small/large
            continue
        j = len(ga & gb) / len(ga | gb)
        if j >= MAX_JACCARD:
            copies.append((round(j, 3), a, b))
    assert copies == [], sorted(copies, reverse=True)
