"""Parser for the Ophidia submission-query dialect.

A query is ``key=value;key=value;...`` (e.g. ``operation=select;from=frag1;
field=id_dim|oph_reduce(measure,'sum');where=id_dim>5;limit=10``).  Mirrors
the semantics of the reference parser (``/root/reference/src/query_engine/
oph_query_parser.c:308-367``): split on ``;``, first ``=`` separates key from
value, ``|`` separates multi-values for list-valued keys, anonymous ``?``
binds are numbered ``?1..?N`` left to right.  The implementation is new and
string-level only — evaluation is delegated to Catalyst.
"""

from __future__ import annotations

import re

# Keys whose value is a |-separated list (reference: oph_query_parser.c:160-216
# splits these; `|` inside other values, e.g. WHERE, means logical OR).
MULTIVALUE_KEYS = {
    "field",
    "select_alias",
    "from",
    "from_alias",
    "dim",
    "dim_type",
    "dim_index",
    "dim_start",
    "dim_end",
    "dim_size",
    "arg",
}

_QUERY_SEP = ";"
_KV_SEP = "="

# keys whose values are taken verbatim (no ?-bind renumbering): source URIs
_RAW_VALUE_KEYS = {"src_path", "measure"}


class QueryParseError(ValueError):
    pass


def split_multivalue(value: str) -> list[str]:
    """Split a list-valued clause on top-level ``|`` (not inside quotes/parens)."""
    parts: list[str] = []
    depth = 0
    in_str = False
    cur: list[str] = []
    for c in value:
        if c == "'":
            in_str = not in_str
            cur.append(c)
        elif in_str:
            cur.append(c)
        elif c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            cur.append(c)
        elif c == "|" and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur).strip())
    return parts


def parse_query(query: str) -> dict[str, str | list[str]]:
    """Parse one submission query into a clause dict.

    Values of keys in MULTIVALUE_KEYS become lists; everything else stays a
    string.  Raises QueryParseError on malformed input or the legacy
    ``where_left/where_cond/where_right`` triple the reference rejects.
    """
    if not query or not query.strip():
        raise QueryParseError("empty query")
    clauses: dict[str, str | list[str]] = {}
    bind_total = 0
    for raw in query.split(_QUERY_SEP):
        raw = raw.strip()
        if not raw:
            continue
        if _KV_SEP not in raw:
            raise QueryParseError(f"clause without '=': {raw!r}")
        key, _, value = raw.partition(_KV_SEP)
        key = key.strip().lower()
        value = value.strip()
        if key in ("where_left", "where_cond", "where_right"):
            raise QueryParseError(f"legacy clause {key!r} not supported")
        if not key:
            raise QueryParseError(f"empty key in clause {raw!r}")
        if key not in _RAW_VALUE_KEYS:  # paths/URIs may contain literal '?'
            value, bind_total = _renumber(value, bind_total)
        if key in MULTIVALUE_KEYS:
            clauses[key] = split_multivalue(value)
        else:
            clauses[key] = value
    if "operation" not in clauses:
        raise QueryParseError("missing 'operation' clause")
    op = clauses["operation"]
    clauses["operation"] = (op if isinstance(op, str) else op[0]).lower()
    return clauses


def _renumber(value: str, start: int) -> tuple[str, int]:
    """Continue anonymous-bind numbering across clauses."""
    out = []
    n = start
    in_str = False
    i = 0
    while i < len(value):
        c = value[i]
        if c == "'":
            in_str = not in_str
            out.append(c)
        elif c == "?" and not in_str:
            if i + 1 < len(value) and value[i + 1].isdigit():
                j = i + 1
                while j < len(value) and value[j].isdigit():
                    j += 1
                out.append(value[i:j])
                n = max(n, int(value[i + 1 : j]))
                i = j
                continue
            n += 1
            out.append(f"?{n}")
        else:
            out.append(c)
        i += 1
    return "".join(out), n


_LIMIT_RE = re.compile(r"^\s*(?:(-?\d+)\s*\|)?\s*(-?\d+)\s*$")


def parse_limit(value: str) -> tuple[int, int]:
    """``limit=N`` or ``limit=offset|N`` → (offset, n); negatives clamp to 0
    (reference blocks.c:699-745)."""
    m = _LIMIT_RE.match(value)
    if not m:
        raise QueryParseError(f"bad limit clause: {value!r}")
    offset = int(m.group(1) or 0)
    n = max(0, int(m.group(2)))
    return max(0, offset), n
