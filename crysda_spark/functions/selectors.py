"""ColumnSelector mini-DSL (reference: src/crysda/select.cr:42-129).

Selectors are pure Python over ``df.columns`` — they resolve to a name
list before any Spark plan is built, so they cost nothing at scale.

A selector is a callable ``names -> list[bool | None]`` (None = no
vote). Verbs AND-reduce multiple selectors with null-coalescing, then:
positive votes select, negative votes deselect-from-all; mixing positive
and negative selection raises (reference: src/crysda/dataframe.cr:716-738,
src/crysda/select.cr:21-33).

Usage::

    from crysda_spark.functions import selectors as s
    df.select(s.starts_with("sleep"))
    df.select(s.except_(s.matches(r"_id$")))
    df.select(s.range_("a", "d"), s.ends_with("x"))
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable

Selector = Callable[[list[str]], list[bool | None]]


def starts_with(prefix: str) -> Selector:
    return lambda names: [n.startswith(prefix) or None for n in names]


def ends_with(suffix: str) -> Selector:
    return lambda names: [n.endswith(suffix) or None for n in names]


def contains(sub: str) -> Selector:
    return lambda names: [(sub in n) or None for n in names]


def matches(pattern: str) -> Selector:
    rx = re.compile(pattern)
    return lambda names: [bool(rx.search(n)) or None for n in names]


def list_of(*cols: str) -> Selector:
    wanted = set(_flat(cols))
    return lambda names: [(n in wanted) or None for n in names]


def range_(start: str, end: str) -> Selector:
    def sel(names: list[str]) -> list[bool | None]:
        i, j = names.index(start), names.index(end)
        return [(i <= k <= j) or None for k in range(len(names))]
    return sel


_TYPE_ALIASES = {
    "int": "int", "integer": "int", "int32": "int",
    "long": "bigint", "bigint": "bigint", "int64": "bigint",
    "float": "float", "float32": "float",
    "double": "double", "float64": "double",
    "str": "string", "string": "string",
    "bool": "boolean", "boolean": "boolean",
    "date": "date", "timestamp": "timestamp",
    "binary": "binary", "decimal": "decimal",
    "array": "array", "map": "map", "struct": "struct",
}


def _type_key(t) -> str:
    """Normalize a Spark DataType class/instance, Python type, or type
    name string to a comparable base-type key."""
    if isinstance(t, type):
        if t in (int,): return "bigint"
        if t in (float,): return "double"
        if t in (str,): return "string"
        if t in (bool,): return "boolean"
        if t in (bytes,): return "binary"
        t = t()  # Spark DataType class → instance
    if hasattr(t, "simpleString"):
        t = t.simpleString()
    base = str(t).lower().split("(")[0].split("<")[0]
    return _TYPE_ALIASES.get(base, base)


def of_type(*types) -> Selector:
    """Select columns by data type (reference select-by-column-type,
    src/crysda/dataframe.cr:342-344,460-472 — `df.select(Int32Col)`).
    Accepts Spark DataType classes/instances (``IntegerType``), Python
    types (``int``, ``str``), or type-name strings ("bigint",
    "decimal", "array"); parameterized types match on the base name.
    Python ``int`` selects the whole integer family (tinyint…bigint)
    and ``float`` both float widths — a Python type names a VALUE kind,
    not one storage width; use a string/Spark type to pin the width.

    Resolution needs the schema, so this selector is resolved with
    (names, dtypes) — only usable through Frame.select/reject."""
    _FAMILIES = {int: {"tinyint", "smallint", "int", "bigint"},
                 float: {"float", "double"}}
    wanted: set[str] = set()
    for t in types:
        if isinstance(t, type) and t in _FAMILIES:
            wanted |= _FAMILIES[t]
        else:
            wanted.add(_type_key(t))

    def sel(names: list[str], dtypes: dict[str, str] | None = None):
        if dtypes is None:
            raise ValueError("of_type selector needs schema info; use it "
                             "via Frame.select/reject")
        return [(_type_key(dtypes[n]) in wanted) or None for n in names]
    sel._needs_dtypes = True  # type: ignore[attr-defined]
    return sel


def except_(arg) -> Selector:
    """Negative selection: drop these from all columns."""
    inner = arg if callable(arg) else list_of(*([arg] if isinstance(arg, str) else arg))

    def sel(names: list[str], dtypes: dict[str, str] | None = None):
        votes = _vote(inner, names, dtypes)
        return [False if v else None for v in votes]
    sel._needs_dtypes = getattr(inner, "_needs_dtypes", False)  # type: ignore[attr-defined]
    return sel


def _vote(s: Selector, names: list[str], dtypes: dict[str, str] | None):
    if getattr(s, "_needs_dtypes", False):
        return s(names, dtypes)
    return s(names)


def resolve_selectors(names: list[str], selectors: Iterable,
                      dtypes: dict[str, str] | None = None) -> list[str]:
    """AND-reduce selector votes with null-coalescing, then apply the
    positive/negative rule. Plain strings mix in as list_of selections."""
    sels: list[Selector] = []
    for s in selectors:
        if isinstance(s, str):
            sels.append(list_of(s))
        elif callable(s):
            sels.append(s)
        else:
            raise TypeError(f"not a selector: {s!r}")
    combined: list[bool | None] = [None] * len(names)
    for s in sels:
        votes = _vote(s, names, dtypes)
        if len(votes) != len(names):
            raise ValueError("selector returned wrong arity")
        combined = [_and(a, b) for a, b in zip(combined, votes)]
    has_pos = any(v is True for v in combined)
    has_neg = any(v is False for v in combined)
    if has_pos and has_neg:
        raise ValueError(
            "mixing positive and negative column selection is not allowed "
            "(reference InvalidColumnSelectException)")
    if has_pos:
        return [n for n, v in zip(names, combined) if v is True]
    if has_neg:
        return [n for n, v in zip(names, combined) if v is not False]
    return []


def _and(a: bool | None, b: bool | None) -> bool | None:
    if a is None:
        return b
    if b is None:
        return a
    return a and b


def _flat(items) -> list[str]:
    out: list[str] = []
    for it in items:
        if isinstance(it, (list, tuple)):
            out.extend(it)
        else:
            out.append(it)
    return out
