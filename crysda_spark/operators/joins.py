"""Join semantics layer (reference: src/crysda/joins.cr).

The reference implements a sort-merge-over-group-keys join with per-key
cartesian products; here every join is a declarative ``DataFrame.join``
and Catalyst/AQE pick broadcast-hash vs shuffle-hash vs sort-merge at
runtime (plus skew splitting). The API-layer semantics we reproduce:

- natural join: ``by`` defaults to the shared column names, in left
  order (src/crysda/joins.cr:133-135)
- unequal-by: ``by=[("lcol","rcol"), ...]`` — right keys renamed to the
  left names before joining (resolve_unequal_by, src/crysda/joins.cr:144-147)
- shared non-key columns suffixed ``.x``/``.y`` (src/crysda/joins.cr:149-166)
- key columns first in the output (src/crysda/joins.cr:153-163)
- empty ``by`` → cartesian product (src/crysda/joins.cr:197-206)
- semi/anti join: left columns only, no suffixing (src/crysda/joins.cr:38-55)

Inner, left and cross joins carry the left frame's hidden ordinal, so
order-dependent verbs after the join (keep-first ``distinct``, ``slice``,
row numbers) follow the left frame's scan order, not the join's output
order, which Spark does not fix. A plan that never reads the ordinal
prunes it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import functions as F

from ..frame import ORD, Frame


def default_by(left: Frame, right: Frame) -> list[str]:
    rnames = set(right.columns)
    return [c for c in left.columns if c in rnames]


def _normalize_by(by) -> tuple[list[str], list[str]]:
    """Return (left_keys, right_keys)."""
    if isinstance(by, str):
        return [by], [by]
    if isinstance(by, dict):
        # bare dict {"lcol": "rcol", ...} — iterate ITEMS, not keys
        # (iterating the dict directly would silently join lcol=lcol)
        return [a for a in by], [by[a] for a in by]
    lk, rk = [], []
    for item in by:
        if isinstance(item, (tuple, list)):
            lk.append(item[0])
            rk.append(item[1])
        elif isinstance(item, dict):
            for a, b in item.items():
                lk.append(a)
                rk.append(b)
        else:
            lk.append(item)
            rk.append(item)
    return lk, rk


def join(left: Frame, right: Frame, by, how: str,
         suffices: Sequence[str] = (".x", ".y")) -> Frame:
    keeps_ord = how in ("inner", "left")  # cross_join is inner with by=[]
    l = left._with_ord()._sdf if keeps_ord else left.sdf
    r = right.sdf

    if by is None:
        by = default_by(left, right)
    if isinstance(by, (list, tuple)) and len(by) == 0:
        # cartesian product; suffix every shared column
        shared = [c for c in left.columns if c in set(right.columns)]
        l2 = _suffix(l, shared, suffices[0])
        r2 = _suffix(r, shared, suffices[1])
        return Frame(l2.crossJoin(r2))

    lk, rk = _normalize_by(by)

    # unequal-by: bring the right keys under the left key names
    renames = {b: a for a, b in zip(lk, rk) if a != b}
    if renames:
        r = r.withColumnsRenamed(renames)

    if how in ("left_semi", "left_anti"):
        out = l.join(r, on=lk, how=how)
        return Frame(out.select(*left.columns))

    shared = [c for c in left.columns if c in set(r.columns) and c not in lk]
    l2 = _suffix(l, shared, suffices[0])
    r2 = _suffix(r, shared, suffices[1])
    out = l2.join(r2, on=lk, how=how)

    # key columns leftmost, then left's columns, then right's new columns
    lcols = [c if c not in shared else c + suffices[0] for c in left.columns if c not in lk]
    rcols = [c for c in r2.columns if c not in lk and c not in lcols]
    ords = [ORD] if keeps_ord else []
    # suffixed names contain dots — backtick-quote to avoid struct access
    return Frame(out.select(*[F.col(f"`{c}`")
                              for c in [*lk, *lcols, *rcols, *ords]]))


def _suffix(sdf, shared: list[str], suffix: str):
    if not shared:
        return sdf
    return sdf.withColumnsRenamed({c: c + suffix for c in shared})


def broadcast_right(right: Frame) -> Frame:
    """Explicit broadcast hint for small dimension tables."""
    return Frame(F.broadcast(right.sdf), right.groups)
