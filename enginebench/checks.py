"""Comparisons of engine output against oracle state."""

from __future__ import annotations

import numpy as np

from serving import PAGE_LIMIT


def same_value(got, want) -> bool:
    if isinstance(want, float) or isinstance(got, float):
        if got is None or want is None:
            return got is want
        # float columns are stored as float32
        return np.float32(got) == np.float32(want)
    if isinstance(want, (list, tuple)):
        return (got is not None and len(got) == len(want)
                and all(same_value(g, w) for g, w in zip(got, want)))
    return got == want


def row_diff(got: dict, want: dict, columns) -> list[str]:
    return [c for c in columns if not same_value(got.get(c), want.get(c))]


def rows_equal(got: dict, want: dict, columns, what: str) -> list[str]:
    """``got`` / ``want``: pk -> row dict. Returns problem strings."""
    out = []
    if set(got) != set(want):
        extra, missing = set(got) - set(want), set(want) - set(got)
        out.append(f"{what}: {len(extra)} unexpected keys (e.g. "
                   f"{sorted(extra)[:3]}), {len(missing)} missing (e.g. "
                   f"{sorted(missing)[:3]})")
    bad = [k for k in set(got) & set(want)
           if row_diff(got[k], want[k], columns)]
    if bad:
        k = sorted(bad)[0]
        out.append(f"{what}: {len(bad)} rows differ, e.g. {k!r}: columns "
                   f"{row_diff(got[k], want[k], columns)} got "
                   f"{ {c: got[k].get(c) for c in columns} } want "
                   f"{ {c: want[k].get(c) for c in columns} }")
    return out


def read_matches(r, state: dict, pk: list[str], version_col: str) -> list[str]:
    """Check one serving read against the live rows (PK tuple -> row) of
    the snapshot it read."""
    columns = sorted({c for row in state.values() for c in row})
    got_list = r.rows
    got = {tuple(row[c] for c in pk): row for row in got_list}
    what = f"{r.kind}({r.arg!r}) @v{r.version}"
    if len(got) != len(got_list):
        return [f"{what}: duplicate keys in result"]
    if r.kind == "lookup":
        want = {k: state[k] for k in map(tuple, r.arg) if k in state}
        return rows_equal(got, want, columns, what)
    if r.kind == "page":
        order = sorted(k for k in state if k > tuple(r.arg))[:PAGE_LIMIT]
        got_order = [tuple(row[c] for c in pk) for row in got_list]
        if got_order != order:
            return [f"{what}: page keys {got_order[:3]}.. != {order[:3]}.."]
        return rows_equal(got, {k: state[k] for k in order}, columns, what)
    if r.kind == "changed":
        want = {k: row for k, row in state.items()
                if row[version_col] >= r.arg}
        return rows_equal(got, want, columns, what)
    raise ValueError(r.kind)
