"""Join operators (reference SURVEY §2.3 J1-J5).

Every join in the reference is a LEFT OUTER equi-join of a large fact against
tiny dimensions, with the right side's key columns dropped after the join
(jb_de_enhancement_t1_fulljoin_s2s.py:53-86). Semantics we must preserve
(SURVEY §7.4): NULL join keys keep their left rows with all-NULL right
columns, and duplicate right-side keys FAN OUT left rows (the reference's
zipcode.short_zipcode is not unique) -- no accidental dedup.

Scale notes: dimension sides are broadcast (hinted explicitly so the plan is
stable regardless of stats); the fact side never shuffles for these joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def left_join_drop_keys(
    left: DataFrame,
    right: DataFrame,
    on: list[tuple[str, str]] | str,
    *,
    broadcast_right: bool = True,
) -> DataFrame:
    """LEFT OUTER equi-join; drops the right side's key columns afterwards by
    *column reference* (not name), disambiguating duplicate names exactly like
    the reference's ``.drop(zipcode_df.short_zipcode)`` pattern
    (jb_de_enhancement_t1_fulljoin_s2s.py:54,78-81).

    ``on``: either a single shared column name, or a list of
    (left_col, right_col) pairs for composite keys (the reference's 4-column
    products join, J2).
    """
    r = F.broadcast(right) if broadcast_right else right
    if isinstance(on, str):
        cond: Column = left[on] == right[on]
        drop_cols = [right[on]]
    else:
        cond = None
        drop_cols = []
        for lc, rc in on:
            c = left[lc] == right[rc]
            cond = c if cond is None else (cond & c)
            drop_cols.append(right[rc])
    out = left.join(r, cond, "left")
    for c in drop_cols:
        out = out.drop(c)
    return out
