"""Shared join implementation with deterministic column ordering.

Semantics follow the reference (``tmlt/core/utils/join.py:27-565``):

* natural join by default (common columns, left order);
* output column order = join columns, then left non-key columns, then
  right non-key columns; shared non-key columns suffixed ``_left`` /
  ``_right``;
* optional null-safe key equality (``nulls_are_equal``) via
  ``eqNullSafe`` + coalesced key output;
* output-domain inference propagates null/NaN permissions per join
  type.

The physical join strategy is left entirely to Catalyst/AQE; callers
that know one side is small pass ``broadcast_right=True`` to hint.
Every column is resolved by its exact name
(:func:`~tumult_core_spark.utils.misc.column_ref`), so a dotted name is
a plain column, not a struct access.
"""

from __future__ import annotations

import dataclasses
from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..domains import (
    SparkColumnDescriptor,
    SparkDataFrameDomain,
    SparkFloatColumnDescriptor,
)
from .misc import column_ref

_VALID_HOW = ("inner", "left", "right", "outer", "left_anti", "left_semi")


def natural_join_columns(
    left_columns: List[str], right_columns: List[str]
) -> List[str]:
    """Common columns in left order (the default join keys)."""
    return [c for c in left_columns if c in right_columns]


def columns_after_join(
    left_columns: List[str],
    right_columns: List[str],
    on: Optional[List[str]] = None,
    how: str = "inner",
) -> Dict[str, Tuple[Optional[str], Optional[str]]]:
    """Output columns (ordered) -> (left origin, right origin)."""
    if on is None:
        on = natural_join_columns(left_columns, right_columns)
    if how in ("left_anti", "left_semi"):
        out: Dict[str, Tuple[Optional[str], Optional[str]]] = {
            c: (c, None) for c in on
        }
        out.update({c: (c, None) for c in left_columns if c not in on})
        return out
    out = {c: (c, c) for c in on}
    for c in left_columns:
        if c in on:
            continue
        out[f"{c}_left" if c in right_columns else c] = (c, None)
    for c in right_columns:
        if c in on:
            continue
        out[f"{c}_right" if c in left_columns else c] = (None, c)
    return out


def validate_join(
    left_domain: SparkDataFrameDomain,
    right_domain: SparkDataFrameDomain,
    on: Optional[List[str]],
    how: str,
) -> List[str]:
    """Validate keys/types; return the resolved join columns."""
    if how not in _VALID_HOW:
        raise ValueError(f"Invalid join type {how!r}")
    if on is None:
        on = natural_join_columns(left_domain.columns, right_domain.columns)
    if not on:
        raise ValueError("No common columns to join on")
    if len(set(on)) != len(on):
        raise ValueError(f"Duplicate join columns: {on}")
    for c in on:
        if c not in left_domain.schema or c not in right_domain.schema:
            raise ValueError(f"Join column {c!r} missing from one side")
        lt = left_domain[c].data_type()
        rt = right_domain[c].data_type()
        if lt != rt:
            raise ValueError(f"Join column {c!r} type mismatch: {lt} vs {rt}")
        # float join keys are allowed, as in the reference: Spark's
        # comparison semantics make NaN = NaN TRUE, and the output
        # domain intersects allow_nan/allow_inf accordingly (see
        # join_output_domain)
    # Suffix collisions: columns_after_join builds a dict, so a
    # collision (e.g. left 'x' suffixed to 'x_left' overwritten by a
    # literal left 'x_left') manifests as a SILENTLY SMALLER dict —
    # column data would vanish from the join output.  Compare against
    # the collision-free output count.  (An earlier len(dict) !=
    # len(set(dict)) check was a no-op — dict keys are always unique —
    # and a companion suffix heuristic flagged VALID joins whose
    # passthrough columns merely looked suffixed.)
    out_cols = columns_after_join(
        left_domain.columns, right_domain.columns, on, how
    )
    if how in ("left_anti", "left_semi"):
        expected = len(left_domain.columns)
    else:
        expected = (
            len(on)
            + sum(1 for c in left_domain.columns if c not in on)
            + sum(1 for c in right_domain.columns if c not in on)
        )
    if len(out_cols) != expected:
        raise ValueError(
            "Join would produce duplicate output columns (a suffixed "
            "name collides with an existing column); rename before "
            f"joining: left={left_domain.columns}, "
            f"right={right_domain.columns}, on={list(on)}"
        )
    return list(on)


def join_output_domain(
    left_domain: SparkDataFrameDomain,
    right_domain: SparkDataFrameDomain,
    on: List[str],
    how: str,
    nulls_are_equal: bool,
) -> SparkDataFrameDomain:
    """Infer the output domain with null/NaN flag propagation."""
    out_cols = columns_after_join(
        left_domain.columns, right_domain.columns, on, how
    )
    schema: Dict[str, SparkColumnDescriptor] = {}
    for name, (l_col, r_col) in out_cols.items():
        if l_col is not None and r_col is not None:  # join key
            ld, rd = left_domain[l_col], right_domain[r_col]
            if how == "inner":
                allow_null = (ld.allow_null and rd.allow_null) and nulls_are_equal
            elif how in ("left", "left_anti", "left_semi"):
                allow_null = ld.allow_null
            elif how == "right":
                allow_null = rd.allow_null
            else:
                allow_null = ld.allow_null or rd.allow_null
            d = dataclasses.replace(ld, allow_null=allow_null)
            if isinstance(ld, SparkFloatColumnDescriptor):
                # Spark comparison semantics: NaN = NaN is TRUE and
                # inf = inf is TRUE, so float-key special values merge
                # like nulls under nulls_are_equal — intersection for
                # inner, the surviving side's flag for one-sided joins
                # (reference utils/join.py domain_after_join)
                assert isinstance(rd, SparkFloatColumnDescriptor)
                if how == "inner":
                    allow_nan = ld.allow_nan and rd.allow_nan
                    allow_inf = ld.allow_inf and rd.allow_inf
                elif how in ("left", "left_anti", "left_semi"):
                    allow_nan, allow_inf = ld.allow_nan, ld.allow_inf
                elif how == "right":
                    allow_nan, allow_inf = rd.allow_nan, rd.allow_inf
                else:
                    allow_nan = ld.allow_nan or rd.allow_nan
                    allow_inf = ld.allow_inf or rd.allow_inf
                d = dataclasses.replace(d, allow_nan=allow_nan, allow_inf=allow_inf)
            schema[name] = d
        elif l_col is not None:
            d = left_domain[l_col]
            if how in ("right", "outer"):
                d = dataclasses.replace(d, allow_null=True)
            schema[name] = d
        else:
            d = right_domain[r_col]
            if how in ("left", "outer"):
                d = dataclasses.replace(d, allow_null=True)
            schema[name] = d
    return SparkDataFrameDomain(schema)


def join(
    left: DataFrame,
    right: DataFrame,
    how: str = "inner",
    on: Optional[List[str]] = None,
    nulls_are_equal: bool = False,
    broadcast_right: bool = False,
) -> DataFrame:
    """Join with reference column ordering / suffixing semantics."""
    if on is None:
        on = natural_join_columns(left.columns, right.columns)
    out_cols = columns_after_join(left.columns, right.columns, on, how)

    right_in = F.broadcast(right) if broadcast_right else right
    if nulls_are_equal:
        cond = None
        for c in on:
            clause = column_ref(left, c).eqNullSafe(column_ref(right_in, c))
            cond = clause if cond is None else cond & clause
        joined = left.join(right_in, cond, how)
    else:
        joined = left.join(right_in, on, how)

    if how in ("left_anti", "left_semi"):
        return joined.select(*[column_ref(left, c) for c in out_cols])

    select_exprs: List[Column] = []
    for name, (l_col, r_col) in out_cols.items():
        if l_col is not None and r_col is not None:
            if nulls_are_equal:
                # both sides present as distinct columns; coalesce keys
                expr = F.coalesce(column_ref(left, l_col), column_ref(right_in, r_col))
            else:
                # Spark's on=[...] join already merged the key columns
                expr = column_ref(joined, l_col)
        elif l_col is not None:
            expr = column_ref(left, l_col)
        else:
            expr = column_ref(right_in, r_col)
        select_exprs.append(expr.alias(name))
    return joined.select(*select_exprs)
