"""Deterministic, input-order-independent group truncation.

DP joins and per-user contribution bounding need "keep at most k rows
per key" where the *choice* of kept rows must not depend on row order
or partitioning (those are adversary-influenceable).  Mechanism
(reference ``tmlt/core/utils/truncation.py:24-313``): order rows
within a group by a content hash, keep the first k by ``row_number`` /
``dense_rank``.

Physical deltas vs the reference, for 100 TB scale:

* The hash is multi-column ``xxhash64(*cols)`` instead of SHA-256 over
  a JSON rendering of the row — no per-row string serialization, and
  the hash evaluates inside WholeStageCodegen.  Neither hash is keyed,
  so both are equally predictable to an adversary; the property that
  matters (independence from row order / partitioning) is preserved.
* Like the reference, ``truncate_large_groups`` includes a
  within-duplicate copy index in the hash (an extra window over *all*
  columns, ``utils/truncation.py:24-88``): without it, every copy of a
  duplicated row shares one hash and sorts adjacently, so a truncated
  hot group collapses to ``threshold`` copies of a single row instead
  of a spread sample (the reference pins this with
  ``test_hash_truncation_duplicate_rows_not_clumped``).  Copies beyond
  the threshold are dropped the moment they are numbered, so the
  numbered copies — and everything downstream — are bounded even for a
  row duplicated a billion times.  ``limit_keys_per_group`` and
  ``drop_large_groups`` select whole key sets / groups, where copy
  identity cannot matter, and skip the index.

Skew: ``truncate_large_groups`` ranks with ``row_number`` and keeps
rows ranked at most ``threshold``.  Spark plans that rank limit as a
``WindowGroupLimit`` (SPARK-37099) whenever ``threshold`` is at or
under ``spark.sql.optimizer.windowGroupLimitThreshold`` (default
1000), with a partial pass before the window's exchange, so each input
partition ships at most ``threshold`` rows of a hot key.  Above that
conf, or with the rewrite disabled, the released multiset is the same
and each key is ranked in one task.

Every input column is resolved once, by its exact name, from the input
frame (:func:`~tumult_core_spark.utils.misc.column_ref`), and that one
reference is reused in the aggregate, the hash, the window and the
final projection: a dotted name is a plain column, and the plan costs
one py4j send per column instead of one function lookup per use.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .misc import column_ref

#: internal helper column names used by the truncation utilities; a
#: user column with one of these names would produce an opaque
#: AMBIGUOUS_REFERENCE mid-job, so reject it up front
_RESERVED = ("__m", "__copy", "__rn", "__cnt", "__dr")


def _check_reserved(df: DataFrame, op: str) -> None:
    clash = [c for c in df.columns if c in _RESERVED]
    if clash:
        raise ValueError(
            f"{op}: column names {clash} collide with internal helper "
            f"columns {_RESERVED}; rename them first"
        )


def _column_refs(df: DataFrame) -> Dict[str, Column]:
    """One exact reference per column of ``df``, in column order."""
    return {c: column_ref(df, c) for c in df.columns}


def truncate_large_groups(
    df: DataFrame, grouping_columns: List[str], threshold: int
) -> DataFrame:
    """Keep at most ``threshold`` hash-chosen rows per group.

    The selection key is ``xxhash64(row content, copy index)`` where
    the copy index numbers identical rows 1..m — the reference's
    duplicate-interleaving scheme (``utils/truncation.py:144-151``,
    pinned by its ``test_hash_truncation_duplicate_rows_not_clumped``):
    without the index, all copies of one duplicated row sort adjacently
    and a truncated hot group degenerates to ``threshold`` copies of a
    single row instead of a hash-spread sample.  Copies beyond the
    threshold are dropped as soon as they are numbered — they can never
    be selected, so a row duplicated a billion times costs ``threshold``
    rows downstream, and a removal neighbor changes the candidate set
    by at most one element (stability factor 2 as before, empirically
    fuzzed in tests/test_property_exact.py).

    The plan: a map-side-combined count aggregate collapses duplicates
    before its shuffle and regenerates ``min(m, threshold)`` numbered
    copies per distinct row (rows are fully described by their
    columns, so this is the same multiset — and cheaper than a window,
    which would shuffle and sort every input row); then one
    ``row_number`` window per group, ordered by the hash with the row
    and copy index as tiebreak, and a filter on the rank.  Spark runs
    that filter as a ``WindowGroupLimit`` with a partial pass before
    the exchange while ``threshold`` is at or under
    ``spark.sql.optimizer.windowGroupLimitThreshold``, which is the
    hot-key guard (see the module docstring).  The result is
    multiset-deterministic and partition-independent: identical rows
    are interchangeable, so the arbitrary copy-index assignment among
    them never changes the released multiset.
    """
    if threshold < 0:
        raise ValueError("threshold must be >= 0")
    if threshold == 0:
        return df.limit(0)
    _check_reserved(df, "truncate_large_groups")
    refs = _column_refs(df)
    cols = list(refs.values())
    # copy indexes from a count aggregate, not a window: rows are fully
    # described by their columns, so regenerating min(m, threshold)
    # numbered copies per distinct row is the same multiset — and the
    # groupBy gets map-side partial aggregation (duplicates collapse
    # BEFORE the shuffle; no sort), where a window over all columns
    # would shuffle and sort every input row.  One normalization rides
    # along: Spark groupBy keys equate -0.0 with 0.0 (and all NaN bit
    # patterns), so a float -0.0 is released as 0.0 — values Spark
    # already treats as equal in every comparison, join, and group
    counted = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__m"))
    copies = F.least(counted["__m"], F.lit(threshold))
    numbered = counted.select(
        *cols, F.explode(F.sequence(F.lit(1), copies)).alias("__copy")
    )
    copy = numbered["__copy"]
    w = Window.partitionBy(*[refs[c] for c in grouping_columns]).orderBy(
        F.xxhash64(*cols, copy), *cols, copy
    )
    ranked = numbered.withColumn("__rn", F.row_number().over(w))
    return ranked.filter(ranked["__rn"] <= threshold).select(*cols)


def drop_large_groups(
    df: DataFrame, grouping_columns: List[str], threshold: int
) -> DataFrame:
    """Drop entire groups with more than ``threshold`` rows."""
    if threshold < 0:
        raise ValueError("threshold must be >= 0")
    if threshold == 0:
        return df.limit(0)
    _check_reserved(df, "drop_large_groups")
    refs = _column_refs(df)
    w = Window.partitionBy(*[refs[c] for c in grouping_columns])
    counted = df.withColumn("__cnt", F.count(F.lit(1)).over(w))
    return counted.filter(counted["__cnt"] <= threshold).select(*refs.values())


def limit_keys_per_group(
    df: DataFrame,
    grouping_columns: List[str],
    key_columns: List[str],
    threshold: int,
) -> DataFrame:
    """Keep rows for at most ``threshold`` distinct keys per group.

    Keys are chosen by a hash of (group, key) so the surviving key set
    is deterministic and order-independent.
    """
    if threshold < 0:
        raise ValueError("threshold must be >= 0")
    if threshold == 0:
        return df.limit(0)
    _check_reserved(df, "limit_keys_per_group")
    refs = _column_refs(df)
    groups = [refs[c] for c in grouping_columns]
    keys = [refs[c] for c in key_columns]
    w = Window.partitionBy(*groups).orderBy(F.xxhash64(*groups, *keys), *keys)
    ranked = df.withColumn("__dr", F.dense_rank().over(w))
    return ranked.filter(ranked["__dr"] <= threshold).select(*refs.values())
