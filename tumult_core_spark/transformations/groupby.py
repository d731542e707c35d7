"""GroupBy transformation: bind explicit public group keys.

Produces a :class:`~..utils.grouped_dataframe.GroupedDataFrame`; the
output metric becomes ``SumOf(SymmetricDifference())`` (L1 accounting,
PureDP) or ``RootSumOfSquared(SymmetricDifference())`` (L2, zCDP).

Parity: reference ``transformations/spark_transformations/groupby.py:41-475``.
The Cartesian-product key builder generates keys **distributedly** via
chained ``crossJoin`` above a driver-size threshold — the reference
materializes up to 1e6 rows on the driver (``groupby.py:437-455``),
which does not survive 100 TB key domains.
"""

from __future__ import annotations

import itertools
from functools import cached_property
from typing import Any, Dict, List, Mapping, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..base import Transformation
from ..domains import SparkDataFrameDomain, SparkGroupedDataFrameDomain
from ..exact_number import ExactNumber
from ..metrics import (
    HammingDistance,
    IfGroupedBy,
    Metric,
    RootSumOfSquared,
    SumOf,
    SymmetricDifference,
)
from ..utils.grouped_dataframe import GroupedDataFrame
from ..utils.misc import local_rows_df

_DRIVER_PRODUCT_LIMIT = 100_000  # above this, build the key product in Spark


class GroupBy(Transformation):
    """Bind a public group-keys DataFrame to the data."""

    def __init__(
        self,
        input_domain: SparkDataFrameDomain,
        input_metric: Metric,
        use_l2: bool,
        group_keys: DataFrame,
        n_keys: Optional[int] = None,
    ):
        groupby_columns = list(group_keys.columns)
        missing = [c for c in groupby_columns if c not in input_domain.schema]
        if missing:
            raise ValueError(f"Group key column(s) {missing} not in domain")
        for c in groupby_columns:
            expected = input_domain[c].data_type()
            if isinstance(expected, (T.FloatType, T.DoubleType)):
                # reference forbids float group keys at construction
                # (NaN != NaN under grouping vs comparison semantics;
                # doc/topic-guides/special-values.rst "GroupBy")
                raise ValueError(f"Cannot group by float column {c!r}")
            actual = group_keys.schema[c].dataType
            if expected != actual:
                raise ValueError(
                    f"Key column {c!r}: domain type {expected} != keys type {actual}"
                )
        if isinstance(input_metric, IfGroupedBy):
            if input_metric.column not in groupby_columns:
                raise ValueError(
                    f"IfGroupedBy column {input_metric.column!r} must be a group key"
                )
            inner = input_metric.inner_metric
            expected_inner = (
                RootSumOfSquared(SymmetricDifference())
                if use_l2
                else SumOf(SymmetricDifference())
            )
            if inner != expected_inner and inner != SymmetricDifference():
                raise ValueError(
                    f"IfGroupedBy inner metric {inner!r} incompatible with use_l2={use_l2}"
                )
        elif not isinstance(input_metric, (SymmetricDifference, HammingDistance)):
            raise ValueError(f"Unsupported input metric {input_metric!r}")

        output_metric = (
            RootSumOfSquared(SymmetricDifference())
            if use_l2
            else SumOf(SymmetricDifference())
        )
        super().__init__(
            input_domain,
            input_metric,
            SparkGroupedDataFrameDomain(input_domain.schema, groupby_columns),
            output_metric,
        )
        self.group_keys = group_keys.dropDuplicates()
        self.groupby_columns = groupby_columns
        self.use_l2 = use_l2
        if n_keys is not None:
            self.n_keys = n_keys

    @cached_property
    def n_keys(self) -> int:
        """Upper bound on the public key count: the caller's count when
        given, else the deduplicated keys counted once and memoised.
        The keys are public, so the count is noise-independent."""
        return self.group_keys.count()

    def stability_function(self, d_in: Any) -> Any:
        self.input_metric.validate(d_in)
        d = ExactNumber(d_in)
        if isinstance(self.input_metric, HammingDistance):
            return d * 2
        return d

    def __call__(self, data: DataFrame) -> GroupedDataFrame:
        return GroupedDataFrame(data, self.group_keys, n_keys=self.n_keys)


def compute_full_domain_df(
    spark: SparkSession,
    column_to_values: Mapping[str, Sequence[Any]],
    schema: T.StructType,
) -> DataFrame:
    """Cartesian product of per-column value lists as a DataFrame.

    Small products are built on the driver; large ones are generated in
    Spark with chained broadcast ``crossJoin`` so the driver never holds
    the full product.
    """
    names = list(column_to_values)
    sizes = [len(column_to_values[c]) for c in names]
    total = 1
    for s in sizes:
        total *= s
    if total <= _DRIVER_PRODUCT_LIMIT:
        rows = list(itertools.product(*[column_to_values[c] for c in names]))
        # JVM-local relation sized to the row count: the classic
        # createDataFrame(list) path costs one Python task per core
        # per evaluation (see utils.misc.local_rows_df)
        return local_rows_df(spark, rows, schema)
    result = None
    for c in names:
        col_df = local_rows_df(
            spark, [(v,) for v in column_to_values[c]], T.StructType([schema[c]])
        )
        result = col_df if result is None else result.crossJoin(F.broadcast(col_df))
    n_part = spark.sparkContext.defaultParallelism
    return result.repartition(n_part)


def create_groupby_from_column_domains(
    input_domain: SparkDataFrameDomain,
    input_metric: Metric,
    use_l2: bool,
    column_to_values: Mapping[str, Sequence[Any]],
) -> GroupBy:
    """GroupBy whose keys are the product of per-column value lists."""
    spark = SparkSession.active()
    schema = T.StructType(
        [input_domain[c].to_field(c) for c in column_to_values]
    )
    keys = compute_full_domain_df(spark, column_to_values, schema)
    total = 1
    for vals in column_to_values.values():
        total *= len(vals)
    return GroupBy(input_domain, input_metric, use_l2, keys, n_keys=total)


def create_groupby_from_list_of_keys(
    input_domain: SparkDataFrameDomain,
    input_metric: Metric,
    use_l2: bool,
    groupby_columns: List[str],
    keys: Sequence[Tuple],
) -> GroupBy:
    """GroupBy with an explicit list of key tuples."""
    spark = SparkSession.active()
    schema = T.StructType([input_domain[c].to_field(c) for c in groupby_columns])
    key_list = list(keys)
    keys_df = local_rows_df(spark, key_list, schema)
    return GroupBy(input_domain, input_metric, use_l2, keys_df, n_keys=len(key_list))
