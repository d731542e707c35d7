"""GroupedDataFrame: a DataFrame paired with explicit public group keys.

Unlike ``df.groupBy()``, aggregation over a GroupedDataFrame returns
**exactly one row per public key**: keys absent from the data get a
``fill_value``; data groups absent from the key set are dropped.  This
is the DP-critical property that the set of output groups must not
depend on the private data (reference
``tmlt/core/utils/grouped_dataframe.py:19-241``).

Each grouped-release step has one implementation here:

* :meth:`GroupedDataFrame.agg` is the one 0-fill: ``group_keys LEFT
  JOIN (df.groupBy(keys).agg(...))`` with null-safe key equality, then
  a typed ``coalesce`` per aggregate column.  The join is between two
  group-cardinality relations (not the raw data), so AQE picks a
  broadcast build side whenever the key set is small; at 100 TB the
  expensive part is the upstream partial-aggregated shuffle, which
  Spark already map-side combines.
* :meth:`GroupedDataFrame.apply_in_pandas` is the one per-group pandas
  plan: one typed sentinel row per public key, one ``applyInPandas``.
"""

from __future__ import annotations

import operator
from functools import cached_property, reduce
from typing import Callable, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class GroupedDataFrame:
    """DataFrame + public group-keys DataFrame."""

    def __init__(
        self,
        dataframe: DataFrame,
        group_keys: DataFrame,
        n_keys: Optional[int] = None,
    ):
        """``n_keys``: upper bound on the key count when the caller
        already knows it (literal key lists, column-domain products);
        otherwise the deduplicated keys are counted on first use."""
        key_cols = group_keys.columns
        missing = [c for c in key_cols if c not in dataframe.columns]
        if missing:
            raise ValueError(f"Group key column(s) {missing} not in dataframe")
        for fld in group_keys.schema.fields:
            if isinstance(fld.dataType, (T.FloatType, T.DoubleType)):
                raise ValueError(f"Cannot group by float column {fld.name!r}")
            df_type = dataframe.schema[fld.name].dataType
            if df_type != fld.dataType:
                raise ValueError(
                    f"Type mismatch on key {fld.name!r}: keys {fld.dataType}, data {df_type}"
                )
        self._dataframe = dataframe
        self._group_keys = group_keys.dropDuplicates()
        if n_keys is not None:
            self.n_keys = n_keys

    @property
    def dataframe(self) -> DataFrame:
        return self._dataframe

    @property
    def group_keys(self) -> DataFrame:
        return self._group_keys

    @cached_property
    def n_keys(self) -> int:
        """Upper bound on the public key count: the construction-time
        count, else the deduplicated keys counted once and memoised."""
        return self._group_keys.count()

    @property
    def groupby_columns(self) -> List[str]:
        return list(self._group_keys.columns)

    def agg(self, *aggs: Column, fill_value) -> DataFrame:
        """Aggregate each group; exactly one output row per public key.

        ``aggs`` are aliased aggregate Columns.  Every null aggregate
        value becomes ``fill_value``, cast to that column's type: this
        fills the public keys absent from the data and, with no group
        columns, an empty input.  Output columns = group keys +
        ``aggs``.
        """
        cols = self.groupby_columns
        keys = self._group_keys
        if cols:
            agged = self._dataframe.groupBy(*cols).agg(*aggs)
            cond = reduce(
                operator.and_, [keys[c].eqNullSafe(agged[c]) for c in cols]
            )
            joined = keys.join(agged, cond, "left")
        else:
            agged = joined = self._dataframe.agg(*aggs)
        return joined.select(
            *[keys[c] for c in cols],
            # agged[name], not F.col(name): release aliases may contain
            # dots/parens (quantile columns are named 'q0.5(col)'),
            # which F.col would parse as a struct access
            *[
                F.coalesce(agged[f.name], F.lit(fill_value).cast(f.dataType))
                .alias(f.name)
                for f in agged.schema.fields[len(cols):]
            ],
        )

    def apply_in_pandas(
        self, func: Callable, output_schema: T.StructType
    ) -> DataFrame:
        """Run a pandas DataFrame -> DataFrame function per group.

        Groups with a public key but no data rows receive an **empty**
        pandas DataFrame with the same dtypes as a data-bearing group's
        frame, so every key yields output.  Output columns = group keys
        + ``output_schema`` fields.

        Physical plan: a size-gated broadcast **semi-join** drops
        non-key groups (no wide join against the raw data), then ONE
        ``applyInPandas`` over the kept rows unioned with one
        **sentinel** row per public key.  Every public key's group
        therefore exists by construction; the wrapper drops the
        sentinel rows before calling ``func``.  The reference instead
        left-joins the keys against the full tagged dataset
        (``grouped_dataframe.py:133-186``) — a second full shuffle this
        avoids — and nothing here runs on the driver, so a ~1e6-key
        public key set over sparse data stays distributed.

        A sentinel holds a typed zero in numeric and boolean columns,
        so pandas keeps their integer and bool dtypes, and a typed null
        in every other column: those reach pandas as object or datetime
        dtypes, where a null changes no dtype.
        """
        cols = self.groupby_columns
        data_cols = [c for c in self._dataframe.columns if c not in cols]
        if not cols:
            raise ValueError("apply_in_pandas requires at least one group column")

        keys = self._group_keys
        cond = reduce(
            operator.and_,
            [self._dataframe[c].eqNullSafe(keys[c]) for c in cols],
        )
        # size-gated broadcast: public key sets are usually tiny, but a
        # column-domain product can be arbitrarily large — fall back to
        # a shuffled semi-join instead of an unbounded broadcast.
        from tumult_core_spark.utils.scale import broadcast_below

        n = self.n_keys
        keys_hinted = broadcast_below(keys, n, est_row_bytes=32 * len(cols) + 32)
        present = self._dataframe.join(keys_hinted, cond, "left_semi")

        from .misc import get_nonconflicting_string

        marker = get_nonconflicting_string(self._dataframe.columns)
        schema = self._dataframe.schema
        sentinels = keys.select(
            *cols,
            *[_sentinel(schema[c].dataType).alias(c) for c in data_cols],
            F.lit(True).alias(marker),
        )
        combined = present.withColumn(marker, F.lit(False)).unionByName(sentinels)

        # applyInPandas shuffles to spark.sql.shuffle.partitions; with a
        # small public key set most partitions are EMPTY yet each still
        # runs a Python task (~150-300 ms of runner round trip on a warm
        # worker).  One task per group is also the maximum useful
        # parallelism (a group cannot split across tasks), so when the
        # key count is below the configured partition count, pre-hash
        # the rows into exactly that many partitions — groupBy reuses
        # the partitioning (HashPartitioning on the group columns
        # satisfies the required clustered distribution) and plans NO
        # second exchange.  At scale (n >= shuffle partitions) this is
        # a no-op.
        spark = self._dataframe.sparkSession
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        apply_parts = max(1, min(shuffle_parts, n))
        if apply_parts < shuffle_parts:
            combined = combined.repartition(apply_parts, *cols)

        key_fields = [keys.schema[c] for c in cols]
        full_schema = T.StructType(key_fields + list(output_schema.fields))
        out_names = [f.name for f in output_schema.fields]

        def wrapper(key, pdf):
            real = pdf.loc[~pdf[marker], data_cols].reset_index(drop=True)
            result = func(real)
            for i, c in enumerate(cols):
                result.insert(i, c, [key[i]] * len(result))
            return result[cols + out_names]

        return combined.groupBy(*cols).applyInPandas(wrapper, schema=full_schema)

    def select(self, columns: List[str]) -> "GroupedDataFrame":
        keep = list(dict.fromkeys(self.groupby_columns + columns))
        return GroupedDataFrame(
            self._dataframe.select(*keep), self._group_keys, n_keys=self.n_keys
        )


def _sentinel(data_type: T.DataType) -> Column:
    """The sentinel value of a data column: a typed zero for numeric and
    boolean types (pandas keeps their integer and bool dtypes), a typed
    null for every other type."""
    if isinstance(data_type, (T.NumericType, T.BooleanType)):
        return F.lit(0).cast(data_type)
    return F.lit(None).cast(data_type)
