"""GroupedDataFrame: a DataFrame paired with explicit public group keys.

Unlike ``df.groupBy()``, aggregation over a GroupedDataFrame returns
**exactly one row per public key**: keys absent from the data get a
``fill_value``; data groups absent from the key set are dropped.  This
is the DP-critical property that the set of output groups must not
depend on the private data (reference
``tmlt/core/utils/grouped_dataframe.py:19-241``).

Spark realization: ``group_keys LEFT JOIN (df.groupBy(keys).agg(...))``
with null-safe key equality, then ``coalesce`` fill.  The join is
between two group-cardinality relations (not the raw data), so AQE
picks a broadcast build side whenever the key set is small; at 100 TB
the expensive part is the upstream partial-aggregated shuffle, which
Spark already map-side combines.
"""

from __future__ import annotations

from functools import cached_property
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

    def _keys_left_join(self, right: DataFrame, value_cols: List[str]) -> DataFrame:
        """group_keys LEFT JOIN right on null-safe key equality."""
        keys = self._group_keys
        cols = self.groupby_columns
        if not cols:
            return right
        cond = None
        for c in cols:
            clause = keys[c].eqNullSafe(right[c])
            cond = clause if cond is None else cond & clause
        joined = keys.join(right, cond, "left")
        return joined.select(
            *[keys[c] for c in cols], *[joined[v] for v in value_cols]
        )

    def agg(self, func: Column, fill_value) -> DataFrame:
        """Aggregate each group; exactly one output row per public key.

        ``func`` must be an aliased aggregate Column; missing groups are
        filled with ``fill_value`` cast to the aggregate's type.
        """
        cols = self.groupby_columns
        if not cols:
            return self._dataframe.agg(func)
        agged = self._dataframe.groupBy(*cols).agg(func)
        out_name = agged.columns[-1]
        out_type = agged.schema[out_name].dataType
        joined = self._keys_left_join(agged, [out_name])
        return joined.withColumn(
            out_name,
            # joined[out_name], not F.col(out_name): release aliases may
            # contain dots/parens (quantile columns are named
            # 'q0.5(col)'), which F.col would parse as a struct access
            F.coalesce(joined[out_name], F.lit(fill_value).cast(out_type)),
        )

    def apply_in_pandas(
        self, func: Callable, output_schema: T.StructType
    ) -> DataFrame:
        """Run a pandas DataFrame -> DataFrame function per group.

        Groups with a public key but no data rows receive an **empty**
        pandas DataFrame, so every key yields output.  Output columns =
        group keys + ``output_schema`` fields.

        Physical plan: broadcast **semi-join** to drop non-key groups
        (no wide join against the raw data), one shuffle for
        ``applyInPandas``, and a key-only **anti-join** relation for
        the public keys absent from the data, evaluated by the same
        ``applyInPandas`` machinery on executors (``func`` sees an
        empty pandas frame per missing key).  The reference instead
        left-joins the keys against the full tagged dataset
        (``grouped_dataframe.py:133-186``) — a second full shuffle this
        avoids — and nothing here runs on the driver, so a ~1e6-key
        public key set over sparse data stays distributed.
        """
        cols = self.groupby_columns
        data_cols = [c for c in self._dataframe.columns if c not in cols]
        if not cols:
            raise ValueError("apply_in_pandas requires at least one group column")

        keys = self._group_keys
        cond = None
        for c in cols:
            clause = self._dataframe[c].eqNullSafe(keys[c])
            cond = clause if cond is None else cond & clause
        # size-gated broadcast: public key sets are usually tiny, but a
        # column-domain product can be arbitrarily large — fall back to
        # a shuffled semi-join instead of an unbounded broadcast.
        from tumult_core_spark.utils.scale import broadcast_below

        n = self.n_keys
        keys_hinted = broadcast_below(keys, n, est_row_bytes=32 * len(cols) + 32)
        present = self._dataframe.join(keys_hinted, cond, "left_semi")

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

        key_fields = [self._group_keys.schema[c] for c in cols]
        full_schema = T.StructType(list(key_fields) + list(output_schema.fields))
        out_names = [f.name for f in output_schema.fields]

        # FUSED one-stage plan (r18): instead of a second full pass
        # over the data (dropDuplicates of the data's keys + anti-join
        # + a SECOND applyInPandas stage for the empty public keys),
        # union one typed SENTINEL row per public key into the
        # semi-joined data and run ONE applyInPandas.  Every public
        # key's group then exists by construction; the wrapper drops
        # the sentinel rows before calling ``func``, so a key with no
        # data rows hands ``func`` an EMPTY frame whose dtypes come
        # from the same Arrow batch as data-bearing groups (typed
        # non-null defaults keep int columns int).  Removes per
        # release: one full data aggregation, one join, one Python
        # stage, and the union of two Python-stage outputs.  Falls
        # back to the two-stage path for data column types without a
        # typed default literal.
        _defaults = {
            "tinyint": F.lit(0), "smallint": F.lit(0), "int": F.lit(0),
            "bigint": F.lit(0), "float": F.lit(0.0), "double": F.lit(0.0),
            "boolean": F.lit(False), "string": F.lit(""),
            "date": F.lit("1970-01-01"), "timestamp": F.lit("1970-01-01"),
            "timestamp_ntz": F.lit("1970-01-01"),
        }
        sentinel_cols = {}
        fused = True
        for c in data_cols:
            dt = self._dataframe.schema[c].dataType
            base = _defaults.get(dt.simpleString())
            if base is None:
                fused = False
                break
            sentinel_cols[c] = base.cast(dt).alias(c)

        if fused:
            from .misc import get_nonconflicting_string

            marker = get_nonconflicting_string(self._dataframe.columns + cols)
            sentinels = keys.select(
                *[F.col(c) for c in cols],
                *[sentinel_cols[c] for c in data_cols],
                F.lit(True).alias(marker),
            )
            combined = present.select(
                *[F.col(c) for c in cols + data_cols]
            ).withColumn(marker, F.lit(False)).unionByName(sentinels)

            def fused_wrapper(key, pdf):
                real = pdf.loc[~pdf[marker], data_cols].reset_index(drop=True)
                result = func(real)
                for i, c in enumerate(cols):
                    result.insert(i, c, [key[i]] * len(result))
                return result[cols + out_names]

            if apply_parts < shuffle_parts:
                combined = combined.repartition(apply_parts, *cols)
            return combined.groupBy(*cols).applyInPandas(
                fused_wrapper, schema=full_schema
            )

        def wrapper(key, pdf):
            result = func(pdf[data_cols])
            for i, c in enumerate(cols):
                result.insert(i, c, [key[i]] * len(result))
            return result[cols + out_names]

        if apply_parts < shuffle_parts:
            present = present.repartition(apply_parts, *cols)
        result = present.groupBy(*cols).applyInPandas(wrapper, schema=full_schema)

        # Public keys with no data rows: anti-join them out as a
        # key-only relation and feed func an empty pandas frame per
        # key through the same applyInPandas path, on executors.
        present_keys = self._dataframe.select(*cols).dropDuplicates()
        cond2 = None
        for c in cols:
            clause = keys[c].eqNullSafe(present_keys[c])
            cond2 = clause if cond2 is None else cond2 & clause
        missing = keys.join(present_keys, cond2, "left_anti")

        # Arrow dtype per data column, so func sees the SAME dtypes on a
        # missing-key (empty) group as on a data-bearing one — all-object
        # empty columns change dtype-sensitive pandas reductions
        import numpy as np

        _spark_to_pd = {
            "tinyint": np.int8, "smallint": np.int16, "int": np.int32,
            "bigint": np.int64, "float": np.float32, "double": np.float64,
            "boolean": np.bool_, "string": object,
        }
        data_dtypes = {
            c: _spark_to_pd.get(
                self._dataframe.schema[c].dataType.simpleString(), object
            )
            for c in data_cols
        }

        def empty_wrapper(key, pdf):
            import pandas as pd

            out = func(
                pd.DataFrame(
                    {c: pd.Series(dtype=data_dtypes[c]) for c in data_cols}
                )
            )
            for i, c in enumerate(cols):
                out.insert(i, c, [key[i]] * len(out))
            return out[cols + out_names]

        if apply_parts < shuffle_parts:
            missing = missing.repartition(apply_parts, *cols)
        fill = missing.groupBy(*cols).applyInPandas(empty_wrapper, schema=full_schema)
        return result.unionByName(fill)

    def select(self, columns: List[str]) -> "GroupedDataFrame":
        keep = list(dict.fromkeys(self.groupby_columns + columns))
        return GroupedDataFrame(
            self._dataframe.select(*keep), self._group_keys, n_keys=self.n_keys
        )
