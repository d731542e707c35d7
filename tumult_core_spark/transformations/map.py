"""Row-UDF transformations: Map / FlatMap / GroupingFlatMap / FlatMapByKey.

The reference executes trusted row functions via ``rdd.map`` /
``rdd.flatMap`` (``transformations/spark_transformations/map.py:806,
1049``) — per-row pickling.  Here every variant runs through
Arrow-batched ``mapInPandas`` / ``applyInPandas``: rows cross the
JVM/Python boundary in columnar batches, which is the 10-100x path for
Python UDFs at scale.

Null-handling note (the reference documents a pandas round-trip hazard
at ``map.py:1420-1432``): pandas represents int-column nulls as NaN
and silently floats the column.  We hand each trusted function plain
python dicts with real ``None`` (converted from NaN/NaT at the batch
boundary) and rebuild batches from dicts, so the trusted-function
contract matches ``Row`` semantics.
"""

from __future__ import annotations

import itertools
from typing import Any, Callable, Dict, Iterator, List, Optional, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..base import Transformation
from ..domains import (
    OutOfDomainError,
    SparkDataFrameDomain,
    SparkRowDomain,
)
from ..exact_number import ExactNumber
from ..metrics import (
    HammingDistance,
    IfGroupedBy,
    Metric,
    RootSumOfSquared,
    SumOf,
    SymmetricDifference,
)


def _clean_records(pdf: pd.DataFrame) -> List[Dict[str, Any]]:
    """Batch -> list of dicts with NaN/NaT replaced by None.

    Column-wise ``tolist`` + zip is ~4x faster than
    ``astype(object).where(...).to_dict("records")`` — this is the
    per-row plumbing cost of every trusted Python row function.
    """
    names = list(pdf.columns)
    cols = []
    for c in names:
        s = pdf[c]
        kind = s.dtype.kind
        # null-free fast path: the per-element rebuild below is the
        # single largest plumbing cost per row, and most batches carry
        # no nulls — one vectorized hasnans check skips it (r18,
        # guide §4 per-task work)
        if kind in "fc":  # float NaN -> None (pandas null convention)
            vals = s.tolist()
            if s.hasnans:
                vals = [None if v != v else v for v in vals]
        elif kind == "M":  # NaT -> None
            vals = s.tolist()
            if s.hasnans:
                vals = [None if pd.isna(v) else v for v in vals]
        elif kind == "O":
            vals = s.tolist()
            if s.hasnans:
                vals = [
                    None
                    if v is None or (isinstance(v, float) and v != v)
                    else v
                    for v in vals
                ]
        else:
            vals = s.tolist()
        cols.append(vals)
    return [dict(zip(names, row)) for row in zip(*cols)]


class RowToRowTransformation:
    """A trusted Row -> Row function with declared input/output domains.

    ``augment=True`` copies all input columns into the output before
    the function's new columns (reference ``map.py:61``).
    """

    def __init__(
        self,
        input_domain: SparkRowDomain,
        output_domain: SparkRowDomain,
        trusted_f: Callable[[Dict[str, Any]], Dict[str, Any]],
        augment: bool = False,
    ):
        if augment:
            missing = [
                c for c in input_domain.schema if c not in output_domain.schema
            ]
            if missing:
                raise ValueError(
                    f"augment=True but output domain missing input columns {missing}"
                )
        self.input_domain = input_domain
        self.output_domain = output_domain
        self.trusted_f = trusted_f
        self.augment = augment

    def __call__(self, row: Dict[str, Any]) -> Dict[str, Any]:
        out = self.trusted_f(row)
        if self.augment:
            # the merge is itself the defensive copy — no dict() first
            return {**row, **out}
        return dict(out)


class RowToRowsTransformation:
    """A trusted Row -> [Rows] function (FlatMap interior)."""

    def __init__(
        self,
        input_domain: SparkRowDomain,
        output_domain: SparkRowDomain,
        trusted_f: Callable[[Dict[str, Any]], List[Dict[str, Any]]],
        augment: bool = False,
    ):
        self.input_domain = input_domain
        self.output_domain = output_domain
        self.trusted_f = trusted_f
        self.augment = augment

    def __call__(self, row: Dict[str, Any]) -> List[Dict[str, Any]]:
        outs = self.trusted_f(row)
        if self.augment:
            # the merge is itself the defensive copy — no dict() first
            return [{**row, **o} for o in outs]
        return [dict(o) for o in outs]


class RowsToRowsTransformation:
    """A trusted [Rows] -> [Rows] function (per-key FlatMapByKey interior)."""

    def __init__(
        self,
        input_domain: SparkRowDomain,
        output_domain: SparkRowDomain,
        trusted_f: Callable[[List[Dict[str, Any]]], List[Dict[str, Any]]],
    ):
        self.input_domain = input_domain
        self.output_domain = output_domain
        self.trusted_f = trusted_f

    def __call__(self, rows: List[Dict[str, Any]]) -> List[Dict[str, Any]]:
        return [dict(o) for o in self.trusted_f(rows)]


def _widen_for_python(data: DataFrame) -> DataFrame:
    """Repartition a NARROW input before ``mapInPandas``.

    ``mapInPandas`` parallelism equals input partitions, and a small
    parquet scan packs into a handful of file-split partitions
    (sf0.1 lineitem: 3), serializing the Python row work on that many
    cores while the rest idle — the dominant cost of the map_flatmap
    bench entry (~2x the whole-query time).  Catalyst cannot know the
    downstream stage is Python-CPU-bound, so the operator widens to
    the session default parallelism when the input is narrower than
    half of it.  The shuffled relation is the already-column-pruned
    map input (small by construction), so the exchange costs far less
    than the serialization it removes; at scale, scans carry at least
    default-parallelism partitions and this is a no-op.  Row-wise
    semantics are unaffected (the multiset of rows is preserved).

    The partitioning is a deterministic CONTENT hash
    (``xxhash64`` over all columns), not round-robin (r19):
    every keyless ``repartition(n)`` first pays a local sort of its
    input (``spark.sql.execution.sortBeforeRepartition``, needed so
    retried tasks reproduce their row assignment — guide §2.5), while
    a deterministic hash key is retry-safe without the sort;
    interleaved A/B on the bench entry read hash 1.49-1.65 s vs
    round-robin 1.84-1.99 s mins.  Trade-off: an input dominated by
    ONE identical row collapses to one partition where round-robin
    would spread it — the worst case is the un-widened narrow layout
    this helper exists to fix, and the hash path only fires for
    already-narrow (small) inputs, so the downside is bounded; a type
    ``xxhash64`` cannot hash falls back to the sorted round-robin.
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    sc = data.sparkSession.sparkContext
    target = sc.defaultParallelism
    if data.rdd.getNumPartitions() * 2 <= target:
        try:
            return data.repartition(
                target, F.xxhash64(*[F.col(c) for c in data.columns])
            )
        except AnalysisException:  # e.g. DATATYPE_MISMATCH.HASH_MAP_TYPE
            return data.repartition(target)
    return data


def _batch_mapper(
    fn: Callable[[Dict[str, Any]], List[Dict[str, Any]]],
    out_names: List[str],
    out_schema: T.StructType,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows: List[Dict[str, Any]] = []
            for row in _clean_records(pdf):
                out_rows.extend(fn(row))
            yield pd.DataFrame(out_rows, columns=out_names)

    return mapper


class Map(Transformation):
    """Apply a trusted row function to every row (stability 1)."""

    def __init__(self, metric: Metric, row_transformer: RowToRowTransformation):
        if not isinstance(
            metric, (SymmetricDifference, HammingDistance, IfGroupedBy)
        ):
            raise ValueError(f"Unsupported metric {metric!r}")
        in_domain = SparkDataFrameDomain(row_transformer.input_domain.schema)
        out_domain = SparkDataFrameDomain(row_transformer.output_domain.schema)
        if isinstance(metric, IfGroupedBy):
            if metric.column not in out_domain.schema or not row_transformer.augment:
                raise ValueError(
                    "IfGroupedBy requires augment=True (grouping column preserved)"
                )
        super().__init__(in_domain, metric, out_domain, metric)
        self.row_transformer = row_transformer

    def stability_function(self, d_in: Any) -> Any:
        self.input_metric.validate(d_in)
        return d_in

    def __call__(self, data: DataFrame) -> DataFrame:
        rt = self.row_transformer
        out_schema = self.output_domain.spark_schema
        out_names = list(self.output_domain.schema)
        mapper = _batch_mapper(lambda row: [rt(row)], out_names, out_schema)
        return _widen_for_python(data).mapInPandas(mapper, schema=out_schema)


class FlatMap(Transformation):
    """Row -> at most ``max_num_rows`` rows; stability ``d_in * max_num_rows``.

    ``max_num_rows=None`` means unbounded (stability only defined
    under IfGroupedBy input metrics, where it stays d_in).
    """

    def __init__(
        self,
        metric: Metric,
        row_transformer: RowToRowsTransformation,
        max_num_rows: Optional[int],
    ):
        if not isinstance(metric, (SymmetricDifference, IfGroupedBy)):
            raise ValueError(f"Unsupported metric {metric!r}")
        if max_num_rows is not None and max_num_rows < 0:
            raise ValueError("max_num_rows must be >= 0")
        if max_num_rows is None and not isinstance(metric, IfGroupedBy):
            raise ValueError(
                "Unbounded FlatMap requires an IfGroupedBy input metric"
            )
        in_domain = SparkDataFrameDomain(row_transformer.input_domain.schema)
        out_domain = SparkDataFrameDomain(row_transformer.output_domain.schema)
        if isinstance(metric, IfGroupedBy):
            if metric.column not in out_domain.schema or not row_transformer.augment:
                raise ValueError(
                    "IfGroupedBy requires augment=True (grouping column preserved)"
                )
        super().__init__(in_domain, metric, out_domain, metric)
        self.row_transformer = row_transformer
        self.max_num_rows = max_num_rows

    def stability_function(self, d_in: Any) -> Any:
        self.input_metric.validate(d_in)
        if isinstance(self.input_metric, IfGroupedBy):
            return d_in
        return ExactNumber(d_in) * self.max_num_rows

    def __call__(self, data: DataFrame) -> DataFrame:
        rt = self.row_transformer
        k = self.max_num_rows
        out_schema = self.output_domain.spark_schema
        out_names = list(self.output_domain.schema)
        fn = (lambda row: rt(row)[:k]) if k is not None else rt
        mapper = _batch_mapper(fn, out_names, out_schema)
        return _widen_for_python(data).mapInPandas(mapper, schema=out_schema)


class GroupingFlatMap(Transformation):
    """FlatMap that adds exactly one new grouping column whose values
    are distinct within each input row's output.

    The per-row distinctness gives the tighter L2 stability
    ``d_in * sqrt(max_num_rows)`` under RootSumOfSquared (reference
    ``map.py:1015-1028``); under SumOf it is ``d_in * max_num_rows``.
    """

    def __init__(
        self,
        output_metric: Union[SumOf, RootSumOfSquared],
        row_transformer: RowToRowsTransformation,
        max_num_rows: int,
    ):
        if not isinstance(output_metric, (SumOf, RootSumOfSquared)):
            raise ValueError("output_metric must be SumOf or RootSumOfSquared")
        if max_num_rows <= 0:
            raise ValueError("max_num_rows must be > 0")
        if not row_transformer.augment:
            raise ValueError("GroupingFlatMap requires augment=True")
        in_cols = set(row_transformer.input_domain.schema)
        out_cols = list(row_transformer.output_domain.schema)
        new_cols = [c for c in out_cols if c not in in_cols]
        if len(new_cols) != 1:
            raise ValueError(
                f"Exactly one new (grouping) column required, got {new_cols}"
            )
        self.grouping_column = new_cols[0]
        in_domain = SparkDataFrameDomain(row_transformer.input_domain.schema)
        out_domain = SparkDataFrameDomain(row_transformer.output_domain.schema)
        super().__init__(
            in_domain,
            SymmetricDifference(),
            out_domain,
            IfGroupedBy(self.grouping_column, output_metric),
        )
        self.row_transformer = row_transformer
        self.max_num_rows = max_num_rows
        self._l2 = isinstance(output_metric, RootSumOfSquared)

    def stability_function(self, d_in: Any) -> ExactNumber:
        self.input_metric.validate(d_in)
        d = ExactNumber(d_in)
        if self._l2:
            return d * ExactNumber(self.max_num_rows).sqrt()
        return d * self.max_num_rows

    def __call__(self, data: DataFrame) -> DataFrame:
        rt = self.row_transformer
        k = self.max_num_rows
        gcol = self.grouping_column
        out_schema = self.output_domain.spark_schema
        out_names = list(self.output_domain.schema)

        def fn(row: Dict[str, Any]) -> List[Dict[str, Any]]:
            outs = rt(row)[:k]
            seen = set()
            deduped = []
            for o in outs:  # drop repeated grouping values within a row
                v = o.get(gcol)
                if v not in seen:
                    seen.add(v)
                    deduped.append(o)
            return deduped

        mapper = _batch_mapper(fn, out_names, out_schema)
        return _widen_for_python(data).mapInPandas(mapper, schema=out_schema)


class FlatMapByKey(Transformation):
    """Apply a trusted [Rows] -> [Rows] function to all rows sharing a key.

    Input metric must be ``IfGroupedBy(key, SymmetricDifference)``;
    stability is ``d_in`` (each key transformed independently).
    Realized with ``applyInPandas`` over the key column — the
    reference instead collects ``collect_list(struct(*))`` and
    ``rdd.flatMap``s it (``map.py:1343-1458``), which caps group size
    by driver/executor memory; applyInPandas streams per-group batches.

    **Memory contract (hot keys)**: ``applyInPandas`` materializes ONE
    KEY GROUP at a time as a pandas DataFrame in the Python worker, so
    the largest single key must fit in worker memory (roughly
    rows-per-key x row width; the reference caps this the same way via
    its collect_list).  The intended pipeline shape — and what the
    reference's own API enforces by construction — is to bound
    rows-per-key FIRST with :class:`~.truncation.LimitRowsPerGroup`
    (or LimitRowsPerKeyPerGroup), which also bounds the stability; an
    untruncated hot key with tens of millions of rows belongs to the
    truncation step, not to this operator.  See
    tests/test_relational.py::TestFlatMapByKeyHotKey for the pinned
    behavior at a deliberately skewed 1M-row key.
    """

    def __init__(
        self,
        input_domain: SparkDataFrameDomain,
        metric: IfGroupedBy,
        row_transformer: RowsToRowsTransformation,
    ):
        if not isinstance(metric, IfGroupedBy) or not isinstance(
            metric.inner_metric, SymmetricDifference
        ):
            raise ValueError("metric must be IfGroupedBy(key, SymmetricDifference())")
        key = metric.column
        if key not in input_domain.schema:
            raise ValueError(f"Key column {key!r} not in input domain")
        value_cols = [c for c in input_domain.columns if c != key]
        if list(row_transformer.input_domain.schema) != value_cols:
            raise ValueError(
                "row_transformer input domain must match the non-key columns "
                f"{value_cols}"
            )
        out_schema = {key: input_domain[key]}
        out_schema.update(row_transformer.output_domain.schema)
        super().__init__(
            input_domain,
            metric,
            SparkDataFrameDomain(out_schema),
            metric,
        )
        self.row_transformer = row_transformer
        self.key_column = key
        self._value_cols = value_cols

    def stability_function(self, d_in: Any) -> Any:
        self.input_metric.validate(d_in)
        return d_in

    def __call__(self, data: DataFrame) -> DataFrame:
        rt = self.row_transformer
        key = self.key_column
        value_cols = self._value_cols
        out_value_cols = list(rt.output_domain.schema)
        out_schema = self.output_domain.spark_schema

        def apply(pdf: pd.DataFrame) -> pd.DataFrame:
            key_value = pdf[key].iloc[0]
            rows = _clean_records(pdf[value_cols])
            outs = rt(rows)
            result = pd.DataFrame(outs, columns=out_value_cols)
            result.insert(0, key, [key_value] * len(result))
            return result

        return data.groupBy(key).applyInPandas(apply, schema=out_schema)
