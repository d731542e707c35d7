"""The benchmark workloads.

Each workload owns its seeded inputs and cycles a fixed list of op
kinds.  ``run(kind)`` is the timed op: it builds what a user would
build, calls the library and brings the result to the driver.
``check(kind, result)`` verifies the output outside the timed region
and returns ``(input_rows, released_values)`` for the op; it raises
``CheckFailed`` on a wrong output.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Dict, List, Tuple

from . import inputs


class CheckFailed(AssertionError):
    """An op's output failed its correctness check."""


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Release:
    """One built dp_session release: its measurement, the public keys
    its output must carry and the columns it must have."""

    measurement: Any
    keys: List[Tuple]
    key_cols: List[str]
    value_cols: List[str]
    input_rows: int


class Workload:
    name = ""
    kinds: List[str] = []
    #: whole cycles of ``kinds`` run, and checked, before timing starts;
    #: the first runs its kinds concurrently
    warmup_cycles = 1
    #: fewest timed (untraced) cycles, however short ``--seconds`` is;
    #: each half of the run then holds at least two cycles
    min_timed_cycles = 4
    #: releases per op that take the parquet freeze and so keep one
    #: frozen-release directory until the session ends
    large_releases_per_op = 0

    @classmethod
    def make_inputs(cls, root: str, seed: int, files: int):
        """Write the seeded inputs; needs no Spark session."""
        raise NotImplementedError

    def run(self, kind: str, tracer) -> Any:
        raise NotImplementedError

    def check(self, kind: str, result: Any, tracer) -> Tuple[int, int]:
        raise NotImplementedError


# --------------------------------------------------------------------------
# dp_session
# --------------------------------------------------------------------------


class DpSession(Workload):
    """One PrivacyAccountant over a lineitem-like and an orders-like
    table, answering a fixed mix of small public-key releases."""

    name = "dp_session"
    kinds = [
        "count", "sum", "average", "quantile", "bounds",
        "partition_selection", "join_count",
    ]
    # JIT compilation of the planner and scheduler runs for about four
    # cycles; it is still busy after two (see README)
    warmup_cycles = 4
    ORDERS = 20_000
    SUPPLIERS = 500

    @classmethod
    def make_inputs(cls, root, seed, files):
        return inputs.make_orders_tables(root, seed, cls.ORDERS, cls.SUPPLIERS, files)

    def __init__(self, spark, t: inputs.OrdersTables):
        from tumult_core_spark.domains import DictDomain, SparkDataFrameDomain
        from tumult_core_spark.measurements.interactive import (
            PrivacyAccountant,
            SequentialComposition,
        )
        from tumult_core_spark.measures import ApproxDP, ApproxDPBudget
        from tumult_core_spark.metrics import DictMetric, SymmetricDifference

        self.tables = t
        li = spark.read.parquet(t.lineitem_path)
        od = spark.read.parquet(t.orders_path)
        self.domain = DictDomain(
            {
                "lineitem": SparkDataFrameDomain.from_spark_schema(li.schema, strict=True),
                "orders": SparkDataFrameDomain.from_spark_schema(od.schema, strict=True),
            }
        )
        self.metric = DictMetric(
            {"lineitem": SymmetricDifference(), "orders": SymmetricDifference()}
        )
        self.d_in = {"lineitem": 1, "orders": 1}
        self.initial_budget = ApproxDPBudget(10**9, "1/2")
        composition = SequentialComposition(
            self.domain, self.metric, ApproxDP(), self.d_in, self.initial_budget
        )
        self.accountant = PrivacyAccountant.launch(
            composition, {"lineitem": li, "orders": od}
        )
        # exact running sums of every privacy_function loss charged
        self.spent_eps = None
        self.spent_delta = None
        self._release: Release = None

    # -- builders: each constructs the full measurement chain ------------

    def _groupby(self, domain, cols, keys):
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_list_of_keys,
        )

        return create_groupby_from_list_of_keys(
            domain, SymmetricDifference(), False, cols, keys
        )

    def _get(self, key):
        from tumult_core_spark.transformations.dictionary import GetValue

        return GetValue(self.domain, self.metric, key)

    def build(self, kind: str) -> Release:
        from tumult_core_spark.measurements import aggregations as agg
        from tumult_core_spark.measurements.quantile import create_quantile_measurement
        from tumult_core_spark.measures import ApproxDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.transformations.join import (
            PrivateJoin,
            TruncationStrategy,
        )
        from tumult_core_spark.transformations.rows import Select

        sd, pure = SymmetricDifference(), (1, 0)
        li_rows = self.tables.lineitem_rows
        get = self._get("lineitem")
        dom = get.output_domain
        if kind == "count":
            cols = ["l_returnflag", "l_linestatus"]
            keys = [(a, b) for a in inputs.RETURN_FLAGS for b in inputs.LINE_STATUSES]
            m = agg.create_count_measurement(
                dom, sd, ApproxDP(), 1, pure,
                groupby_transformation=self._groupby(dom, cols, keys),
            )
            return Release(get | m, keys, cols, ["count"], li_rows)
        if kind == "sum":
            cols, keys = ["l_shipmode"], [(s,) for s in inputs.SHIP_MODES]
            m = agg.create_sum_measurement(
                dom, sd, ApproxDP(), 1, pure, "l_quantity", 0, 50,
                groupby_transformation=self._groupby(dom, cols, keys),
                sum_column="sum_qty",
            )
            return Release(get | m, keys, cols, ["sum_qty"], li_rows)
        if kind == "average":
            cols, keys = ["l_returnflag"], [(f,) for f in inputs.RETURN_FLAGS]
            m = agg.create_average_measurement(
                dom, sd, ApproxDP(), 1, pure, "l_extendedprice", 0, 100_000,
                groupby_transformation=self._groupby(dom, cols, keys),
                average_column="avg_price",
            )
            return Release(get | m, keys, cols, ["avg_price"], li_rows)
        if kind == "quantile":
            cols, keys = ["l_linestatus"], [(s,) for s in inputs.LINE_STATUSES]
            m = create_quantile_measurement(
                dom, sd, ApproxDP(), 1, pure, "l_discount", 0.5, 0.0, 0.1,
                groupby_transformation=self._groupby(dom, cols, keys),
                quantile_column="median_discount",
            )
            return Release(get | m, keys, cols, ["median_discount"], li_rows)
        if kind == "bounds":
            cols, keys = ["l_returnflag"], [(f,) for f in inputs.RETURN_FLAGS]
            m = agg.create_bounds_measurement(
                dom, sd, ApproxDP(), pure, "l_quantity",
                groupby_transformation=self._groupby(dom, cols, keys),
                upper_bound_column="upper", lower_bound_column="lower",
            )
            return Release(get | m, keys, cols, ["lower", "upper"], li_rows)
        if kind == "partition_selection":
            sel = Select(dom, sd, ["l_suppkey"])
            m = agg.create_partition_selection_measurement(
                sel.output_domain, 1, "1/1000000", count_column="count"
            )
            keys = [(k,) for k in range(1, self.tables.num_suppliers + 1)]
            return Release(get | sel | m, keys, ["l_suppkey"], ["count"], li_rows)
        if kind == "join_count":
            join = PrivateJoin(
                self.domain, "lineitem", "orders",
                TruncationStrategy.TRUNCATE, TruncationStrategy.TRUNCATE, 8, 1,
            )
            cols, keys = ["o_orderpriority"], [(p,) for p in inputs.PRIORITIES]
            m = agg.create_count_measurement(
                join.output_domain, sd, ApproxDP(),
                join.stability_function(self.d_in), pure,
                groupby_transformation=self._groupby(join.output_domain, cols, keys),
            )
            return Release(
                join | m, keys, cols, ["count"], li_rows + self.tables.orders_rows
            )
        raise ValueError(f"unknown dp_session op {kind!r}")

    def run(self, kind: str, tracer):
        with tracer.span("build"):
            release = self.build(kind)
        with tracer.span("accountant.measure"):
            frozen = self.accountant.measure(release.measurement)
        table = frozen.toArrow()
        self._release = release
        return table

    def check(self, kind: str, table, tracer):
        from tumult_core_spark.exact_number import ExactNumber

        release = self._release
        with tracer.span("privacy_fn"):
            eps, delta = release.measurement.privacy_function(self.d_in)
        _require(
            isinstance(eps, ExactNumber) and isinstance(delta, ExactNumber),
            f"{kind}: loss is not exact",
        )
        self.spent_eps = eps if self.spent_eps is None else self.spent_eps + eps
        self.spent_delta = (
            delta if self.spent_delta is None else self.spent_delta + delta
        )
        initial_eps, initial_delta = self.initial_budget.value
        left_eps, left_delta = self.accountant.privacy_budget.value
        _require(
            left_eps == initial_eps - self.spent_eps
            and left_delta == initial_delta - self.spent_delta,
            f"{kind}: remaining budget {left_eps, left_delta} != initial minus "
            f"summed losses {initial_eps - self.spent_eps, initial_delta - self.spent_delta}",
        )
        want_cols = release.key_cols + release.value_cols
        _require(
            table.column_names == want_cols,
            f"{kind}: columns {table.column_names} != {want_cols}",
        )
        got = sorted(zip(*[table.column(c).to_pylist() for c in release.key_cols]))
        _require(
            got == sorted(release.keys),
            f"{kind}: released keys do not match the {len(release.keys)} public keys "
            f"({len(got)} rows)",
        )
        for c in release.value_cols:
            _require(table.column(c).null_count == 0, f"{kind}: nulls in {c}")
        return release.input_rows, table.num_rows * len(release.value_cols)


# --------------------------------------------------------------------------
# bulk_release
# --------------------------------------------------------------------------


class BulkRelease(Workload):
    """Full-domain histograms over a public (a, b) cell domain, noised
    on executors and frozen through the parquet path."""

    name = "bulk_release"
    kinds = ["laplace_sum", "gaussian_sum", "geometric_count", "dgauss_count"]
    warmup_cycles = 2
    large_releases_per_op = 1
    A, B = 300, 200  # 60k public cells
    ROWS = 150_000

    @classmethod
    def make_inputs(cls, root, seed, files):
        return inputs.make_cell_table(root, seed, cls.A, cls.B, cls.ROWS, files)

    def __init__(self, spark, t: inputs.CellTable):
        from tumult_core_spark.domains import SparkDataFrameDomain

        self.table = t
        self.cells = len(t.a_values) * len(t.b_values)
        self.data = spark.read.parquet(t.path)
        self.domain = SparkDataFrameDomain.from_spark_schema(self.data.schema, strict=True)

    def build(self, kind: str):
        from tumult_core_spark.measurements import aggregations as agg
        from tumult_core_spark.measures import PureDP, RhoZCDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_column_domains,
        )

        l2 = kind in ("gaussian_sum", "dgauss_count")
        measure = RhoZCDP() if l2 else PureDP()
        gb = create_groupby_from_column_domains(
            self.domain, SymmetricDifference(), l2,
            {"a": self.table.a_values, "b": self.table.b_values},
        )
        if kind.endswith("_sum"):
            return agg.create_sum_measurement(
                self.domain, SymmetricDifference(), measure, 1, 1, "x", 0, 100,
                groupby_transformation=gb, sum_column="value",
            )
        return agg.create_count_measurement(
            self.domain, SymmetricDifference(), measure, 1, 1,
            groupby_transformation=gb, count_column="value",
        )

    def run(self, kind: str, tracer):
        with tracer.span("build"):
            m = self.build(kind)
        with tracer.span("measure"):
            frozen = m(self.data)
        return m, frozen

    def check(self, kind: str, result, tracer):
        from pyspark.sql import functions as F

        m, frozen = result
        with tracer.span("privacy_fn"):
            m.privacy_function(1)
        _require(
            frozen.columns == ["a", "b", "value"],
            f"{kind}: columns {frozen.columns}",
        )
        rows, non_null = frozen.agg(
            F.count(F.lit(1)), F.count("value")
        ).first()
        _require(rows == self.cells, f"{kind}: {rows} rows != {self.cells} cells")
        _require(non_null == rows, f"{kind}: {rows - non_null} null noise values")
        return self.table.rows, rows


WORKLOADS: Dict[str, Callable[..., Workload]] = {
    w.name: w for w in (DpSession, BulkRelease)
}
