"""Quantile, bounds/SVT, interactive accountant, dictionary ops."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tumult_core_spark.domains import (
    DictDomain,
    ListDomain,
    SparkDataFrameDomain,
    SparkIntegerColumnDescriptor,
    SparkStringColumnDescriptor,
)
from tumult_core_spark.exact_number import ExactNumber
from tumult_core_spark.measures import InsufficientBudgetError, PureDP, PureDPBudget
from tumult_core_spark.metrics import (
    DictMetric,
    SumOf,
    SymmetricDifference,
)
from tumult_core_spark.measurements.aggregations import (
    create_bounds_measurement,
    create_count_measurement,
    create_sum_measurement,
)
from tumult_core_spark.measurements.quantile import create_quantile_measurement
from tumult_core_spark.measurements.interactive import (
    AccountantState,
    PrivacyAccountant,
    SequentialComposition,
)
from tumult_core_spark.transformations.dictionary import (
    CreateDictFromValue,
    GetValue,
    Subset,
    TransformValue,
)
from tumult_core_spark.transformations.groupby import (
    create_groupby_from_list_of_keys,
)
from tumult_core_spark.transformations.rows import Filter

INT = SparkIntegerColumnDescriptor(size=64)
STR = SparkStringColumnDescriptor()


@pytest.fixture(scope="module")
def values(spark):
    rows = [("a", i) for i in range(1, 101)] + [("b", i) for i in range(50, 151)]
    return spark.createDataFrame(rows, "g string, x long")


def v_domain():
    return SparkDataFrameDomain({"g": STR, "x": INT})


class TestQuantile:
    def test_grouped_quantile_high_eps(self, spark, values):
        gb = create_groupby_from_list_of_keys(
            v_domain(), SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        m = create_quantile_measurement(
            v_domain(),
            SymmetricDifference(),
            PureDP(),
            d_in=1,
            d_out=100,
            measure_column="x",
            quantile=0.5,
            lower=0,
            upper=200,
            groupby_transformation=gb,
            quantile_column="median_x",
        )
        assert m.privacy_function(1) == 100
        got = {r["g"]: r["median_x"] for r in m(values).collect()}
        # with eps=100 the median is tightly concentrated
        assert abs(got["a"] - 50) < 10
        assert abs(got["b"] - 100) < 10

    def test_grouped_quantile_absent_key_no_driver_collect(self, spark, values):
        # A public key with no data rows still yields a row (uniform
        # over [lower, upper] from the empty-frame mechanism), and the
        # missing-key fill runs through applyInPandas on executors —
        # constructing the plan must not trigger any driver collect().
        from pyspark.sql import DataFrame

        gb = create_groupby_from_list_of_keys(
            v_domain(), SymmetricDifference(), False, ["g"],
            [("a",), ("b",), ("zz",)],
        )
        m = create_quantile_measurement(
            v_domain(), SymmetricDifference(), PureDP(), d_in=1, d_out=100,
            measure_column="x", quantile=0.5, lower=0, upper=200,
            groupby_transformation=gb, quantile_column="median_x",
        )
        orig_collect = DataFrame.collect
        calls = []

        def counting_collect(self_df):
            calls.append(1)
            return orig_collect(self_df)

        DataFrame.collect = counting_collect
        try:
            out = m(values)
        finally:
            DataFrame.collect = orig_collect
        # sanitize materializes via parquet write, not collect
        assert not calls, "apply_in_pandas path must not collect() on the driver"
        rows = {r["g"]: r["median_x"] for r in out.collect()}
        assert set(rows) == {"a", "b", "zz"}
        assert 0 <= rows["zz"] <= 200

    def test_inf_branch_rank_closest(self):
        # eps=inf selection is argmin |rank - target| over nonzero-width
        # intervals (reference series.py:398-407), NOT the interval
        # containing the target rank.  values [2, 9], q=0.9 -> target
        # rank 1.8 -> interval (9, 10), never (2, 9).
        from tumult_core_spark.measurements.quantile import NoisyQuantile

        nq = NoisyQuantile("x", 0.9, 0.0, 10.0, float("inf"), PureDP())
        out = nq._quantile(np.array([2.0, 9.0]), np.array([1.0, 1.0]))
        assert 9.0 <= out <= 10.0

    def test_inf_branch_duplicates(self):
        # [5,5,5] q=0.6: target 1.8; candidate ranks 0 and 3 -> rank 3
        # is closer -> interval (5, 10).  The duplicate-merged counts
        # must carry multiplicity into the rank distances.
        from tumult_core_spark.measurements.quantile import NoisyQuantile

        nq = NoisyQuantile("x", 0.6, 0.0, 10.0, float("inf"), PureDP())
        out = nq._quantile(np.array([5.0]), np.array([3.0]))
        assert 5.0 <= out <= 10.0
        # q=0.4: target 1.2 -> rank 0 closer -> interval (0, 5)
        nq = NoisyQuantile("x", 0.4, 0.0, 10.0, float("inf"), PureDP())
        out = nq._quantile(np.array([5.0]), np.array([3.0]))
        assert 0.0 <= out <= 5.0

    def test_inf_branch_tie_prefers_later_interval(self):
        # Exact tie (q=0.5 over [5,5,5]): the reference's descending
        # (score, lower, upper) sort breaks ties toward the larger
        # lower endpoint -> interval (5, 10).
        from tumult_core_spark.measurements.quantile import NoisyQuantile

        nq = NoisyQuantile("x", 0.5, 0.0, 10.0, float("inf"), PureDP())
        out = nq._quantile(np.array([5.0]), np.array([3.0]))
        assert 5.0 <= out <= 10.0

    def test_ungrouped_quantile(self, spark, values):
        m = create_quantile_measurement(
            v_domain(),
            SymmetricDifference(),
            PureDP(),
            d_in=1,
            d_out=100,
            measure_column="x",
            quantile=0.9,
            lower=0,
            upper=200,
        )
        out = float(m(values))
        assert 100 < out < 160


class TestSurfaceParity:
    """Round-2 surface additions: generic Partition base,
    NonInteractivePostProcess, AggregateByColumn, keep_intermediates."""

    def test_partition_base_contract(self, spark, values):
        from tumult_core_spark.transformations.partition import (
            Partition,
            PartitionByKeys,
        )

        p = PartitionByKeys(
            v_domain(), SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        assert isinstance(p, Partition)
        assert p.num_partitions == 2
        assert p.stability_function(3) == 3
        base = Partition(v_domain(), SymmetricDifference(), True, num_partitions=5)
        assert base.stability_function(2) == 2
        with pytest.raises(NotImplementedError):
            base(values)

    def test_non_interactive_postprocess(self, spark, values):
        from tumult_core_spark.measurements.composition import (
            NonInteractivePostProcess,
            PostProcess,
        )
        from tumult_core_spark.measurements.interactive import (
            SequentialComposition,
        )

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(3),
        )
        m1 = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        m2 = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 2)

        def drive(queryable):
            a = queryable(m1)
            b = queryable(m2)
            return int(a) + int(b)

        closed = NonInteractivePostProcess(sc, drive)
        assert not closed.is_interactive
        assert closed.privacy_function(1) == 3
        out = closed(values)
        assert isinstance(out, int)
        # non-interactive measurements are rejected
        with pytest.raises(ValueError):
            NonInteractivePostProcess(m1, lambda q: q)
        # and the plain PostProcess rejects interactive ones
        with pytest.raises(ValueError):
            PostProcess(sc, lambda x: x)

    def test_aggregate_by_column(self):
        import pandas as pd

        from tumult_core_spark.measurements.quantile import (
            AggregateByColumn,
            NoisyQuantile,
        )

        abc = AggregateByColumn(
            {
                "x": NoisyQuantile("x", 0.5, 0, 100, float("inf"), PureDP(),
                                   output_column="med_x"),
                "y": NoisyQuantile("y", 0.9, 0, 10, float("inf"), PureDP(),
                                   output_column="p90_y"),
            }
        )
        pdf = pd.DataFrame({"x": [10.0, 20.0, 30.0], "y": [1.0, 2.0, 3.0]})
        out = abc(pdf)
        assert list(out.columns) == ["med_x", "p90_y"]
        assert len(out) == 1
        assert 10 <= out["med_x"].iloc[0] <= 30
        # eps=inf per column: privacy adds to inf; finite case adds
        abc2 = AggregateByColumn(
            {
                "x": NoisyQuantile("x", 0.5, 0, 100, 1, PureDP()),
                "y": NoisyQuantile("y", 0.9, 0, 10, 2, PureDP()),
            }
        )
        assert abc2.privacy_function(1) == 3

    @pytest.mark.parametrize("factory", ["average", "variance"])
    @pytest.mark.parametrize("delta", ["0", "1/100000"])
    def test_fused_moments_approxdp_privacy(self, factory, delta):
        """Average and variance run one FusedMomentsMeasurement under
        the core measure and reach ApproxDP through the shared
        converters: (eps, 0) for delta = 0, Bun-Steinke
        ``rho + 2 sqrt(rho ln(1/delta))`` for delta > 0, with the
        requested budget met exactly."""
        import sympy as sp

        from tumult_core_spark.measures import ApproxDP
        from tumult_core_spark.measurements import aggregations
        from tumult_core_spark.measurements.converters import (
            PureDPToApproxDP,
            RhoZCDPToApproxDP,
        )

        create = getattr(aggregations, f"create_{factory}_measurement")
        m = create(
            v_domain(), SymmetricDifference(), ApproxDP(), 1, (1, delta),
            "x", 0, 200,
        )
        d = ExactNumber(delta)
        assert m.privacy_function(1) == (ExactNumber(1), d)
        if d == 0:
            assert isinstance(m, PureDPToApproxDP)
            assert m.privacy_function(2) == (ExactNumber(2), d)
            return
        assert isinstance(m, RhoZCDPToApproxDP)
        log_inv = sp.log(1 / d.expr)
        rho = (sp.sqrt(log_inv + 1) - sp.sqrt(log_inv)) ** 2
        # SymmetricDifference d_in = 2 doubles every sensitivity: 4 rho
        eps2 = 4 * rho + 2 * sp.sqrt(4 * rho * log_inv)
        assert m.privacy_function(2) == (ExactNumber(eps2), d)

    def test_average_keep_intermediates(self, spark, values):
        from tumult_core_spark.measurements.aggregations import (
            create_average_measurement,
        )

        dom = v_domain()
        m = create_average_measurement(
            dom, SymmetricDifference(), PureDP(), 1, float("inf"),
            measure_column="x", lower=0, upper=200,
            keep_intermediates=True,
        )
        out = m(values)
        assert set(out) == {"average", "sum_of_deviations", "count", "midpoint"}
        assert out["count"] == 201
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        mg = create_average_measurement(
            dom, SymmetricDifference(), PureDP(), 1, float("inf"),
            measure_column="x", lower=0, upper=200,
            groupby_transformation=gb, average_column="avg_x",
            keep_intermediates=True, sum_column="sod_x", count_column="n",
        )
        df = mg(values)
        assert set(df.columns) == {"g", "avg_x", "sod_x", "n"}
        rows = {r["g"]: r for r in df.collect()}
        assert rows["a"]["n"] == 100 and rows["b"]["n"] == 101

    def test_fused_moments_rejects_nullable_measure_column(self):
        from tumult_core_spark.domains import SparkIntegerColumnDescriptor
        from tumult_core_spark.measurements.aggregations import (
            create_average_measurement,
        )

        dom = SparkDataFrameDomain(
            {"g": STR, "x": SparkIntegerColumnDescriptor(size=64, allow_null=True)}
        )
        with pytest.raises(ValueError, match="null"):
            create_average_measurement(
                dom, SymmetricDifference(), PureDP(), 1, 1,
                measure_column="x", lower=0, upper=10,
            )


class TestBounds:
    def test_scalar_bounds(self, spark, values):
        m = create_bounds_measurement(
            v_domain(),
            SymmetricDifference(),
            PureDP(),
            d_out=50,
            measure_column="x",
        )
        lo, hi = m(values)
        assert hi >= 128  # max is 150 -> rank 8 = 256 likely; at least 2^7
        assert lo == -hi

    def test_grouped_bounds(self, spark, values):
        gb = create_groupby_from_list_of_keys(
            v_domain(), SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        m = create_bounds_measurement(
            v_domain(),
            SymmetricDifference(),
            PureDP(),
            d_out=50,
            measure_column="x",
            groupby_transformation=gb,
            lower_bound_column="lo",
            upper_bound_column="hi",
        )
        rows = {r["g"]: (r["lo"], r["hi"]) for r in m(values).collect()}
        assert set(rows) == {"a", "b"}
        for lo, hi in rows.values():
            assert lo == -hi and hi >= 64


class TestInteractive:
    def test_accountant_lifecycle(self, spark, values):
        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(3),
        )
        acct = PrivacyAccountant.launch(sc, values)
        m1 = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        out1 = acct.measure(m1)
        assert isinstance(out1, np.int64)
        assert acct.privacy_budget.value == 2

        # transform then measure
        acct.transform_in_place(Filter(dom, SymmetricDifference(), "x > 100"))
        out2 = acct.measure(
            create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 2)
        )
        assert acct.privacy_budget.value == 0

        # budget exhausted
        with pytest.raises(InsufficientBudgetError, match="insufficient given the requested"):
            acct.measure(
                create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
            )

    def test_accountant_split(self, spark, values):
        from tumult_core_spark.transformations.partition import PartitionByKeys

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(2),
        )
        acct = PrivacyAccountant.launch(sc, values)
        part = PartitionByKeys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        children = acct.split(part, PureDPBudget(1))
        assert acct.state == AccountantState.WAITING_FOR_CHILDREN
        counts = []
        for child in children:
            counts.append(
                int(
                    child.measure(
                        create_count_measurement(
                            dom, SymmetricDifference(), PureDP(), 1, 1
                        )
                    )
                )
            )
            child.retire()
        assert acct.state == AccountantState.ACTIVE
        assert acct.privacy_budget.value == 1
        assert abs(counts[0] - 100) < 50 and abs(counts[1] - 101) < 50

    def test_approxdp_delta_routing(self, spark, values):
        """ApproxDP with delta > 0 routes through the zCDP discrete-
        Gaussian core; the Bun-Steinke-matched rho converts back to
        EXACTLY the requested (eps, delta).  The reference raises
        'not yet supported' here (aggregations.py:929-939)."""
        import sympy as sp

        from tumult_core_spark.measures import ApproxDP
        from tumult_core_spark.measurements.converters import RhoZCDPToApproxDP
        from tumult_core_spark.measurements.noise import AddDiscreteGaussianNoise

        dom = v_domain()
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), True, ["g"], [("a",), ("b",)]
        )
        m = create_count_measurement(
            dom, SymmetricDifference(), ApproxDP(), 1, (2, "1/100000"),
            groupby_transformation=gb,
        )
        eps, delta = m.privacy_function(1)
        assert sp.simplify(eps.expr - 2) == 0
        assert delta == ExactNumber("1/100000")
        assert isinstance(m, RhoZCDPToApproxDP)
        # the core runs a discrete-Gaussian column mechanism
        assert m.privacy_relation(1, (2, "1/100000"))
        assert not m.privacy_relation(1, ("3/2", "1/100000"))
        out = m(values)
        assert out.count() == 2

        # delta = 0 still routes through PureDP/Geometric
        gb1 = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        m0 = create_count_measurement(
            dom, SymmetricDifference(), ApproxDP(), 1, (2, 0),
            groupby_transformation=gb1,
        )
        assert m0.privacy_function(1) == (ExactNumber(2), ExactNumber(0))

        # sum with delta > 0 takes the same route
        ms = create_sum_measurement(
            dom, SymmetricDifference(), ApproxDP(), 1, (1, "1/100000"),
            measure_column="x", lower=0, upper=200,
            groupby_transformation=gb,
        )
        eps_s, delta_s = ms.privacy_function(1)
        assert sp.simplify(eps_s.expr - 1) == 0 and delta_s == ExactNumber("1/100000")

        # quantile supports ApproxDP too (delta = 0 and delta > 0)
        mq0 = create_quantile_measurement(
            dom, SymmetricDifference(), ApproxDP(), 1, (1, 0),
            measure_column="x", quantile=0.5, lower=0, upper=200,
        )
        assert mq0.privacy_function(1) == (ExactNumber(1), ExactNumber(0))
        mq = create_quantile_measurement(
            dom, SymmetricDifference(), ApproxDP(), 1, (1, "1/100000"),
            measure_column="x", quantile=0.5, lower=0, upper=200,
        )
        eps_q, delta_q = mq.privacy_function(1)
        assert sp.simplify(eps_q.expr - 1) == 0 and delta_q == ExactNumber("1/100000")
        assert 0 <= float(mq(values)) <= 200

    def test_accountant_sibling_ordering(self, spark, values):
        """Sequential-adaptive child order (reference
        interactive_measurements.py:769-851): only child 0 starts
        ACTIVE; measuring a later sibling out of order is rejected
        until its predecessors retire or it is force-activated."""
        from tumult_core_spark.transformations.partition import PartitionByKeys

        dom = v_domain()
        count = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)

        def fresh_children(budget=4):
            sc = SequentialComposition(
                dom, SymmetricDifference(), PureDP(), d_in=1,
                privacy_budget=PureDPBudget(budget),
            )
            acct = PrivacyAccountant.launch(sc, values)
            part = PartitionByKeys(
                dom, SymmetricDifference(), False, ["g"], [("a",), ("b",)]
            )
            return acct, acct.split(part, PureDPBudget(2))

        acct, (c0, c1) = fresh_children()
        assert c0.state == AccountantState.ACTIVE
        assert c1.state == AccountantState.WAITING_FOR_SIBLING
        # out-of-order actions on the waiting sibling are rejected
        with pytest.raises(RuntimeError, match="waiting_for_sibling"):
            c1.measure(count)
        with pytest.raises(RuntimeError, match="waiting_for_sibling"):
            c1.transform_in_place(Filter(dom, SymmetricDifference(), "x > 0"))
        # retiring the active child activates the next sibling
        c0.measure(count)
        c0.retire()
        assert c0.state == AccountantState.RETIRED
        assert c1.state == AccountantState.ACTIVE
        c1.measure(count)
        assert acct.state == AccountantState.WAITING_FOR_CHILDREN
        c1.retire()
        assert acct.state == AccountantState.ACTIVE

        # force_activate on a waiting sibling retires its predecessors
        acct, (c0, c1) = fresh_children()
        c1.force_activate()
        assert c0.state == AccountantState.RETIRED
        assert c1.state == AccountantState.ACTIVE
        with pytest.raises(RuntimeError, match="retired"):
            c0.measure(count)

        # retiring a waiting sibling warns (it never acted) and also
        # clears its predecessors; the parent then resumes
        acct, (c0, c1) = fresh_children()
        with pytest.warns(RuntimeWarning, match="WAITING_FOR_SIBLING"):
            c1.retire()
        assert c0.state == AccountantState.RETIRED
        assert acct.state == AccountantState.ACTIVE

        # a parent waiting on children cannot retire without force
        acct, (c0, c1) = fresh_children()
        with pytest.raises(RuntimeError, match="force"):
            acct.retire()
        acct.retire(force=True)
        assert c0.state == AccountantState.RETIRED
        assert c1.state == AccountantState.RETIRED
        assert acct.state == AccountantState.RETIRED

    def test_queryable(self, spark, values):
        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(1),
        )
        q = sc(values)
        out = q(create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1))
        assert isinstance(out, np.int64)
        with pytest.raises(ValueError):
            q(create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1))


class TestDictionary:
    def test_create_subset_get(self, spark, values):
        dom = v_domain()
        c = CreateDictFromValue(dom, SymmetricDifference(), "t")
        d = c(values)
        assert set(d) == {"t"}
        assert c.stability_function(1) == {"t": 1}

        dict_dom = DictDomain({"t": dom})
        dict_metric = DictMetric({"t": SymmetricDifference()})
        g = GetValue(dict_dom, dict_metric, "t")
        assert g(d) is values

        s = Subset(dict_dom, dict_metric, ["t"])
        assert set(s(d)) == {"t"}

    def test_transform_value(self, spark, values):
        dom = v_domain()
        dict_dom = DictDomain({"t": dom})
        dict_metric = DictMetric({"t": SymmetricDifference()})
        f = Filter(dom, SymmetricDifference(), "x <= 100")
        tv = TransformValue(dict_dom, dict_metric, f, "t", "t2")
        out = tv({"t": values})
        assert set(out) == {"t", "t2"}
        assert out["t2"].count() == 151
        assert tv.stability_function({"t": 1}) == {"t": 1, "t2": 1}

    def test_queue_transformation_on_inactive_accountant(self, spark, values):
        """Port of reference test/system/measurements/
        test_interactive_measurements.py:48-97: queueing on a
        WAITING_FOR_CHILDREN accountant updates domain/metric/d_in
        immediately and applies the transformation to the data once the
        accountant reactivates."""
        from tumult_core_spark.transformations.partition import PartitionByKeys

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(6),
        )
        acct = PrivacyAccountant.launch(sc, values)
        part = PartitionByKeys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        children = acct.split(part, PureDPBudget(3))
        assert acct.state == AccountantState.WAITING_FOR_CHILDREN

        t = CreateDictFromValue(dom, SymmetricDifference(), key="data")
        acct.queue_transformation(t)
        # properties reflect the pending transformation immediately
        assert acct.input_domain == t.output_domain
        assert acct.input_metric == t.output_metric
        assert acct.d_in == t.stability_function(1)
        assert len(acct._pending_transformations) == 1
        # ... but the data is untouched until reactivation
        assert not isinstance(acct._data, dict)

        for c in children:
            c.measure(
                create_count_measurement(
                    dom, SymmetricDifference(), PureDP(), 1, 1
                )
            )
            c.retire()

        assert acct.state == AccountantState.ACTIVE
        assert acct._pending_transformations == []
        assert isinstance(acct._data, dict) and set(acct._data) == {"data"}
        # the accountant is fully usable at the transformed shape
        count_dict = GetValue(
            t.output_domain, t.output_metric, "data"
        ) | create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        out = acct.measure(count_dict)
        assert int(out) >= 0
        assert acct.privacy_budget.value == 2

    def test_queue_transformation_on_active_is_transform_in_place(
        self, spark, values
    ):
        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(1),
        )
        acct = PrivacyAccountant.launch(sc, values)
        acct.queue_transformation(Filter(dom, SymmetricDifference(), "x > 100"))
        # applied immediately: no pending entry, data already filtered
        assert acct._pending_transformations == []
        out = acct.measure(
            create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        )
        assert abs(int(out) - 50) < 40  # 50 true rows with x > 100, eps=1

    def test_queue_multiple_transformations_chain(self, spark, values):
        """Queued transformations chain: the second validates against
        the FIRST's output domain, and both run in order on
        activation."""
        from tumult_core_spark.transformations.partition import PartitionByKeys

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(4),
        )
        acct = PrivacyAccountant.launch(sc, values)
        part = PartitionByKeys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        (c0, c1) = acct.split(part, PureDPBudget(2))

        f1 = Filter(dom, SymmetricDifference(), "x > 100")
        acct.queue_transformation(f1)
        t2 = CreateDictFromValue(dom, SymmetricDifference(), key="d")
        acct.queue_transformation(t2)
        assert len(acct._pending_transformations) == 2
        assert acct.input_domain == t2.output_domain

        # a transformation that does not match the PENDING output shape
        # is rejected up front
        with pytest.raises(ValueError, match="pending"):
            acct.queue_transformation(
                Filter(dom, SymmetricDifference(), "x > 0")
            )

        c0.retire()
        c1.retire()
        assert acct.state == AccountantState.ACTIVE
        assert isinstance(acct._data, dict)
        n = acct.measure(
            GetValue(t2.output_domain, t2.output_metric, "d")
            | create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 2)
        )
        assert abs(int(n) - 50) < 40

    def test_queue_transformation_on_retired_raises(self, spark, values):
        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(1),
        )
        acct = PrivacyAccountant.launch(sc, values)
        acct.retire()
        with pytest.raises(RuntimeError, match="RETIRED"):
            acct.queue_transformation(
                Filter(dom, SymmetricDifference(), "x > 0")
            )

    def test_queued_sibling_runs_pending_on_activation(self, spark, values):
        """A WAITING_FOR_SIBLING child can queue transformations; they
        run when its predecessor retires and it becomes ACTIVE."""
        from tumult_core_spark.transformations.partition import PartitionByKeys

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(2),
        )
        acct = PrivacyAccountant.launch(sc, values)
        part = PartitionByKeys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        (c0, c1) = acct.split(part, PureDPBudget(2))
        c1.queue_transformation(Filter(dom, SymmetricDifference(), "x >= 140"))
        assert c1.state == AccountantState.WAITING_FOR_SIBLING
        assert len(c1._pending_transformations) == 1
        c0.retire()
        assert c1.state == AccountantState.ACTIVE
        assert c1._pending_transformations == []
        n = c1.measure(
            create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 2)
        )
        assert abs(int(n) - 11) < 30  # partition b has x in 50..150

    def test_mixed_split_measure_transform_ordering(self, spark, values):
        """Mixed-action scenario: measure -> transform_in_place ->
        split -> per-child transform+measure -> parent resumes with the
        right remaining budget and can still measure."""
        from tumult_core_spark.transformations.partition import PartitionByKeys

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(6),
        )
        acct = PrivacyAccountant.launch(sc, values)
        count = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        acct.measure(count)  # spend 1 -> 5
        acct.transform_in_place(Filter(dom, SymmetricDifference(), "x >= 10"))
        (c0, c1) = acct.split(
            PartitionByKeys(dom, SymmetricDifference(), False, ["g"],
                            [("a",), ("b",)]),
            PureDPBudget(2),
        )  # spend 2 -> 3
        c0.transform_in_place(Filter(dom, SymmetricDifference(), "x < 50"))
        c0.measure(count)  # child budget 2 -> 1
        with pytest.raises(InsufficientBudgetError, match="insufficient given the requested"):
            c0.measure(
                create_count_measurement(
                    dom, SymmetricDifference(), PureDP(), 1, 2
                )
            )
        c0.measure(count)  # exactly exhausts the child budget
        assert c0.privacy_budget.value == 0
        c0.retire()
        c1.measure(count)
        c1.retire()
        assert acct.state == AccountantState.ACTIVE
        assert acct.privacy_budget.value == 3
        acct.measure(count)
        assert acct.privacy_budget.value == 2

    def test_budget_exhaustion_mid_queryable(self, spark, values):
        """SequentialComposition queryable: a query exceeding the
        remaining budget fails WITHOUT consuming anything; the exact
        remainder is still spendable afterwards."""
        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(3),
        )
        q = sc(values)
        count = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        q(count)  # 3 -> 2
        with pytest.raises(ValueError, match="[Ii]nsufficient"):
            q(create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 3))
        assert q.remaining_budget.value == 2  # failed query cost nothing
        q(create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 2))
        assert q.remaining_budget.value == 0
        with pytest.raises(ValueError, match="[Ii]nsufficient"):
            q(count)

    def test_transform_with_explicit_d_out(self, spark, values):
        """transform_in_place/queue_transformation accept a claimed
        d_out validated against the stability relation; an unsound
        claim is rejected, a sound one becomes the new d_in."""
        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(2),
        )
        acct = PrivacyAccountant.launch(sc, values)
        f = Filter(dom, SymmetricDifference(), "x > 0")
        with pytest.raises(ValueError, match="stability relation"):
            acct.transform_in_place(f, d_out=ExactNumber("1/2"))
        acct.transform_in_place(f, d_out=5)  # sound (>= true bound 1)
        assert acct.d_in == 5
        acct.measure(
            create_count_measurement(dom, SymmetricDifference(), PureDP(), 5, 2)
        )
        assert acct.privacy_budget.value == 0

    def test_make_interactive_single_use(self, spark, values):
        """MakeInteractive wraps a non-interactive measurement as a
        queryable that answers EXACTLY once (reference
        interactive_measurements.py:724): second call refuses, privacy
        function passes through, wrapping an interactive measurement is
        rejected."""
        from tumult_core_spark.measurements.interactive import MakeInteractive

        dom = v_domain()
        count = create_count_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 2
        )
        mi = MakeInteractive(count)
        assert mi.is_interactive
        assert mi.privacy_function(1) == count.privacy_function(1)
        q = mi(values)
        out = q()
        assert int(out) >= 0
        with pytest.raises(RuntimeError, match="already answered"):
            q()
        with pytest.raises(ValueError, match="already interactive"):
            MakeInteractive(mi)

    def test_decorate_queryable_pre_and_post(self, spark, values):
        """DecorateQueryable wraps an interactive measurement's
        queryable with query preprocessing and answer postprocessing
        (reference interactive_measurements.py:413); privacy function
        passes through and a non-interactive inner is rejected."""
        from tumult_core_spark.measurements.interactive import (
            DecorateQueryable,
            SequentialComposition,
        )

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(3),
        )

        # queries arrive as plain epsilon numbers; answers leave as dicts
        def pre(eps):
            return create_count_measurement(
                dom, SymmetricDifference(), PureDP(), 1, eps
            )

        def post(ans):
            return {"count": int(ans)}

        dq = DecorateQueryable(sc, pre, post)
        assert dq.is_interactive
        assert dq.privacy_function(1) == sc.privacy_function(1)
        queryable = dq(values)
        a1 = queryable(1)
        a2 = queryable(2)
        assert set(a1) == {"count"} and set(a2) == {"count"}
        assert abs(a1["count"] - 201) < 60  # 201 rows, eps=1

        count = create_count_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 1
        )
        with pytest.raises(ValueError, match="interactive"):
            DecorateQueryable(count, pre, post)

    def test_decorated_budget_still_enforced(self, spark, values):
        """Decoration must not bypass the inner queryable's budget."""
        from tumult_core_spark.measurements.interactive import (
            DecorateQueryable,
            SequentialComposition,
        )

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(1),
        )
        dq = DecorateQueryable(
            sc,
            lambda eps: create_count_measurement(
                dom, SymmetricDifference(), PureDP(), 1, eps
            ),
            int,
        )
        queryable = dq(values)
        queryable(1)
        with pytest.raises(ValueError, match="[Ii]nsufficient"):
            queryable(1)

    def test_sequential_queryable_transform(self, spark, values):
        """SequentialQueryable.transform rewrites the held data in
        place (d_in via stability); subsequent queries see the
        transformed relation and budget accounting is unchanged."""
        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(2),
        )
        q = sc(values)
        q.transform(Filter(dom, SymmetricDifference(), "x >= 140"))
        n = q(create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 2))
        assert abs(int(n) - 11) < 15  # 11 rows have x >= 140
        assert q.remaining_budget.value == 0
        with pytest.raises(ValueError):
            q.transform(
                Filter(
                    SparkDataFrameDomain({"z": INT}),
                    SymmetricDifference(), "z > 0",
                )
            )

    def test_nested_split(self, spark, values):
        """Recursive accountants: a child can split again; sibling
        ordering and budget accounting hold at every level, and
        retiring the deepest level cascades activation upward."""
        from tumult_core_spark.transformations.partition import PartitionByKeys

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(6),
        )
        acct = PrivacyAccountant.launch(sc, values)
        count = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        by_g = PartitionByKeys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        (c0, c1) = acct.split(by_g, PureDPBudget(4))
        # split the ACTIVE child again, partitioning by value range
        by_x = PartitionByKeys(
            dom, SymmetricDifference(), False, ["g"], [("a",)]
        )
        (g0,) = c0.split(by_x, PureDPBudget(2))
        assert c0.state == AccountantState.WAITING_FOR_CHILDREN
        assert c1.state == AccountantState.WAITING_FOR_SIBLING
        assert g0.state == AccountantState.ACTIVE
        assert g0.privacy_budget.value == 2
        n = int(g0.measure(count))
        assert abs(n - 100) < 40  # partition 'a' has 100 rows
        g0.retire()
        # grandchild retirement resumes c0 (not acct, not c1)
        assert c0.state == AccountantState.ACTIVE
        assert c1.state == AccountantState.WAITING_FOR_SIBLING
        assert acct.state == AccountantState.WAITING_FOR_CHILDREN
        assert c0.privacy_budget.value == 2  # 4 - 2 spent on the split
        c0.measure(count)
        c0.retire()
        assert c1.state == AccountantState.ACTIVE
        c1.retire()
        assert acct.state == AccountantState.ACTIVE
        assert acct.privacy_budget.value == 2
        # parent/children links reflect the tree
        assert g0.parent is c0 and c0.parent is acct and acct.parent is None
        assert acct.children == [c0, c1] and c0.children == [g0]


class TestTypedQueriesAndRetirement:
    """The reference's typed-query decompose/inspect surface
    (interactive_measurements.py:55-360): MeasurementQuery /
    TransformationQuery / IndexQuery / RetireQuery, cascade
    retirement via RetirableQueryable, and the in-order-only
    ParallelQueryable."""

    def _seq(self, budget=3):
        from tumult_core_spark.measures import PrivacyBudget

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(budget),
        )
        return dom, sc

    def test_measurement_query_requires_interactive(self, spark, values):
        from tumult_core_spark.measurements.interactive import (
            MeasurementQuery,
        )

        dom, sc = self._seq()
        q = sc(values)
        m = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        with pytest.raises(ValueError, match="non-interactive"):
            q(MeasurementQuery(m))
        # the bare-measurement convenience path still answers it
        assert isinstance(q(m), np.int64)

    def test_measurement_query_opens_retirable_session(self, spark, values):
        from tumult_core_spark.measurements.interactive import (
            MakeInteractive,
            MeasurementQuery,
            RetirableQueryable,
            RetireQuery,
        )

        dom, sc = self._seq()
        q = sc(values)
        m = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        s1 = q(MeasurementQuery(MakeInteractive(m)))
        assert isinstance(s1, RetirableQueryable)
        assert isinstance(s1(None), np.int64)  # GetAnswer through the wrapper
        # opening the second interactive session retires the first
        s2 = q(MeasurementQuery(MakeInteractive(m)))
        assert s1.is_retired
        with pytest.raises(RuntimeError, match="retired"):
            s1(None)
        assert isinstance(s2(None), np.int64)
        # retirement is idempotent and cascades
        s2(RetireQuery())
        s2(RetireQuery())
        with pytest.raises(RuntimeError, match="retired"):
            s2(None)

    def test_measurement_query_claimed_d_out(self, spark, values):
        from tumult_core_spark.measurements.interactive import (
            MakeInteractive,
            MeasurementQuery,
        )

        dom, sc = self._seq(budget=3)
        q = sc(values)
        m = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        # a LOOSER claimed d_out (2 >= true loss 1) is valid and is
        # what gets charged
        q(MeasurementQuery(MakeInteractive(m), d_out=2))
        assert q.remaining_budget.value == 1
        # a claimed d_out below the true loss fails the relation
        with pytest.raises(ValueError, match="privacy relation"):
            q(MeasurementQuery(MakeInteractive(m), d_out="1/2"))

    def test_transformation_query(self, spark, values):
        from tumult_core_spark.measurements.interactive import (
            TransformationQuery,
        )

        dom, sc = self._seq()
        q = sc(values)
        t = Filter(dom, SymmetricDifference(), "x > 100")
        assert q(TransformationQuery(t)) is None
        m = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        # counts only the 50 rows with x > 100 (zero noise at inf? no:
        # eps 1 — just assert it's in a plausible band around 50)
        assert abs(int(q(m)) - 50) < 40
        # claimed d_out below the true stability (1) is rejected
        t2 = Filter(dom, SymmetricDifference(), "x > 140")
        with pytest.raises(ValueError, match="stability relation"):
            q(TransformationQuery(t2, d_out="1/2"))

    def test_parallel_queryable_index_order(self, spark, values):
        from tumult_core_spark.domains import ListDomain
        from tumult_core_spark.measurements.interactive import (
            IndexQuery,
            MakeInteractive,
            ParallelComposition,
            RetirableQueryable,
        )
        from tumult_core_spark.metrics import SumOf

        dom = v_domain()
        m = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        pc = ParallelComposition(
            ListDomain(dom, length=2),
            SumOf(SymmetricDifference()),
            [MakeInteractive(m), MakeInteractive(m)],
        )
        parts = [
            values.filter("g = 'a'"),
            values.filter("g = 'b'"),
        ]
        pq = pc.as_queryable(parts)
        with pytest.raises(ValueError, match="Bad Index"):
            pq(IndexQuery(1))
        s0 = pq(IndexQuery(0))
        assert isinstance(s0, RetirableQueryable)
        assert abs(int(s0(None)) - 100) < 50
        s1 = pq(IndexQuery(1))
        # opening partition 1 retired partition 0's session
        assert s0.is_retired
        with pytest.raises(ValueError, match="Bad Index"):
            pq(IndexQuery(0))
        assert abs(int(s1(None)) - 101) < 50


class TestAdaptiveComposition:
    """create_adaptive_composition (reference
    interactive_measurements.py:1856): a queryable that answers
    NON-interactive MeasurementQuery / TransformationQuery directly
    against one shared budget, plus the typed
    InactiveAccountantError (reference :852)."""

    def _launch(self, values, budget=3):
        from tumult_core_spark.measurements.interactive import (
            create_adaptive_composition,
        )

        dom = v_domain()
        m = create_adaptive_composition(
            dom, SymmetricDifference(), 1, PureDPBudget(budget), PureDP()
        )
        return dom, m, m(values)

    def test_answers_noninteractive_queries_directly(self, spark, values):
        from tumult_core_spark.measurements.interactive import (
            MeasurementQuery,
            TransformationQuery,
        )

        dom, m, q = self._launch(values, budget=3)
        assert m.is_interactive
        assert m.privacy_function(1) == 3
        count = create_count_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 1
        )
        # plain answer comes back, no queryable to unwrap (noisy at
        # eps=1, so compare loosely)
        a = q(MeasurementQuery(count))
        assert isinstance(a, np.int64)
        assert abs(int(a) - 201) < 50
        # transformation queries update the held data in place
        assert q(TransformationQuery(Filter(dom, SymmetricDifference(), "x > 100"))) is None
        b = q(MeasurementQuery(count))
        assert abs(int(b) - 50) < 50
        # the shared budget is enforced across queries
        with pytest.raises(ValueError, match="[Ii]nsufficient"):
            q(MeasurementQuery(count, d_out=2))

    def test_rejects_interactive_and_unknown_queries(self, spark, values):
        from tumult_core_spark.measurements.interactive import (
            MakeInteractive,
            MeasurementQuery,
        )

        dom, m, q = self._launch(values)
        count = create_count_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 1
        )
        with pytest.raises(ValueError, match="interactive"):
            q(MeasurementQuery(MakeInteractive(count)))
        with pytest.raises(TypeError, match="MeasurementQuery"):
            q(count)

    def test_claimed_d_out_is_charged(self, spark, values):
        from tumult_core_spark.measurements.interactive import (
            MeasurementQuery,
        )

        dom, m, q = self._launch(values, budget=3)
        count = create_count_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 1
        )
        q(MeasurementQuery(count, d_out=2))  # looser claim: charge 2
        q(MeasurementQuery(count))           # true loss 1: budget exactly dry
        with pytest.raises(ValueError, match="[Ii]nsufficient"):
            q(MeasurementQuery(count))


class TestInactiveAccountantError:
    def test_typed_error_from_misuse(self, spark, values):
        from tumult_core_spark.measurements.interactive import (
            InactiveAccountantError,
        )
        from tumult_core_spark.transformations.partition import PartitionByKeys

        assert issubclass(InactiveAccountantError, RuntimeError)
        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(4),
        )
        acct = PrivacyAccountant.launch(sc, values)
        part = PartitionByKeys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        c0, c1 = acct.split(part, PureDPBudget(2))
        count = create_count_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 1
        )
        # the WAITING_FOR_CHILDREN parent and the WAITING_FOR_SIBLING
        # child both raise the typed error on actions
        with pytest.raises(InactiveAccountantError):
            acct.measure(count)
        with pytest.raises(InactiveAccountantError):
            c1.measure(count)
        with pytest.raises(InactiveAccountantError):
            c1.transform_in_place(Filter(dom, SymmetricDifference(), "x > 0"))
        # a RETIRED accountant refuses queued transformations with it too
        c0.retire()
        with pytest.raises(InactiveAccountantError):
            c0.queue_transformation(Filter(dom, SymmetricDifference(), "x > 0"))


class TestFreezeBranchContracts:
    """The r14 noise-independent freeze-branch contracts: every shipped
    measurement passes sanitize_df a row bound that is a function of the
    public keys or of the data alone, never of a noise draw; ApplyInPandas
    enforces (and parameterizes) its rows-per-group release contract."""

    def _gdf(self, spark, n_keys=2):
        from tumult_core_spark.utils.grouped_dataframe import GroupedDataFrame

        data = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3)], "g string, x long"
        )
        keys = spark.createDataFrame([("a",), ("b",)], "g string")
        return GroupedDataFrame(data, keys, n_keys=n_keys)

    def _apply_in_pandas(self, rows_out, **kwargs):
        import pandas as pd
        from pyspark.sql import types as T

        from tumult_core_spark.domains import SparkGroupedDataFrameDomain
        from tumult_core_spark.measurements.spark import ApplyInPandas

        class _Agg:
            output_measure = PureDP()
            output_spark_schema = T.StructType(
                [T.StructField("y", T.LongType())]
            )

            def privacy_function(self, d_in):
                return ExactNumber(1)

            def __call__(self, pdf):
                return pd.DataFrame({"y": list(range(rows_out))})

        dom = SparkGroupedDataFrameDomain(
            schema={"g": STR, "x": INT}, groupby_columns=["g"]
        )
        return ApplyInPandas(dom, SumOf(SymmetricDifference()), _Agg(), **kwargs)

    def test_one_row_per_group_release(self, spark):
        m = self._apply_in_pandas(1)
        assert m(self._gdf(spark)).count() == 2

    def test_multi_row_release_violates_default_contract(self, spark):
        # two rows per group against the declared one-row bound: the
        # freeze branch must refuse the release, not silently truncate
        m = self._apply_in_pandas(2)
        with pytest.raises(AssertionError, match="known_rows"):
            m(self._gdf(spark)).count()

    def test_declared_rows_per_group(self, spark):
        m = self._apply_in_pandas(2, rows_per_group=2)
        assert m(self._gdf(spark)).count() == 4

    def test_partition_selection_small_is_one_driver_release(
        self, spark, monkeypatch
    ):
        """GeometricPartitionSelection freezes the PRE-noise candidate
        relation in one job and (small case) draws noise driver-side —
        sanitize_df is never involved, so no release path can observe a
        discarded mechanism invocation."""
        import tumult_core_spark.measurements.spark as spark_meas
        from tumult_core_spark.measurements.spark import (
            GeometricPartitionSelection,
        )

        def forbidden(*a, **kw):  # pragma: no cover - failure path
            raise AssertionError("small path must not call sanitize_df")

        monkeypatch.setattr(spark_meas, "sanitize_df", forbidden)
        dom = SparkDataFrameDomain({"g": STR})
        m = GeometricPartitionSelection(dom, threshold=2, alpha=0)
        sdf = spark.createDataFrame([("a1",)] * 3 + [("a2",)], "g string")
        rows = m(sdf).collect()
        # alpha=0: exact counts, only a1 (count 3) clears threshold 2
        assert [(r.g, r["count"]) for r in rows] == [("a1", 3)]
        # frozen local relation: repeated actions return identical rows
        assert [(r.g, r["count"]) for r in m(sdf).collect()] == [("a1", 3)]

    def test_partition_selection_large_branch_pre_noise_bound(
        self, spark, monkeypatch
    ):
        """Huge candidate sets force the large branch with known_rows =
        the exact pre-noise candidate count (noise-independent)."""
        import tumult_core_spark.measurements.spark as spark_meas
        from tumult_core_spark.measurements.spark import (
            GeometricPartitionSelection,
        )
        from tumult_core_spark.utils import misc as misc_mod

        seen = {}
        real = misc_mod.sanitize_df

        def recorder(df, known_rows=None, **kw):
            seen["known_rows"] = known_rows
            return real(df, known_rows=known_rows, **kw)

        monkeypatch.setattr(spark_meas, "sanitize_df", recorder)
        # shrink the small-release threshold so 2 candidates are "huge"
        monkeypatch.setattr(misc_mod, "SMALL_RELEASE_ROWS", 1)
        dom = SparkDataFrameDomain({"g": STR})
        m = GeometricPartitionSelection(dom, threshold=2, alpha=0)
        sdf = spark.createDataFrame([("a1",)] * 3 + [("a2",)], "g string")
        rows = m(sdf).collect()
        assert [(r.g, r["count"]) for r in rows] == [("a1", 3)]
        assert seen["known_rows"] == 2

        # noise-ON large branch: the executor pandas-UDF draw path
        # (small releases draw driver-side since r14, so this branch is
        # its only remaining coverage).  The release must be frozen and
        # bounded by the candidate count.
        m_noisy = GeometricPartitionSelection(dom, threshold=-1000, alpha=1)
        rel = m_noisy(sdf)
        got = sorted(map(tuple, rel.collect()))
        assert got == sorted(map(tuple, rel.collect()))  # frozen
        assert len(got) <= 2 and seen["known_rows"] == 2
        assert {g for g, _ in got} <= {"a1", "a2"}

    def test_partition_selection_preserves_large_int64_and_null_keys(
        self, spark
    ):
        """Regression: the driver-side release must not round-trip the
        GROUP columns through pandas — a nullable int64 column coerces
        to float64 there and corrupts keys above 2^53 (9007199254740993
        became ...992).  Keys must come back exact, null group
        included."""
        from tumult_core_spark.domains import SparkIntegerColumnDescriptor
        from tumult_core_spark.measurements.spark import (
            GeometricPartitionSelection,
        )

        big = (1 << 53) + 1  # not representable as float64
        dom = SparkDataFrameDomain(
            {"k": SparkIntegerColumnDescriptor(size=64, allow_null=True)}
        )
        m = GeometricPartitionSelection(dom, threshold=2, alpha=0)
        sdf = spark.createDataFrame(
            [(big,)] * 3 + [(None,)] * 2 + [(7,)], "k long"
        )
        got = {(r.k, r["count"]) for r in m(sdf).collect()}
        assert got == {(big, 3), (None, 2)}, got

    def test_svt_call_preserves_caller_cache(self, spark):
        """Regression: an SVT release must not drop a cache entry the
        CALLER owns on the same input."""
        from tumult_core_spark.measurements.spark import SparseVectorPrefixSums

        dom = SparkDataFrameDomain({"g": STR, "rank": INT, "cnt": INT})
        m = SparseVectorPrefixSums(
            dom, "cnt", "rank", alpha=0, grouping_columns=["g"],
            known_input_rows=5,
        )
        sdf = spark.createDataFrame(
            [("a", r, 10) for r in range(5)], "g string, rank long, cnt long"
        ).persist()
        try:
            sdf.count()
            assert sdf.is_cached
            assert m(sdf).count() == 1
            assert sdf.is_cached, "measurement dropped the caller's cache"
        finally:
            sdf.unpersist()

    def test_apply_in_pandas_rejects_nonpositive_rows_per_group(self, spark):
        with pytest.raises(ValueError, match="rows_per_group"):
            self._apply_in_pandas(1, rows_per_group=0)

    @staticmethod
    def _jobs_in(spark, fn):
        """Run ``fn`` under a fresh job group; return (result, #jobs)."""
        import uuid

        sc = spark.sparkContext
        group = uuid.uuid4().hex
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def test_sanitize_df_requires_a_bound(self, spark):
        from tumult_core_spark.utils.misc import sanitize_df

        with pytest.raises(TypeError):
            sanitize_df(spark.range(3))

    def test_groupby_counts_deduplicated_keys_once(self, spark):
        from tumult_core_spark.transformations.groupby import GroupBy

        keys = spark.createDataFrame(
            [("a",), ("b",), ("a",), ("c",), ("b",)], "g string"
        )
        gb = GroupBy(v_domain(), SymmetricDifference(), False, keys)
        n, jobs = self._jobs_in(spark, lambda: gb.n_keys)
        assert n == 3 and jobs >= 1
        # memoised: later reads (and the bound GroupedDataFrame) reuse it
        n, jobs = self._jobs_in(spark, lambda: gb(gb.group_keys).n_keys)
        assert n == 3 and jobs == 0

    def test_ungrouped_quantile_does_not_count_its_keys(self, spark):
        """The ungrouped quantile runs through a one-key GroupBy that
        declares ``n_keys=1``, so no release counts its key relation.
        Before the bound was declared, every release counted the
        deduplicated one-row key relation (two jobs under AQE: the
        dedup shuffle and the count) and then ran the observed-size
        freeze probe — 7 jobs per release.  The small release now
        collects without a rand-keyed shuffle, so 4 jobs remain.  A
        grouped quantile over a public key list keeps the same
        budget."""
        df = spark.createDataFrame(
            [("ab"[i % 2], float(i % 10)) for i in range(100)],
            "g string, x double",
        )
        dom = SparkDataFrameDomain.from_spark_schema(df.schema)
        ungrouped = create_quantile_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 1, "x", 0.5, 0.0, 10.0
        )
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",), ("c",)]
        )
        grouped = create_quantile_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 1, "x", 0.5, 0.0, 10.0,
            groupby_transformation=gb,
        )
        for _ in range(2):
            value, jobs = self._jobs_in(spark, lambda: ungrouped(df))
            assert 0.0 <= value <= 10.0
            assert jobs <= 4, jobs
            out, jobs = self._jobs_in(spark, lambda: grouped(df))
            assert jobs <= 4, jobs
            assert out.count() == 3

    def test_internal_persists_are_released(self, spark, monkeypatch):
        """Partition selection's large path persists a relation for the
        call only, and SVT's executor placement persists nothing:
        repeated releases leave no persistent RDD behind, and a cache
        the caller made on the same plan beforehand survives the
        call."""
        from pyspark import StorageLevel

        from tumult_core_spark.measurements.spark import (
            GeometricPartitionSelection,
            SparseVectorPrefixSums,
        )
        from tumult_core_spark.utils import misc as misc_mod

        jsc = spark.sparkContext._jsc

        def persistent_rdds():
            return set(jsc.getPersistentRDDs().keys())

        before = persistent_rdds()
        # 2 candidates > 1: partition selection takes its large path
        monkeypatch.setattr(misc_mod, "SMALL_RELEASE_ROWS", 1)
        sel = GeometricPartitionSelection(
            SparkDataFrameDomain({"g": STR}), threshold=2, alpha=0
        )
        sel_in = spark.createDataFrame([("a1",)] * 3 + [("a2",)], "g string")
        # 10 input rows > 1: SVT runs in its grouped pandas stage
        svt = SparseVectorPrefixSums(
            SparkDataFrameDomain({"g": STR, "rank": INT, "cnt": INT}),
            "cnt", "rank", alpha=0, grouping_columns=["g"],
            known_input_rows=10,
        )
        svt_in = spark.createDataFrame(
            [(g, r, 10) for g in ("a", "b") for r in range(5)],
            "g string, rank long, cnt long",
        )
        for _ in range(2):
            assert [tuple(r) for r in sel(sel_in).collect()] == [("a1", 3)]
            assert svt(svt_in).count() == 2
        assert persistent_rdds() - before == set()

        # the caller caches the same plans the measurements persist: the
        # candidate aggregate (a separate DataFrame object — the cache
        # is found by plan) and the SVT input itself
        caller_counts = (
            sel_in.groupBy("g").agg(F.count(F.lit(1)).alias("count")).persist()
        )
        svt_in.persist()
        try:
            caller_counts.count()
            svt_in.count()
            assert [tuple(r) for r in sel(sel_in).collect()] == [("a1", 3)]
            assert svt(svt_in).count() == 2
            assert caller_counts.storageLevel != StorageLevel.NONE
            assert svt_in.storageLevel != StorageLevel.NONE
        finally:
            caller_counts.unpersist()
            svt_in.unpersist()


class TestR16SoundnessPins:
    """r16 adversarial review of the accountant/composition/converter
    core: each test pins a hole found (and fixed) this round, in the
    reference-conformance style of tests/test_relational.py.

    Reference semantics matched: composition.py:88 (no interactive
    member, including the FIRST), interactive_measurements.py:591-612
    (parallel metric/measure grid + inner-metric match), :1285
    (accountant answers non-interactive only), :1560-1570 (split
    output-metric/measure grid, fixed-length ListDomain).
    """

    def _interactive_count(self, dom):
        from tumult_core_spark.measurements.interactive import MakeInteractive

        return MakeInteractive(
            create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        )

    def test_composition_rejects_interactive_first_member(self):
        """Pre-fix, only measurements[1:] were checked: an interactive
        FIRST member slipped through and its queryable escaped the
        retire cascade via a 'non-interactive' Composition."""
        from tumult_core_spark.measurements.composition import Composition

        dom = v_domain()
        inter = self._interactive_count(dom)
        plain = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        with pytest.raises(ValueError, match="interactive"):
            Composition([inter, plain])
        with pytest.raises(ValueError, match="interactive"):
            Composition([inter])  # the single/first-element hole
        with pytest.raises(ValueError, match="interactive"):
            Composition([plain, inter])

    def test_parallel_composition_metric_measure_grid(self):
        """SumOf composes PureDP/ApproxDP, RootSumOfSquared composes
        RhoZCDP; the off-grid pairs under-charge (e.g. L1-split zCDP
        losses do not max-compose) and must be rejected."""
        from tumult_core_spark.measurements.interactive import ParallelComposition
        from tumult_core_spark.measures import RhoZCDP
        from tumult_core_spark.metrics import RootSumOfSquared

        dom = v_domain()
        m_pure = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        m_zcdp = create_count_measurement(dom, SymmetricDifference(), RhoZCDP(), 1, 1)
        # off-grid: SumOf + RhoZCDP
        with pytest.raises(ValueError, match="incompatible"):
            ParallelComposition(
                ListDomain(dom, length=1), SumOf(SymmetricDifference()), [m_zcdp]
            )
        # off-grid: RootSumOfSquared + PureDP (RootSumOfSquared
        # subclasses SumOf here — an isinstance check would miss this)
        with pytest.raises(ValueError, match="incompatible"):
            ParallelComposition(
                ListDomain(dom, length=1),
                RootSumOfSquared(SymmetricDifference()),
                [m_pure],
            )
        # on-grid pairs construct fine
        ParallelComposition(
            ListDomain(dom, length=1), SumOf(SymmetricDifference()), [m_pure]
        )
        ParallelComposition(
            ListDomain(dom, length=1),
            RootSumOfSquared(SymmetricDifference()),
            [m_zcdp],
        )

    def test_parallel_composition_inner_metric_must_match(self):
        """A member calibrated for a different input metric receives
        the composition's d_in in the wrong units — rejected."""
        from tumult_core_spark.measurements.interactive import ParallelComposition
        from tumult_core_spark.metrics import HammingDistance

        dom = v_domain()
        m_hamming = create_count_measurement(dom, HammingDistance(), PureDP(), 1, 1)
        with pytest.raises(ValueError, match="inner metric|input metric"):
            ParallelComposition(
                ListDomain(dom, length=1),
                SumOf(SymmetricDifference()),
                [m_hamming],
            )
        with pytest.raises(ValueError, match="at least one"):
            ParallelComposition(
                ListDomain(dom, length=0), SumOf(SymmetricDifference()), []
            )

    def test_parallel_composition_rejects_undeclared_length(self):
        """r17 parity: a ListDomain with length=None is rejected at
        construction (reference interactive_measurements.py:657-661)
        — previously __call__'s partition-count check compensated at
        answer time, but privacy_function could be consulted first."""
        from tumult_core_spark.measurements.interactive import ParallelComposition

        dom = v_domain()
        m = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)
        with pytest.raises(ValueError, match="number of elements"):
            ParallelComposition(
                ListDomain(dom), SumOf(SymmetricDifference()), [m]
            )

    def test_parallel_call_rejects_interactive_members(self, spark, values):
        """The list-answer convenience form must not open every
        partition's adaptive session simultaneously; interactive
        members go through as_queryable's one-at-a-time protocol."""
        from tumult_core_spark.measurements.interactive import ParallelComposition

        dom = v_domain()
        pc = ParallelComposition(
            ListDomain(dom, length=2),
            SumOf(SymmetricDifference()),
            [self._interactive_count(dom), self._interactive_count(dom)],
        )
        parts = [values.filter("g = 'a'"), values.filter("g = 'b'")]
        with pytest.raises(ValueError, match="as_queryable"):
            pc(parts)
        pc.as_queryable(parts)  # the interactive path still works

    def test_sequential_queryable_bare_interactive_is_tracked(self, spark, values):
        """Pre-fix, a BARE interactive measurement (not wrapped in
        MeasurementQuery) was answered unwrapped: its queryable lived
        outside the retire cascade, so two adaptive sessions could run
        concurrently.  Now it is wrapped and the previous session is
        retired when the next opens."""
        from tumult_core_spark.measurements.interactive import (
            RetirableQueryable,
            SequentialComposition,
        )

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(4),
        )
        q = sc(values)
        s0 = q(self._interactive_count(dom))
        assert isinstance(s0, RetirableQueryable)
        s1 = q(self._interactive_count(dom))
        assert s0.is_retired  # opening the second session revoked the first
        with pytest.raises(RuntimeError, match="retired"):
            s0(None)
        assert abs(int(s1(None)) - 201) < 60

    def test_accountant_measure_rejects_interactive(self, spark, values):
        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(2),
        )
        acct = PrivacyAccountant.launch(sc, values)
        with pytest.raises(ValueError, match="interactive"):
            acct.measure(self._interactive_count(dom))
        # nothing was charged by the rejected query
        assert acct.privacy_budget.value == 2

    def test_accountant_measure_relation_only_fallback(self, spark, values):
        """A measurement with privacy_relation but no privacy_function
        is answerable by claiming d_out (validated, then charged) —
        reference interactive_measurements.py:1196-1210."""
        from tumult_core_spark.base import Measurement

        dom = v_domain()
        inner = create_count_measurement(dom, SymmetricDifference(), PureDP(), 1, 1)

        class RelationOnly(Measurement):
            def __init__(self):
                super().__init__(dom, SymmetricDifference(), PureDP())

            def privacy_function(self, d_in):
                raise NotImplementedError

            def privacy_relation(self, d_in, d_out):
                return ExactNumber(d_in) <= ExactNumber(d_out)

            def __call__(self, data):
                return inner(data)

        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(3),
        )
        acct = PrivacyAccountant.launch(sc, values)
        with pytest.raises(ValueError, match="d_out"):
            acct.measure(RelationOnly())  # no claim -> unanswerable
        with pytest.raises(ValueError, match="privacy relation"):
            acct.measure(RelationOnly(), d_out="1/2")  # false claim
        assert acct.privacy_budget.value == 3  # nothing charged yet
        acct.measure(RelationOnly(), d_out=2)
        assert acct.privacy_budget.value == 1  # claimed d_out charged

    def test_split_failure_leaves_ledger_unchanged(self, spark, values):
        """r17: split runs the partition transformation (and the
        parts-length check) BEFORE deducting the budget — a
        wrong-part-count failure must leave the accountant ACTIVE
        with its full budget, not ACTIVE-but-spent with no children."""
        from tumult_core_spark.base import Transformation
        from tumult_core_spark.domains import ListDomain
        from tumult_core_spark.measurements.interactive import AccountantState
        from tumult_core_spark.transformations.partition import PartitionByKeys

        dom = v_domain()

        class LyingPartition(Transformation):
            # declares 3 parts, produces 2
            def __init__(self):
                super().__init__(
                    dom,
                    SymmetricDifference(),
                    ListDomain(dom, length=3),
                    SumOf(SymmetricDifference()),
                )

            def stability_function(self, d_in):
                return ExactNumber(d_in)

            def __call__(self, data):
                return [data.filter("g = 'a'"), data.filter("g = 'b'")]

        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(2),
        )
        acct = PrivacyAccountant.launch(sc, values)
        with pytest.raises(ValueError, match="parts"):
            acct.split(LyingPartition(), PureDPBudget(1))
        assert acct.privacy_budget.value == 2  # nothing charged
        assert acct.state == AccountantState.ACTIVE
        # the accountant is still fully usable after the failed split
        part = PartitionByKeys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        children = acct.split(part, PureDPBudget(1))
        assert len(children) == 2 and acct.privacy_budget.value == 1

    def test_split_metric_measure_grid(self, spark, values):
        """An L2 (RootSumOfSquared) partition under PureDP — or an L1
        split under zCDP — under-charges; split must reject it."""
        from tumult_core_spark.transformations.partition import PartitionByKeys

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=1,
            privacy_budget=PureDPBudget(2),
        )
        acct = PrivacyAccountant.launch(sc, values)
        part_l2 = PartitionByKeys(
            dom, SymmetricDifference(), True, ["g"], [("a",), ("b",)]
        )
        with pytest.raises(ValueError, match="SumOf"):
            acct.split(part_l2, PureDPBudget(1))
        assert acct.privacy_budget.value == 2  # rejected split charged nothing
        assert acct.state == AccountantState.ACTIVE

        from tumult_core_spark.measures import RhoZCDP, RhoZCDPBudget

        sc_z = SequentialComposition(
            dom, SymmetricDifference(), RhoZCDP(), d_in=1,
            privacy_budget=RhoZCDPBudget(2),
        )
        acct_z = PrivacyAccountant.launch(sc_z, values)
        part_l1 = PartitionByKeys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        with pytest.raises(ValueError, match="RootSumOfSquared"):
            acct_z.split(part_l1, RhoZCDPBudget(1))
        children = acct_z.split(part_l2, RhoZCDPBudget(1))
        assert len(children) == 2 and acct_z.privacy_budget.value == 1

    def test_split_claimed_d_out(self, spark, values):
        """split(d_out=...) validates the claim via stability_relation
        and passes it to the children as their d_in."""
        from tumult_core_spark.transformations.partition import PartitionByKeys

        dom = v_domain()
        sc = SequentialComposition(
            dom, SymmetricDifference(), PureDP(), d_in=2,
            privacy_budget=PureDPBudget(2),
        )
        acct = PrivacyAccountant.launch(sc, values)
        part = PartitionByKeys(
            dom, SymmetricDifference(), False, ["g"], [("a",), ("b",)]
        )
        with pytest.raises(ValueError, match="stability relation"):
            acct.split(part, PureDPBudget(1), d_out=1)  # tighter than true
        children = acct.split(part, PureDPBudget(1), d_out=3)  # looser: fine
        assert children[0].d_in == 3

    def test_partition_selection_factory_group_privacy(self):
        """r16: create_partition_selection_measurement at d_in > 1 must
        solve for the d_in=1 delta whose group-privacy composition
        d*e^eps*delta_1 meets the requested delta (reference
        aggregations.py:2033-2037) — it previously solved with the raw
        delta and tripped its own soundness assert; d_in < 1 raises."""
        from tumult_core_spark.domains import (
            SparkDataFrameDomain,
            SparkStringColumnDescriptor,
        )
        from tumult_core_spark.measurements.aggregations import (
            create_partition_selection_measurement,
        )

        dom = SparkDataFrameDomain({"g": SparkStringColumnDescriptor()})
        m = create_partition_selection_measurement(dom, 1, "1/1000", d_in=2)
        eps, delta = m.privacy_function(2)
        assert eps <= ExactNumber(1)
        assert delta <= ExactNumber("1/1000")
        assert m.threshold > create_partition_selection_measurement(
            dom, 1, "1/1000", d_in=1
        ).threshold  # group privacy demands a strictly higher threshold
        with pytest.raises(NotImplementedError):
            create_partition_selection_measurement(dom, 1, "1/1000", d_in="1/2")

    def test_partition_selection_factory_infinite_budget(self, spark):
        """r17: an infinite ApproxDP budget (eps = inf, or delta = 1)
        takes the reference's alpha=0 / threshold=0 branch
        (aggregations.py:2044-2046) instead of crashing in the CMF
        solve with an opaque 'p must be in (0, 1]'; the resulting
        measurement releases every nonempty group's exact count."""
        from tumult_core_spark.domains import (
            SparkDataFrameDomain,
            SparkStringColumnDescriptor,
        )
        from tumult_core_spark.measurements.aggregations import (
            create_partition_selection_measurement,
        )

        dom = SparkDataFrameDomain({"g": SparkStringColumnDescriptor()})
        for eps, dlt in [(float("inf"), "1/1000"), (1, 1), (float("inf"), 1)]:
            m = create_partition_selection_measurement(dom, eps, dlt)
            assert m.alpha == 0 and m.threshold == 0
            e, d = m.privacy_function(1)
            assert not e.is_finite and d == 0
        df = spark.createDataFrame(
            [("a",)] * 3 + [("b",)] * 1, schema="g string"
        )
        m = create_partition_selection_measurement(dom, float("inf"), 1)
        got = {
            (r["g"], r["count"])
            for r in m(df).collect()
        }
        assert got == {("a", 3), ("b", 1)}  # exact counts, nothing dropped

    def test_sequential_composition_budget_measure_validated(self, spark, values):
        """r16: a budget denominated in the wrong measure is rejected
        at construction (previously a confusing can_spend crash at the
        first query); raw numeric budgets cast through the output
        measure, matching the reference's PrivacyBudgetInput surface."""
        from tumult_core_spark.measures import RhoZCDP, RhoZCDPBudget

        dom = v_domain()
        with pytest.raises(ValueError, match="denominated"):
            SequentialComposition(
                dom, SymmetricDifference(), PureDP(), d_in=1,
                privacy_budget=RhoZCDPBudget(1),
            )
        sc = SequentialComposition(
            dom, SymmetricDifference(), RhoZCDP(), d_in=1, privacy_budget=2
        )
        assert isinstance(sc.privacy_budget, RhoZCDPBudget)
        assert sc.privacy_budget.value == 2
