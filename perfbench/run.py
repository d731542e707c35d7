"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dp_session --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  The run starts one Spark
``local[N]`` session (N = min(usable CPUs, 4)), generates the
workload's inputs from ``--seed``, warms up, then runs whole op cycles
for ``--seconds`` (rounded up to an even number of rounds, and at
least four, so the two halves of the run hold the same op mix).  Every
op's output is checked.  A traced run ends with the dedup probe.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``.  The line before it is a report
(session sizing, warm-up halves, JIT compile time per round, leak
check, sample counts).  Every
file the run writes lives under ``.perfbench_work/`` in the checkout
and is removed at exit.  See perfbench/README.md.
"""

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from typing import List, NamedTuple  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_SLOTS = 4
DRIVER_MEMORY = "2g"
SAMPLER_VALUES = 100_000
#: the dedup probe's corpus (see ``dedup_layer``)
PROBE_DOCS, PROBE_DUP_RATE, PROBE_RELATED_RATE, PROBE_HOT_CLUSTER = 400, 0.10, 0.10, 60
PROBE_JACCARD = 0.8


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def slots() -> int:
    return min(len(os.sched_getaffinity(0)), MAX_SLOTS)


def start_session(work: str, n: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python temp files (the library's materialize root included), the
    # JVM's temp files and Spark's shuffle files all stay in the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers import the library from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # the JVM keeps its default JIT, as a deployment runs it
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


def sampler_rates() -> dict:
    """Values/s of each certified sampler through AddNoiseToSeries on a
    fixed-size series, single-threaded on the driver."""
    import numpy as np
    import pandas as pd
    from tumult_core_spark.domains import NumpyFloatDomain
    from tumult_core_spark.measurements.noise import (
        AddDiscreteGaussianNoise,
        AddGaussianNoise,
        AddGeometricNoise,
        AddLaplaceNoise,
        AddNoiseToSeries,
    )

    floats = pd.Series(np.arange(SAMPLER_VALUES, dtype=np.float64))
    ints = pd.Series(np.arange(SAMPLER_VALUES, dtype=np.int64))
    out = {}
    for name, mech, values in [
        ("laplace", AddLaplaceNoise(NumpyFloatDomain(), 1), floats),
        ("gaussian", AddGaussianNoise(NumpyFloatDomain(), 1), floats),
        ("geometric", AddGeometricNoise(1), ints),
        ("discrete_gaussian", AddDiscreteGaussianNoise(1), ints),
    ]:
        series = AddNoiseToSeries(mech)
        t = time.perf_counter()
        noised = series(values)
        elapsed = time.perf_counter() - t
        if len(noised) != SAMPLER_VALUES or noised.isna().any():
            raise RuntimeError(f"{name} sampler returned a wrong series")
        out[f"sampler.values_per_s_core.{name}"] = SAMPLER_VALUES / elapsed
    return out


def dedup_layer(spark, seed: int) -> dict:
    """Candidate pairs per document and candidate precision of
    ``minhash_lsh_candidate_pairs`` on a small seeded corpus.  Both are
    fixed for a given seed and library.  Raises CheckFailed when a
    planted near-copy is missed or a boilerplate document is orphaned."""
    from tumult_core_spark.extensions.dedup import minhash_lsh_candidate_pairs

    from perfbench.inputs import make_corpus
    from perfbench.workloads import CheckFailed

    corpus = make_corpus(
        seed, PROBE_DOCS, PROBE_DUP_RATE, PROBE_RELATED_RATE, PROBE_HOT_CLUSTER
    )
    docs = spark.createDataFrame(corpus.table.to_pandas())
    table = minhash_lsh_candidate_pairs(docs, "doc_id", "text", 64, 16).toArrow()
    pairs = set(zip(table.column("id_a").to_pylist(), table.column("id_b").to_pylist()))
    missed = [p for p in corpus.planted_pairs if (min(p), max(p)) not in pairs]
    if missed:
        raise CheckFailed(f"dedup probe: {len(missed)} planted pairs not recalled")
    touched = {i for p in pairs for i in p}
    if not touched.issuperset(corpus.hot_cluster):
        raise CheckFailed("dedup probe: a boilerplate document has no candidate pair")

    shingles = {
        i: {t[j:j + 5] for j in range(len(t) - 4)} for i, t in corpus.texts.items()
    }
    useful = sum(
        len(shingles[a] & shingles[b]) >= PROBE_JACCARD * len(shingles[a] | shingles[b])
        for a, b in pairs
    )
    return {
        "dedup.candidates_per_doc": len(pairs) / len(corpus.texts),
        "dedup.candidate_precision": useful / len(pairs),
    }


def leak_check(spark, large_releases: int) -> dict:
    """Cached relations left at run end, and frozen-release directories
    beyond the one each large release keeps until the session ends."""
    from tumult_core_spark.utils.cleanup import materialization_root

    root = materialization_root()
    dirs = len(os.listdir(root)) if root and os.path.isdir(root) else 0
    return {
        "spark.persistent_rdds_after_run": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "materialize.leftover_dirs": dirs - large_releases,
    }


class Op(NamedTuple):
    round: int
    kind: str
    traced: bool
    latency: float
    input_rows: int
    released_values: int


class Loop:
    """Runs ops, checks them and keeps the tallies."""

    def __init__(self, workload, tracer=None):
        self.workload = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.first_error = None

    def one(self, kind: str, traced: bool):
        """Run and check one op; return (latency, input_rows, values) or
        None when it failed."""
        from perfbench.trace import NullTracer

        tracer = self.tracer if traced else NullTracer()

        def op():
            # the tracer reads Spark's status store after the block,
            # outside the op's latency
            with tracer.op(kind):
                t = time.perf_counter()
                result = self.workload.run(kind, tracer)
                latency = time.perf_counter() - t
            return (latency, *self.workload.check(kind, result, tracer))

        return self.attempt(op)

    def attempt(self, fn):
        """Count ``fn`` as one attempted op; return its result, or None
        when it raised or failed its check."""
        from perfbench.workloads import CheckFailed

        self.attempted += 1
        try:
            return fn()
        except CheckFailed as e:
            self.fail(f"check failed: {e}")
        except Exception:  # an op that raises is a failed op; keep measuring
            self.fail(traceback.format_exc())
        return None

    def absorb(self, other: "Loop") -> None:
        """Add the tallies of a loop that ran on another thread."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.first_error = self.first_error or other.first_error

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"op failed: {msg}", file=sys.stderr)
        if self.first_error is None:
            self.first_error = msg.strip().splitlines()[-1]


def measure(args, spark, inputs, n_slots: int):
    from tumult_core_spark.utils import misc

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[args.workload](spark, inputs)
    tracer = Tracer(spark) if args.trace else None
    loop = Loop(workload, tracer)

    warmup_start_s = time.monotonic() - PROCESS_START

    # The cold first cycle runs its kinds concurrently, each on its own
    # workload instance (own accountant), so class loading, code
    # generation and Python worker start-up overlap instead of queueing.
    def cold_op(kind: str) -> Loop:
        twin = Loop(WORKLOADS[args.workload](spark, inputs))
        twin.one(kind, traced=False)
        return twin

    # the library creates its materialize root lazily and without a
    # lock; create it before the threads race for it
    misc._materialize_root()
    with ThreadPoolExecutor(len(workload.kinds)) as pool:
        for twin in pool.map(cold_op, workload.kinds):
            loop.absorb(twin)
    cold_end_s = time.monotonic() - PROCESS_START
    for _ in range(workload.warmup_cycles - 1):
        for kind in workload.kinds:
            loop.one(kind, traced=False)
    setup_s = time.monotonic() - PROCESS_START

    # whole rounds, an even number of them.  A round is one untraced
    # cycle, followed in a traced run by one traced cycle, so both kinds
    # of cycle see the same warm state and the untraced cycles are the
    # same in both kinds of run.
    ops: List[Op] = []
    jit = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    jit_s = [jit.getTotalCompilationTime() / 1000.0]
    t0 = time.monotonic()
    rounds = 0
    while (
        rounds < workload.min_timed_cycles
        or rounds % 2
        or time.monotonic() - t0 < args.seconds
    ):
        for traced in (False, True) if args.trace else (False,):
            for kind in workload.kinds:
                res = loop.one(kind, traced)
                if res is not None:
                    ops.append(Op(rounds, kind, traced, *res))
        rounds += 1
        jit_s.append(jit.getTotalCompilationTime() / 1000.0)

    untraced = [o for o in ops if not o.traced]
    lat = [o.latency for o in untraced]
    busy = sum(lat)

    def p50(values):
        return statistics.median(values) if values else 0.0

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "session": {
            "master": f"local[{n_slots}]",
            "nproc": len(os.sched_getaffinity(0)),
            "driver_memory": DRIVER_MEMORY,
            "shuffle_partitions": n_slots,
            "aqe": True,
            "aqe_coalesce_partitions": True,
        },
        "warmup_cycles": workload.warmup_cycles,
        "timed_rounds": rounds,
        "timed_ops": len(ops),
        "latency_samples": len(lat),
        "warmup.first_half_op_p50_s": p50([o.latency for o in untraced if o.round < rounds // 2]),
        "warmup.second_half_op_p50_s": p50([o.latency for o in untraced if o.round >= rounds // 2]),
        "round_jit_s": [round(b - a, 2) for a, b in zip(jit_s, jit_s[1:])],
        "round_s": [
            round(sum(o.latency for o in ops if o.round == r), 3) for r in range(rounds)
        ],
        "first_error": loop.first_error,
        "setup_phases_s": {
            "inputs_and_load": warmup_start_s,
            "cold_cycle": cold_end_s - warmup_start_s,
            "warm_cycles": setup_s - cold_end_s,
        },
    }
    end_to_end = {
        "setup_s": setup_s,
        "op_p50_s": p50(lat),
        "ops_per_s": len(lat) / busy if busy else 0.0,
        "input_rows_per_s": sum(o.input_rows for o in untraced) / busy if busy else 0.0,
        "released_values_per_s": sum(o.released_values for o in untraced) / busy if busy else 0.0,
    }
    report.update(leak_check(spark, loop.attempted * workload.large_releases_per_op))
    per_layer = None
    if tracer is not None:
        per_layer = layer_metrics(tracer, ops, n_slots, report)
        # untimed and untraced, after the leak check: the bucket cap
        # persists relations of its own
        t = time.perf_counter()
        per_layer.update(
            loop.attempt(lambda: dedup_layer(spark, args.seed))
            or {"dedup.candidates_per_doc": 0.0, "dedup.candidate_precision": 0.0}
        )
        report["dedup_probe_s"] = time.perf_counter() - t
    return loop, report, end_to_end, per_layer


def layer_metrics(tracer, ops: List[Op], n_slots: int, report) -> dict:
    """The per-layer metrics of the traced ops, the sampler rates and
    the run's report figures; a layer the workload does not call is 0."""
    from perfbench.workloads import DpSession

    traced = [o.latency for o in ops if o.traced]
    untraced = [o.latency for o in ops if not o.traced]
    out = tracer.summary(n_slots)
    out.update(tracer.release_p50(DpSession.kinds))
    out.update(sampler_rates())
    for key in (
        "warmup.first_half_op_p50_s",
        "warmup.second_half_op_p50_s",
        "spark.persistent_rdds_after_run",
        "materialize.leftover_dirs",
    ):
        out[key] = report[key]
    out["trace.overhead_s_per_op"] = (
        statistics.fmean(traced) - statistics.fmean(untraced)
        if traced and untraced else 0.0
    )
    return out


def result_metrics(values: dict, declared: List[dict]) -> dict:
    """``values`` as ``{name: {"value", "unit"}}`` in BENCHMARK.json
    order; the names must be exactly the declared ones."""
    if set(values) != {m["name"] for m in declared}:
        raise RuntimeError(
            f"metrics {sorted(values)} do not match BENCHMARK.json "
            f"{sorted(m['name'] for m in declared)}"
        )
    return {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in declared
    }


def make_inputs(workload_cls, root: str, seed: int, files: int):
    """Write the inputs and import the library, off the main thread."""
    import tumult_core_spark.measurements.aggregations  # noqa: F401

    return workload_cls.make_inputs(root, seed, files)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("tumult_core_spark") is None:
        print(f"perfbench: the library is not in {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    n_slots = slots()
    spark = None
    try:
        # inputs are written while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            pending = pool.submit(
                make_inputs, WORKLOADS[args.workload],
                os.path.join(work, "inputs"), args.seed, n_slots,
            )
            spark = start_session(work, n_slots)
            session_s = time.monotonic() - PROCESS_START
            inputs = pending.result()
        loop, report, end_to_end, per_layer = measure(args, spark, inputs, n_slots)
        phases = report["setup_phases_s"]
        phases["inputs_and_load"] -= session_s
        phases["session"] = session_s
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))

    print(json.dumps(report, sort_keys=True))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        metrics = result_metrics(per_layer, spec["per_layer"])
    else:
        metrics = result_metrics(end_to_end, spec["end_to_end"])
    print(
        json.dumps(
            {
                "correct": loop.failed == 0,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
