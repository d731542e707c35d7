"""Session helpers and output sanitization / materialization.

``sanitize_df`` implements the measurement-boundary hardening the
reference performs via a ``saveAsTable`` round-trip
(``tmlt/core/measurements/spark_measurements.py:58-76,877-894``,
``utils/misc.py:88-105``): destroy row-order / partitioning side
channels and **freeze the sampled noise** so Spark retries or lazy
re-evaluation can never re-sample it.  The caller's a-priori row
bound picks the freeze.  Every small release — ``sanitize_df``'s
small branch, ``freeze_noised_release`` and the driver-side releases
in ``measurements.spark`` — leaves through :func:`freeze_small`: a
bounded Arrow collect, a canonical driver sort and a local relation.
Large releases take a ``rand()``-keyed shuffle and a parquet write +
read-back (identical on a real cluster with shared storage and in
local mode).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager
from typing import Iterator, Optional

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_MATERIALIZE_ROOT: Optional[str] = None


def get_spark(app_name: str = "tumult_core_spark", cpus: Optional[int] = None) -> SparkSession:
    """Standard local session with the scale-appropriate config."""
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # progress bars interleave carriage returns into harness stdout
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def _materialize_root() -> str:
    global _MATERIALIZE_ROOT
    if _MATERIALIZE_ROOT is None:
        configured = os.environ.get("SPARK_GRAFT_MATERIALIZE_DIR")
        if configured:
            # shared-storage root (hdfs://, s3a://, or a shared mount):
            # one session-scoped subdir; cleanup belongs to the
            # deployment's retention policy, not a local atexit hook
            _MATERIALIZE_ROOT = (
                configured.rstrip("/") + "/tcs_materialize_" + uuid.uuid4().hex
            )
        else:
            _MATERIALIZE_ROOT = tempfile.mkdtemp(prefix="tcs_materialize_")
            atexit.register(shutil.rmtree, _MATERIALIZE_ROOT, ignore_errors=True)
    return _MATERIALIZE_ROOT


def materialize(df: DataFrame) -> DataFrame:
    """Write ``df`` to parquet and read it back, forcing one evaluation.

    The write root defaults to a driver-local temp dir (correct for
    local mode, where driver and executors share a filesystem).  On a
    real cluster set ``SPARK_GRAFT_MATERIALIZE_DIR`` to a
    distributed-FS path (hdfs://, s3a://, or a shared mount) — every
    executor must be able to write it and the driver to read it back.
    This is the only place measurement plans are forced.  The read-back
    takes the written frame's schema, so it runs no schema-inference
    job; parquet reads every column back nullable.
    """
    path = _materialize_root() + "/" + uuid.uuid4().hex
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def cut_lineage(df: DataFrame, checkpoint_dir: Optional[str] = None) -> DataFrame:
    """Break lineage for one round of an iterative operator.

    Default (``checkpoint_dir=None``): ``localCheckpoint(eager=True)``
    — the fastest cut, but its blocks live only on the executors that
    computed them, so on a real cluster a single lost executor kills
    the whole iterative job (no lineage left to recompute from).  Fine
    on local[N]; NOT fault-tolerant at 1000 executors.

    With ``checkpoint_dir`` set: a RELIABLE ``checkpoint()`` into that
    directory (``sc.setCheckpointDir`` is applied on first use) —
    survives executor loss at the cost of one distributed-FS
    round-trip per iteration.  Point it at HDFS/S3 on a cluster; any
    shared path works on local mode.  Set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` to have
    consumed rounds' files reclaimed automatically.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    current = sc._jsc.sc().getCheckpointDir()
    cur_val = current.get() if current.isDefined() else None
    # setCheckpointDir appends a fresh UUID subdir each call — only
    # (re)set when unset or pointed elsewhere, so every round of the
    # loop shares one directory.  The comparison is the path-normalized
    # PARENT of the stored UUID subdir (a substring test would treat
    # /a/ckpt2 as already-set when /a/ckpt is stored, and vice versa).
    # NOTE: the checkpoint directory is SparkContext-global — two
    # concurrent iterative jobs on one session that pass different
    # ``checkpoint_dir``s will ping-pong the setting; give them the
    # same directory (the UUID subdirs keep their files apart).
    if cur_val is None or _checkpoint_parent(cur_val) != _strip_file_scheme(
        checkpoint_dir
    ):
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def _strip_file_scheme(path: str) -> str:
    """Normalize a local path or file: URI for equality comparison.

    The stored checkpoint dir comes back as an absolute ``file:/`` URI,
    so a relative caller path must be made absolute too or the equality
    test never matches and every round re-invokes ``setCheckpointDir``
    (a fresh UUID subdir per iteration).
    """
    for prefix in ("file://", "file:"):
        if path.startswith(prefix):
            return os.path.normpath(path[len(prefix):])
    if "://" in path:
        # non-local scheme (hdfs://, s3a://, ...): keep verbatim —
        # normpath would collapse the scheme's double slash
        return path
    return os.path.normpath(os.path.abspath(path))


def _checkpoint_parent(stored: str) -> str:
    """Parent of the UUID subdir SparkContext stores as its checkpoint
    dir, normalized like :func:`_strip_file_scheme`'s output."""
    return os.path.dirname(_strip_file_scheme(stored))


def free_local_checkpoint(df: DataFrame) -> None:
    """Release the block-manager storage behind a ``localCheckpoint``ed
    DataFrame that will NEVER be used again.

    ``localCheckpoint`` pins its blocks until the backing RDD is
    garbage-collected on the JVM side, which through the py4j reference
    graph can lag by many seconds — an iterative operator that
    checkpoints per round (connected components, distributed BPE)
    otherwise accumulates every round's blocks for the whole job and
    repeated runs inherit each other's heap pressure (the observed
    2-3x wall-clock variance of the components benchmark).  The
    checkpointed RDD is exactly the ``LogicalRDD`` of the analyzed
    plan, so it can be dropped deterministically.  After this call any
    action on ``df`` raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — only
    call it once the frame is dead.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Py4JError:  # pragma: no cover - best-effort cleanup
        pass


#: Releases at or below this many rows freeze as a driver-built Arrow
#: local relation (``LocalTableScan``) instead of a parquet round-trip.
#: Typical DP releases are group-keys-sized (dozens to thousands of
#: rows) and the parquet write/commit/re-read dominated their
#: wall-clock (~0.7 s per release measured at 6 rows); 50k rows keeps
#: the driver transfer bounded (~tens of MB worst case) while covering
#: every grouped release the factories produce short of full
#: histograms.
SMALL_RELEASE_ROWS = 50_000


def _shuffle_for_release(df: DataFrame) -> DataFrame:
    """The pre-freeze relation :func:`sanitize_df` releases: a full
    shuffle keyed on ``rand()`` (destroys any data-dependent
    partitioning), then a sort within partitions by all output columns
    (destroys residual input order)."""
    cols = df.columns
    # A release column literally named "__shuffle_key" must survive:
    # derive a name guaranteed absent from the schema.
    shuffle_key = get_nonconflicting_string(cols)
    return (
        df.withColumn(shuffle_key, F.rand())
        # REBALANCE (not plain repartition): same privacy effect — a full
        # shuffle keyed on rand() — but AQE right-sizes the partition
        # count to the data.  A 3k-row aggregate release collapses to one
        # output file instead of `shuffle.partitions` near-empty ones
        # (the parquet write+read in materialize() was dominated by
        # per-file commit overhead), while a 100 TB release still fans
        # out to target-sized partitions.
        .hint("REBALANCE", shuffle_key)
        # backticks: column names may contain dots/parens (e.g. "q0.9(x)")
        .sortWithinPartitions(*[F.col(f"`{c}`") for c in cols])
        .drop(shuffle_key)
    )


def _collect_bounded(df: DataFrame, bound: int, bound_name: str = "known_rows"):
    """Collect ``df`` to the driver as an Arrow table of at most
    ``bound`` rows.

    ``limit(bound + 1)`` caps the transfer even when the caller's bound
    is wrong (a buggy aggregation emitting millions of rows must raise
    here, not OOM the driver first); in the correct case the relation
    has <= ``bound`` rows and the limit is a no-op.  Both sides are
    functions of the public keys or of the pre-noise data, so an
    over-bound result is a caller bug, never a data-dependent event.
    """
    head = df.limit(bound + 1).toArrow()
    if head.num_rows > bound:
        # the limit caps the collect at bound + 1, so the true size is
        # unknown — only that it exceeds the declared bound
        raise AssertionError(
            f"relation produced more than the declared {bound_name}={bound} "
            f"rows (>= {head.num_rows})"
        )
    return head


def freeze_small(table, schema) -> DataFrame:
    """Freeze a driver-held release ``table`` (a ``pa.Table`` of at most
    :data:`SMALL_RELEASE_ROWS` rows) as a DataFrame of Spark ``schema``.

    Rows are put in the canonical order first: an ascending sort on
    every column, left to right.  That order is a function of the
    released values alone, so it carries no trace of the input's row
    order or partitioning; rows that tie on every column are identical,
    so their relative order shows nothing either.  This is the same
    guarantee the reference gets from a ``rand()``-keyed repartition and
    ``sortWithinPartitions`` (``_get_sanitized_df``), without the
    exchange.  Arrow cannot sort nested columns (``list``, ``map``,
    ``struct`` with a list field), so a nested column sorts on the
    ``repr`` of each value instead: still a function of the value
    alone.

    The sorted table embeds as an immutable JVM ``LocalTableScan``: no
    Python-RDD scan (re-reads cost ~10 ms), it broadcasts for free in
    downstream joins, a re-read can never re-sample the noise, and the
    Arrow path round-trips nulls, NaN, dates, decimals and nested types
    exactly.  Every field is declared nullable, as the parquet branch
    (:func:`materialize`) reads it back, so a release's schema does not
    depend on which branch froze it.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def sort_key(col):
        if pa.types.is_nested(col.type):
            return pa.array([repr(v) for v in col.to_pylist()], pa.string())
        return col

    # positional names: release columns may repeat or clash with any name
    names = [str(i) for i in range(table.num_columns)]
    keys = pa.table([sort_key(c) for c in table.columns], names=names)
    order = pc.sort_indices(keys, sort_keys=[(n, "ascending") for n in names])
    return SparkSession.active().createDataFrame(
        table.take(order), schema=_as_nullable(schema)
    )


def _as_nullable(data_type):
    """``data_type`` with every field, element and value nullable, at
    every nesting level (Spark's ``DataType.asNullable``)."""
    from pyspark.sql import types as T

    if isinstance(data_type, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in data_type.fields
            ]
        )
    if isinstance(data_type, T.ArrayType):
        return T.ArrayType(_as_nullable(data_type.elementType), True)
    if isinstance(data_type, T.MapType):
        return T.MapType(
            _as_nullable(data_type.keyType), _as_nullable(data_type.valueType), True
        )
    return data_type


def sanitize_df(df: DataFrame, known_rows: int) -> DataFrame:
    """Strip row-order and partitioning side channels from a release,
    then freeze it.

    ``known_rows`` is the release's a-priori row bound: a function of
    the public keys (grouped releases: at most one row per declared
    key; SVT: its public input grid) or of the pre-noise data
    (partition selection's candidate count), never of a noise draw.  The bound
    alone picks the freeze branch, so nothing observed here depends on
    the noise and the single-invocation accounting is exact.  Each
    branch has exactly ONE release point, on any cluster:

    * ``known_rows <= SMALL_RELEASE_ROWS`` (the group-keys-sized common
      case): one bounded Arrow collect, put in canonical order and
      embedded as a local relation by :func:`freeze_small`.  A release
      with more rows than the bound raises ``AssertionError`` (a caller
      bug).
    * larger bounds: a ``rand()``-keyed shuffle and a sort within
      partitions (:func:`_shuffle_for_release`), then ONE
      self-contained parquet write job (:func:`materialize`) whose
      files define the frozen release — no cache or multi-job
      dependency that a lost executor could invalidate.

    The bound is an UPPER bound: fewer actual rows are fine (a
    caller-supplied key list may repeat keys that GroupBy dedups).
    """
    if known_rows <= SMALL_RELEASE_ROWS:
        return freeze_small(_collect_bounded(df, known_rows), df.schema)
    return materialize(_shuffle_for_release(df))


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` for the duration of the block, then unpersist it.

    Cache ownership stays with the caller: Spark's CacheManager is
    keyed by plan, so when a cache of the same plan already exists
    (``storageLevel`` looks it up; the Python-side ``is_cached`` flag
    only knows about this object), the block reuses it and leaves it in
    place — unpersisting would drop the caller's entry and force every
    later use to re-run the full upstream plan.
    """
    if df.storageLevel != StorageLevel.NONE:
        yield df
        return
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def coerce_lit(value, data_type):
    """A typed literal Column for ``value`` cast to ``data_type``."""
    return F.lit(value).cast(data_type)


def freeze_noised_release(df, noise_specs, known_rows):
    """Freeze a small grouped noisy release with DRIVER-side noise.

    ``df`` is the PRE-noise release relation (e.g. the 0-filled grouped
    aggregate), ``known_rows`` the caller's a-priori public-key row
    bound and ``noise_specs`` an ordered list of ``(column, mech)``
    pairs, ``mech`` an :class:`AddNoiseToSeries`.  Each column is
    released as ``mech``'s ``release_type`` (at scale 0 the mechanism
    returns its input cast to that type).  Callers take this branch when
    ``known_rows <= SMALL_RELEASE_ROWS``, a decision made from the
    public bound alone.

    A null in a spec column raises ``ValueError`` before any draw: the
    mechanism would see it as NaN.  The 0-filled factory releases never
    hold one.

    Why: the executor path runs one ``ArrowEvalPython`` stage plus an
    exchange per release just to noise a public-key-sized relation
    (dozens-to-thousands of rows) — each a full Python-runner round
    trip.  The same mechanism applied ONCE driver-side to the collected
    pre-noise Arrow table is the identical distribution with zero
    Python stages and zero extra exchanges.  The accounting is
    unchanged: nothing observed here depends on a draw, and each
    mechanism is invoked exactly once.  Non-noise columns never leave
    Arrow, and the result freezes through :func:`freeze_small`.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    head = _collect_bounded(df, known_rows)
    for col, _ in noise_specs:
        if head.column(col).null_count:
            raise ValueError(f"noise column {col!r} holds nulls")

    types = {
        "long": (pa.int64(), T.LongType()),
        "double": (pa.float64(), T.DoubleType()),
    }
    fields = {fld.name: fld for fld in df.schema.fields}
    for col, mech in noise_specs:
        ser = mech(head.column(col).to_pandas())
        pa_type, spark_type = types[mech.noise_mechanism.release_type]
        fields[col] = T.StructField(col, spark_type)
        idx = head.schema.get_field_index(col)
        arr = pa.array(ser.to_numpy(), type=pa_type)
        head = head.set_column(idx, pa.field(col, pa_type), arr)
    return freeze_small(head, T.StructType(list(fields.values())))


_LOCAL_ROWS_PER_PARTITION = 25_000


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """A small driver-known row list as a JVM-local relation.

    ``spark.createDataFrame(list)`` routes through ``parallelize`` +
    ``applySchemaToPythonRDD``: every *evaluation* of the relation runs
    one near-empty **Python** task per default-parallelism partition
    (~150-300 ms of Python-runner round trip each on a warm worker),
    and public-key relations are evaluated several times per
    measurement — the 0-fill left join, the apply semi/anti joins, the
    release freeze.  Building the same rows as a pyarrow Table instead
    embeds them as an immutable JVM ``LocalTableScan`` (the same
    mechanism :func:`sanitize_df` uses for frozen releases): zero
    Python tasks, no parallelize stage, and a ``coalesce`` sized to the
    row count keeps every downstream stage of the keys' lineage (the
    per-group noise UDF above the fill join) at one task per ~25k rows
    instead of one near-empty task per core.  At scale nothing changes:
    key grids too large for the driver are built distributed
    (``compute_full_domain_df``'s crossJoin branch) and never pass
    through here.

    Falls back to the classic ``createDataFrame`` for values the Arrow
    bridge cannot represent (``ArrowTypeError`` / ``ArrowInvalid``,
    e.g. an ``int`` key in a string column, which the classic path
    casts); the result is identical either way (the relation is the
    same multiset of rows).  Any other error propagates.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = list(rows)
    arrow_schema = to_arrow_schema(schema)
    try:
        arrays = [
            pa.array([row[i] for row in rows], type=arrow_schema.field(i).type)
            for i in range(len(arrow_schema))
        ]
    except (pa.ArrowTypeError, pa.ArrowInvalid):
        df = spark.createDataFrame(rows, schema=schema)
    else:
        tbl = pa.Table.from_arrays(arrays, schema=arrow_schema)
        df = spark.createDataFrame(tbl, schema=schema)
    n_part = max(1, -(-len(rows) // _LOCAL_ROWS_PER_PARTITION))
    default_par = spark.sparkContext.defaultParallelism
    return df.coalesce(min(n_part, default_par))


def get_nonconflicting_string(strs) -> str:
    """A string guaranteed distinct from every input (reference
    ``utils/misc.py:19-26``): one character longer than the longest
    input can never collide."""
    longest = max((len(s) for s in strs), default=0)
    return "A" * (longest + 1)


def print_sdf(sdf: DataFrame) -> None:
    """Print a Spark DataFrame deterministically (sorted pandas form;
    reference ``utils/misc.py:28-33``)."""
    pdf = sdf.toPandas()
    print(pdf.sort_values(list(pdf.columns), ignore_index=True))


def get_fullname(obj) -> str:
    """Fully qualified class name of an object or type (reference
    ``utils/misc.py:55-70``)."""
    cls = obj if isinstance(obj, type) else obj.__class__
    module = cls.__module__
    if module is None or module == str.__class__.__module__:
        return cls.__name__
    return f"{module}.{cls.__name__}"


def escape_column_name(column_name: str) -> str:
    """Backtick-escape a column name containing special characters,
    unless already escaped (reference ``utils/misc.py:71-86``).

    Embedded backticks are doubled (Spark SQL's escape for a literal
    backtick inside a quoted identifier) — ``a`b`` becomes ```a``b```;
    without the doubling the emitted fragment mis-parses.  "Already
    escaped" requires the WHOLE name to be one quoted identifier, not
    merely backticks at both ends (```a`x`b``` is two identifiers)."""
    import re

    if not re.search(r"[^a-zA-Z0-9_]", column_name):
        return column_name
    if (
        len(column_name) >= 2
        and column_name.startswith("`")
        and column_name.endswith("`")
        # inner backticks must all be doubled for this to be ONE
        # already-quoted identifier
        and "`" not in column_name[1:-1].replace("``", "")
    ):
        return column_name
    return "`" + column_name.replace("`", "``") + "`"


def column_ref(df: DataFrame, name: str) -> Column:
    """``df``'s column named exactly ``name``, resolved in one py4j send.

    The name is always backtick-quoted, so a dot, a space or a
    backtick in it is part of the name, never a struct access or an
    SQL fragment (``F.col(name)`` and ``df[name]`` parse it).  The
    result is bound to ``df``'s attribute, so it stays valid in any
    frame derived from ``df`` that keeps the column.
    """
    return df["`" + name.replace("`", "``") + "`"]


def copy_if_mutable(value):
    """Deep-copy mutable containers, pass immutable values through
    (reference ``utils/misc.py:38-52``) — the defensive-copy helper
    component constructors use for list/dict parameters."""
    import copy as _copy

    if isinstance(value, (int, float, str, bytes, bool, frozenset, type(None))):
        return value
    if isinstance(value, tuple):
        return tuple(copy_if_mutable(v) for v in value)
    if isinstance(value, list):
        return [copy_if_mutable(v) for v in value]
    if isinstance(value, set):
        return {copy_if_mutable(v) for v in value}
    if isinstance(value, dict):
        return {copy_if_mutable(k): copy_if_mutable(v) for k, v in value.items()}
    return _copy.deepcopy(value)
