"""Structured Streaming operators.

The reference has no streaming surface (SURVEY §2.7); these expose the
Spark-native streaming patterns a training-data pipeline needs over
the ``events`` table shape: watermarked windowed aggregation,
streaming dedup, and watermark-bounded sessionization.  All are
``readStream -> transform -> writeStream`` compositions; tests drive
them with ``trigger(availableNow=True)`` over the static parquet so
they run without a live source.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def read_stream_parquet(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int = 16,
    nanos_ts_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Incremental parquet source (micro-batched by files).

    ``nanos_ts_cols`` converts TIMESTAMP(NANOS) columns (read as
    epoch-nano longs under ``nanosAsLong``) back to timestamps; the
    flag is set whenever the caller names such columns, so an explicit
    ``schema`` no longer silently skips it (the stream would otherwise
    fail at scan time with 'Illegal Parquet type').

    Single-FILE paths are exposed through a driver-local temp-dir
    symlink (the file-stream source requires a directory): a LOCAL-MODE
    test convenience only — on a real cluster executors cannot resolve
    the driver's temp path, so pass a directory there.  The temp dir is
    removed at interpreter exit.
    """
    if nanos_ts_cols:
        # consulted at scan-task time, not just schema inference — must
        # be set even when the caller supplies the schema
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(path).schema
    import os

    if os.path.isfile(path):
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="tcs_stream_")
        os.symlink(os.path.abspath(path), os.path.join(d, os.path.basename(path)))
        atexit.register(shutil.rmtree, d, True)
        path = d
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    from ..sources.io import convert_nano_ts_cols

    return convert_nano_ts_cols(stream, nanos_ts_cols)


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Tumbling-window counts with late-data handling via watermark."""
    group_cols = group_cols or []
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), *group_cols)
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            "count",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: List[str],
    left_ts: str,
    right_ts: str,
    lower_seconds: int = 0,
    upper_seconds: int = 600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval (range) join: pair each left row with the
    right rows sharing ``on`` whose ``right_ts`` falls in
    ``[left_ts + lower_seconds, left_ts + upper_seconds]`` — the
    attribution-window shape (view -> purchase within N minutes).

    Both sides carry a watermark and the join condition bounds event
    time on BOTH sides, which is what lets Spark expire join state:
    without the time bound the state store grows forever.  Inner join
    only — matched pairs emit as soon as both sides arrive; the
    watermark governs state cleanup, not result completeness.

    ``left_ts`` and ``right_ts`` must be distinct column names (the
    output carries both).  Non-key, non-timestamp columns pass through
    from both sides; name collisions outside ``on`` are rejected
    rather than silently suffixed.
    """
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names")
    if lower_seconds > upper_seconds:
        raise ValueError("need lower_seconds <= upper_seconds")
    overlap = (set(left.columns) & set(right.columns)) - set(on)
    if overlap:
        raise ValueError(
            f"Rename colliding non-key columns before joining: {sorted(overlap)}"
        )
    l = left.withWatermark(left_ts, watermark).alias("__l")
    r = right.withWatermark(right_ts, watermark).alias("__r")
    cond = None
    for k in on:
        eq = F.col(f"__l.`{k}`") == F.col(f"__r.`{k}`")
        cond = eq if cond is None else (cond & eq)
    lo = F.col(f"__l.`{left_ts}`") + F.expr(
        f"INTERVAL {int(lower_seconds)} SECONDS"
    )
    hi = F.col(f"__l.`{left_ts}`") + F.expr(
        f"INTERVAL {int(upper_seconds)} SECONDS"
    )
    time_bound = (F.col(f"__r.`{right_ts}`") >= lo) & (
        F.col(f"__r.`{right_ts}`") <= hi
    )
    cond = time_bound if cond is None else (cond & time_bound)
    out_cols = [F.col(f"__l.`{c}`") for c in left.columns] + [
        F.col(f"__r.`{c}`") for c in right.columns if c not in on
    ]
    return l.join(r, cond, "inner").select(*out_cols)


def streaming_dedup(
    stream: DataFrame, key_cols: List[str], ts_col: str, watermark: str = "24 hours"
) -> DataFrame:
    """Exactly-once keys within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` bounds the dedup state store by
    the watermark instead of growing forever.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def streaming_near_dedup(
    stream: DataFrame,
    text_col: str,
    ts_col: str,
    watermark: str = "24 hours",
    shingle_size: int = 8,
) -> DataFrame:
    """Drop near-identical documents arriving within the watermark
    horizon: the dedup key is the winnowed min-shingle content
    fingerprint (``extensions.text.document_fingerprint``), which is
    invariant to small edits that do not disturb the minimum shingle
    — whitespace tweaks, doc-id headers, trailing boilerplate.

    The fingerprint is a pure Catalyst projection on the stream, so
    the only state is the bounded ``dropDuplicatesWithinWatermark``
    store keyed by one 64-bit hash per surviving document.
    """
    from ..extensions.text import document_fingerprint

    fp = document_fingerprint(stream, text_col, shingle_size=shingle_size)
    return (
        fp.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint_robust"])
        .drop("fingerprint", "fingerprint_robust")
    )


def sessionize(
    stream: DataFrame,
    user_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user: events closer than ``gap`` merge."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col(user_col),
            "n_events",
        )
    )


def stateful_sessionize(
    stream: DataFrame,
    user_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState``.

    Unlike :func:`sessionize` (built-in ``session_window``), this is
    the explicit-state pattern for operators Spark has no built-in
    for: per-user state holds ALL open session intervals (arrays of
    ``(start, last, n_events)``), batches merge into them vectorized,
    and a session is emitted ONLY once the event-time watermark has
    reached ``last + gap``.  Sessions are HALF-OPEN, matching the
    built-in ``session_window``: events merge iff strictly closer
    than ``gap`` (an event at exactly ``last + gap`` starts a new
    session), which is also what makes the close rule sound — any
    event the watermark still admits is too far from a closed
    session to have merged into it.  Closing earlier would be wrong in
    append mode: an in-watermark out-of-order event may still arrive
    and bridge two intervals that look gap-separated today (emitting
    a gap-split interval at split time tore one true session into
    several irrevocable output rows).  Emits one row per CLOSED
    session: (user, session_start, session_end, n_events); ``user``
    keeps the input column's type (string ids included), and rows with
    a NULL user are dropped (no identity, no session).

    State is per-key-partitioned by Spark's streaming state store, so
    a hot user costs one state row (with as many open intervals as
    the watermark allows, bounded by watermark/gap); each micro-batch
    touches only keys with new data or expired timers.

    CHECKPOINT COMPATIBILITY: the state layout is versioned (leading
    ``ver`` field, currently 2 — v1 held one scalar open interval, v2
    holds parallel arrays of open intervals).  Restarting over a
    checkpoint written by a different layout fails loudly — either via
    Spark's state-schema check or via the explicit version check here —
    rather than misreading state; migrate by draining the old query and
    starting the new one with a fresh ``checkpointLocation``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_ns = int(pd.Timedelta(gap).total_seconds() * 1_000_000_000)
    # the user key keeps its INPUT type: a long cast here used to
    # collapse every string id (and every NULL) into one null group,
    # silently merging distinct users' sessions and then crashing
    # emit() on the None key.  NULL users are dropped instead — a row
    # with no identity has no session to belong to.
    user_type = stream.schema[user_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("user", user_type, False),
            T.StructField("session_start", T.TimestampType(), False),
            T.StructField("session_end", T.TimestampType(), False),
            T.StructField("n_events", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            # layout version — bump on ANY state-shape change so a
            # restart over an old checkpoint fails loudly, never
            # misreads (see docstring)
            T.StructField("ver", T.LongType(), False),
            # parallel arrays: one element per OPEN interval (epoch ns)
            T.StructField("starts", T.ArrayType(T.LongType()), False),
            T.StructField("lasts", T.ArrayType(T.LongType()), False),
            T.StructField("ns", T.ArrayType(T.LongType()), False),
        ]
    )
    _STATE_VER = 2

    def _read_state(state):
        ver, starts, lasts, ns = state.get
        if ver != _STATE_VER:
            raise ValueError(
                f"stateful_sessionize: checkpoint state layout v{ver} is "
                f"incompatible with this version (v{_STATE_VER}); restart "
                "with a fresh checkpointLocation"
            )
        return starts, lasts, ns

    def emit(user, sessions):
        return pd.DataFrame(
            {
                # plain list, not np.full(dtype=int64): the key rides
                # through in its input type (string ids included)
                "user": [user] * len(sessions),
                "session_start": pd.to_datetime([s[0] for s in sessions], unit="ns"),
                "session_end": pd.to_datetime([s[1] for s in sessions], unit="ns"),
                "n_events": np.array([s[2] for s in sessions], dtype=np.int64),
            }
        )

    def _split_and_rearm(user, intervals, state):
        """Close intervals the watermark has passed, keep the rest."""
        wm_ns = state.getCurrentWatermarkMs() * 1_000_000
        closed = [iv for iv in intervals if iv[1] + gap_ns <= wm_ns]
        open_ = [iv for iv in intervals if iv[1] + gap_ns > wm_ns]
        if open_:
            state.update(
                (
                    _STATE_VER,
                    [iv[0] for iv in open_],
                    [iv[1] for iv in open_],
                    [iv[2] for iv in open_],
                )
            )
            # fire when the watermark passes the EARLIEST open close;
            # max(1, ·): Spark rejects non-positive timeout timestamps,
            # which epoch-adjacent event times would otherwise produce
            state.setTimeoutTimestamp(
                max(1, (min(iv[1] for iv in open_) + gap_ns) // 1_000_000)
            )
        else:
            state.remove()
        if closed:
            return emit(user, closed)
        return None

    def fn(key, pdfs, state):
        (user,) = key
        if state.hasTimedOut:
            starts, lasts, ns = _read_state(state)
            out = _split_and_rearm(
                user, list(zip(starts, lasts, ns)), state
            )
            if out is not None:
                yield out
            return
        ts = np.sort(
            np.concatenate(
                [pdf[ts_col].to_numpy(dtype="datetime64[ns]").view("int64") for pdf in pdfs]
            )
        )
        if len(ts) == 0:
            return
        # Gap-split the batch alone, then merge the resulting intervals
        # with EVERY stored open interval.  Interval-merging (not
        # append-only folding) is required for out-of-order batches that
        # are still inside the watermark: events may PREDATE a stored
        # interval's `last`, and a stored interval may bridge two batch
        # segments that look gap-separated when the batch is considered
        # alone.
        # HALF-OPEN merge semantics (r18): events merge iff strictly
        # closer than `gap` — a session spans [start, last + gap), so
        # an event at exactly last + gap starts a NEW session.  This
        # matches the built-in ``session_window`` AND makes the close
        # rule tear-free: a session closes when wm >= last + gap, and
        # any still-admissible event (ts >= wm) satisfies
        # ts - last >= gap, so it could never have merged anyway.
        # With the previous merge-at-equality (<=) rule, an event at
        # exactly ts == last + gap == wm was both admissible and
        # mergeable into an already-closed session — a 1-ns boundary
        # tear in append mode.
        cuts = np.flatnonzero(np.diff(ts) >= gap_ns)
        bounds = np.concatenate(([0], cuts + 1, [len(ts)]))
        intervals = [
            (int(ts[b]), int(ts[e - 1]), int(e - b))
            for b, e in zip(bounds[:-1], bounds[1:])
        ]
        if state.exists:
            starts, lasts, ns = _read_state(state)
            intervals.extend(zip(starts, lasts, ns))
            intervals.sort(key=lambda iv: (iv[0], iv[1]))
        merged = [intervals[0]]
        for s, e, k in intervals[1:]:
            ms, me, mk = merged[-1]
            if s - me < gap_ns:
                merged[-1] = (ms, max(me, e), mk + k)
            else:
                merged.append((s, e, k))
        out = _split_and_rearm(user, merged, state)
        if out is not None:
            yield out

    return (
        stream.withWatermark(ts_col, watermark)
        .select(F.col(user_col).alias("user"), F.col(ts_col))
        .filter(F.col("user").isNotNull())
        .groupBy("user")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def write_stream_memory(
    stream: DataFrame, query_name: str, output_mode: str = "append"
) -> StreamingQuery:
    """Drain all available input into an in-memory table (test sink)."""
    return (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def write_stream_parquet(
    stream: DataFrame,
    path: str,
    checkpoint_location: str,
    available_now: bool = True,
) -> StreamingQuery:
    """EXACTLY-ONCE parquet file sink.

    The file sink + checkpoint pair is Spark's end-to-end exactly-once
    guarantee: processed source offsets and committed output files are
    both recorded in the checkpoint, so a restarted query (same
    checkpoint) resumes after the last committed batch instead of
    re-emitting it, and readers see only committed files via the
    ``_spark_metadata`` log.  ``available_now=True`` drains what exists
    and stops — the incremental-batch pattern for periodic pipeline
    runs over a growing directory (each run picks up exactly the new
    files).  Append output mode only (file sinks cannot update), which
    means upstream aggregations must emit finalized results — i.e.
    watermarked windows, like :func:`windowed_counts`.
    """
    return (
        stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("append")
        .trigger(availableNow=available_now)
        .start()
    )


def dp_windowed_counts(
    stream: DataFrame,
    ts_col: str,
    epsilon_per_window: float,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: Optional[List[str]] = None,
    count_column: str = "noisy_count",
    public_group_keys: Optional[List] = None,
    allow_data_dependent_groups: bool = False,
):
    """Differentially-private streaming windowed counts.

    Composes the streaming and DP layers: watermarked tumbling-window
    counts, with two-sided geometric noise (scale ``1/epsilon``) added
    inside ``foreachBatch`` so each emitted window is noised exactly
    once at emission.  Because append-mode only emits a window after
    the watermark closes it, every (window, group) row is final when
    noised — re-noising on recomputation is prevented by the sink
    batch-id dedup contract plus the append-only emission.

    THE RELEASE SUPPORT MUST BE PUBLIC (r18).  A grouped count that
    releases rows only for groups PRESENT in the data reveals a
    group's non-emptiness with certainty — one event whose group is
    otherwise empty creates an entire output row, an infinite
    privacy-loss event no noise on the count hides.  This is exactly
    why the batch path's ``GroupBy`` requires a public key list (or a
    partition-selection mechanism).  Streaming parity:

    - ``group_cols`` set and ``public_group_keys`` given: each emitted
      window releases EXACTLY one row per public key — cells with no
      data are 0-filled (then noised like any other), and rows whose
      key is NOT in the public list are dropped before release, never
      disclosed.  Keys are tuples in ``group_cols`` order (bare
      scalars accepted for a single column); NULL-valued keys are not
      supported (a NULL group never matches, so its rows drop).
    - ``group_cols`` set and no keys: raises, unless
      ``allow_data_dependent_groups=True`` explicitly acknowledges
      that group presence is being published (sound only when the
      group domain is public knowledge AND every group is non-empty
      in every window with probability ~1, e.g. dense telemetry).

    The WINDOW set itself remains data-dependent either way: Spark
    emits a tumbling window only if it holds at least one event, and
    watermark progress is itself a function of observed event times —
    see :func:`dp_windowed_counts_privacy` for the accounting caveat.

    The noise runs in an Arrow-batched ``mapInPandas`` on executors
    (the foreachBatch boundary evaluates each batch exactly once per
    batch id, so the noise cannot be re-executed by Catalyst); the
    driver only relays the already-noised, group-cardinality batch to
    the sink, so a high-cardinality group set never bottlenecks on
    per-row driver work.

    Returns a function ``start(sink_writer) -> StreamingQuery`` where
    ``sink_writer(batch_df, batch_id)`` receives the noised batch.
    """
    from .. import samplers
    from ..utils.misc import local_rows_df

    if not (epsilon_per_window > 0):  # also rejects NaN
        raise ValueError(
            f"epsilon_per_window must be > 0 (or inf for no noise), "
            f"got {epsilon_per_window}"
        )
    group_cols = list(group_cols or [])
    if public_group_keys is not None and not group_cols:
        raise ValueError("public_group_keys given but group_cols is empty")
    if group_cols and public_group_keys is None and not allow_data_dependent_groups:
        raise ValueError(
            "dp_windowed_counts with group_cols releases one row per "
            "(window, group) PRESENT IN THE DATA — a data-dependent "
            "support that reveals a group's non-emptiness with "
            "certainty, which no amount of count noise hides (the same "
            "hazard the batch GroupBy's public-keys requirement "
            "exists for).  Pass public_group_keys=[...] to release a "
            "0-filled row per public key per window, or "
            "allow_data_dependent_groups=True to explicitly publish "
            "group presence."
        )
    key_rows: Optional[List[tuple]] = None
    if public_group_keys is not None:
        key_rows = [
            k if isinstance(k, tuple) else (k,) for k in public_group_keys
        ]
        if not key_rows:
            raise ValueError("public_group_keys must be non-empty")
        if any(len(k) != len(group_cols) for k in key_rows):
            raise ValueError(
                f"every public key must have {len(group_cols)} values "
                f"(one per column of {group_cols})"
            )
        if any(v is None for k in key_rows for v in k):
            raise ValueError(
                "NULL public group keys are not supported (a NULL key "
                "never equi-joins, so its cells could never be filled)"
            )
        if len(set(key_rows)) != len(key_rows):
            raise ValueError("public_group_keys contains duplicates")
    # ONE windowed-count implementation: the exact relation is
    # windowed_counts' output, renamed (duplicating the
    # watermark/window/agg block here is how the two copies drift)
    counts = windowed_counts(
        stream, ts_col, window_duration, watermark, group_cols
    ).withColumnRenamed("count", "__exact")
    # exact Fraction scale: the certified discrete-Laplace sampler then
    # matches the batch measurement path bit-for-bit in distribution
    # (the float-parameterized sampler had a q = e^{-1/scale} rounding
    # skew the batch path never had)
    from fractions import Fraction

    scale = (
        Fraction(0)
        if epsilon_per_window == float("inf")
        else Fraction(1) / Fraction(epsilon_per_window)
    )

    out_fields = [f for f in counts.schema.fields if f.name != "__exact"]
    out_schema = T.StructType(
        list(out_fields) + [T.StructField(count_column, T.LongType(), True)]
    )
    out_cols = [f.name for f in out_schema.fields]
    counts_cols = [f.name for f in counts.schema.fields]
    keys_schema = T.StructType([counts.schema[c] for c in group_cols])

    def fill_public_grid(batch_df: DataFrame) -> DataFrame:
        """(emitted windows) x (public keys), exact counts 0-filled.

        The left join FROM the public grid both fills absent cells and
        drops rows whose key is not public — the release support is
        the grid, independent of which groups the data contains.  The
        grid is release-cardinality (windows x keys), so the
        broadcast cross join is trivially small."""
        sp = batch_df.sparkSession
        keys_df = local_rows_df(sp, key_rows, keys_schema)
        wins = batch_df.select("window_start", "window_end").distinct()
        grid = wins.crossJoin(F.broadcast(keys_df))
        return (
            grid.join(
                batch_df, ["window_start", "window_end", *group_cols], "left"
            )
            .withColumn(
                "__exact", F.coalesce(F.col("__exact"), F.lit(0).cast("long"))
            )
            .select(*counts_cols)
        )

    def add_noise(batches):
        for pdf in batches:
            pdf[count_column] = pdf[
                "__exact"
            ].to_numpy() + samplers.two_sided_geometric_exact_vec(scale, len(pdf))
            yield pdf[out_cols]

    def start(
        sink_writer,
        output_mode: str = "append",
        checkpoint_location: Optional[str] = None,
        allow_rerun_renoise: bool = False,
    ):
        # The DP guarantee is noise EXACTLY ONCE per final (window,
        # group).  append satisfies it by construction (a window is
        # emitted once, after the watermark closes it) — PER QUERY RUN.
        # Across runs it needs ``checkpoint_location``: without one, a
        # second start() over the same source re-drains everything and
        # re-noises every previously released window with batch ids
        # reset to 0, silently multiplying the privacy spend that
        # dp_windowed_counts_privacy reports.  With a checkpoint the
        # rerun resumes after the last committed batch (the same
        # exactly-once pair write_stream_parquet documents).  update
        # mode is never sound (per-batch partial counts).
        #
        # complete mode is the one-shot availableNow pattern (append's
        # watermark never closes the tail windows of a finite input).
        # It must release NOTHING until the input is known to be a
        # single batch: availableNow splits by maxFilesPerTrigger, and
        # an eager per-batch release would ship batch 0's PARTIAL
        # counts before the multi-batch guard fires.  So complete mode
        # buffers the batch, blocks until the query terminates, and
        # only then releases — a second batch aborts the query with
        # nothing released.
        if output_mode not in ("append", "complete"):
            raise ValueError(
                "dp_windowed_counts releases are only sound in append "
                "mode (or single-batch complete mode); got "
                f"output_mode={output_mode!r}"
            )
        if output_mode == "append" and checkpoint_location is None:
            # hard-fail, not a warning: re-noising on rerun is a
            # DP-soundness violation (the spend dp_windowed_counts_privacy
            # reports silently multiplies), so the caller must either
            # checkpoint or explicitly acknowledge single-run semantics
            if not allow_rerun_renoise:
                raise ValueError(
                    "dp_windowed_counts.start(append) without a "
                    "checkpoint_location: a re-run over the same source "
                    "re-noises every window, silently multiplying the "
                    "privacy spend dp_windowed_counts_privacy reports. "
                    "Pass checkpoint_location for cross-run exactly-once, "
                    "or allow_rerun_renoise=True to acknowledge this "
                    "query will only ever run once."
                )
            import warnings

            warnings.warn(
                "dp_windowed_counts.start(append) without a "
                "checkpoint_location (allow_rerun_renoise=True): the "
                "privacy accounting assumes this query runs exactly once.",
                stacklevel=2,
            )
        buffered = []

        def noised_batch(batch_df, batch_id):
            if output_mode == "complete" and batch_id > 0:
                raise RuntimeError(
                    "dp_windowed_counts in complete mode re-emitted on "
                    f"batch {batch_id}: every window would be noised "
                    "again, multiplying the privacy spend.  Use append "
                    "mode for multi-batch streams.  (Nothing was "
                    "released: complete mode only releases after a "
                    "clean single-batch run.)"
                )
            if key_rows is not None:
                batch_df = fill_public_grid(batch_df)
            noised = batch_df.mapInPandas(add_noise, schema=out_schema)
            # mapInPandas over a foreachBatch frame runs on executors;
            # collect only the (already noised, group-cardinality) rows
            # for the user's sink callback.
            if output_mode == "complete":
                buffered.append((noised.toPandas(), batch_id))
            else:
                sink_writer(noised.toPandas(), batch_id)

        writer = counts.writeStream.outputMode(output_mode).trigger(
            availableNow=True
        )
        if checkpoint_location is not None:
            writer = writer.option("checkpointLocation", checkpoint_location)
        query = writer.foreachBatch(noised_batch).start()
        if output_mode == "complete":
            # block the one-shot run; release only on clean termination
            query.awaitTermination()
            for pdf, batch_id in buffered:
                sink_writer(pdf, batch_id)
        return query

    return start


def dp_windowed_counts_privacy(
    epsilon_per_window: float,
    n_windows: int,
    neighboring: str = "event",
) -> float:
    """Total privacy spend of a :func:`dp_windowed_counts` stream that
    has emitted ``n_windows`` windows.

    The accounting model (see LIMITATIONS.md "Streaming DP counts"):

    - ``neighboring="event"`` — neighboring streams differ by ONE
      event.  Tumbling windows partition event time into disjoint
      cells and the grouped count partitions each window further, so
      one event changes exactly one emitted (window, group) count.
      Parallel composition applies: the total spend is
      ``epsilon_per_window`` regardless of how many windows the
      stream emits.
    - ``neighboring="user"`` — neighboring streams differ by all
      events of one user.  A user may contribute to every window, so
      the per-window mechanisms compose sequentially across windows:
      ``n_windows * epsilon_per_window``.  (Within ONE window the
      grouped counts still parallel-compose over groups, but a user
      with unbounded rows per window also has unbounded sensitivity —
      bound it upstream with LimitRowsPerGroup before relying on this
      number.)

    SUPPORT CAVEAT (r18): these numbers cover the released COUNT
    VALUES over a given release support.  The GROUP dimension of the
    support is public when ``public_group_keys`` is used (each window
    releases exactly the public grid).  The WINDOW dimension is not:
    Spark emits a tumbling window only when it holds ≥1 event, and
    watermark progress (hence emission timing) is a function of
    observed event times — so which windows appear in the release is
    itself data-dependent.  On a sparse stream, one event whose
    window is otherwise empty creates that window's rows, an
    infinite-loss disclosure of the window's non-emptiness.  The
    accounting above is therefore conditional on treating the
    released window set as public — accurate for dense streams where
    every window is non-empty with certainty; for sparse streams,
    restrict release to a pre-declared public window schedule
    upstream (filter to the schedule, count suppressed windows as
    released zeros) before relying on these numbers.
    """
    if epsilon_per_window < 0:
        raise ValueError("epsilon_per_window must be >= 0")
    if n_windows < 0:
        raise ValueError("n_windows must be >= 0")
    if neighboring == "event":
        return epsilon_per_window if n_windows > 0 else 0.0
    if neighboring == "user":
        return n_windows * epsilon_per_window
    raise ValueError(f"unknown neighboring model: {neighboring!r}")
