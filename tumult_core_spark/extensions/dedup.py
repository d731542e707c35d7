"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (no dedup exists in tumult-core); these
follow the standard corpus-dedup playbook:

* exact dedup — hash-groupBy on content;
* MinHash + LSH — shingle -> minhash signature -> band buckets ->
  candidate pairs.  Everything up to pair generation is built-in Spark
  (``sequence``/``transform``/``xxhash64``/``array_min``), i.e. one
  shuffle on band keys, no Python;
* SimHash — 64-bit signatures via a vectorized pandas UDF, near-dup =
  small Hamming distance;
* n-gram Jaccard verification of candidate pairs via
  ``array_intersect`` / ``array_union``.

Scale notes: LSH banding keys the only shuffle; hot bands (boilerplate
text) are capped by ``max_band_bucket`` to keep the pair join from
exploding quadratically — the cap is applied per bucket with a window,
mirroring the truncation utilities.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..utils.scale import broadcast_below

#: Schema-metadata key stamped on ``band_key`` by
#: :func:`minhash_band_index` when built with ``max_band_bucket`` —
#: the proof :func:`minhash_lsh_cross_pairs` demands before trusting
#: ``index_precapped=True``.  Survives a Spark parquet round-trip
#: (field metadata is stored in Spark's parquet schema property).
_PRECAPPED_META_KEY = "minhash_precapped_max"


def _check_reserved(df: DataFrame, op: str, names: tuple) -> None:
    """Reject user columns that collide with the internal helper
    columns ``op`` is about to add (same up-front guard as
    utils/truncation.py:57 — a collision otherwise surfaces as an
    opaque ambiguous-reference/overwrite error mid-job)."""
    clash = [c for c in df.columns if c in names or c.startswith("__hk_")]
    if clash:
        raise ValueError(
            f"{op}: column names {clash} collide with internal helper "
            f"columns {names} (or the '__hk_*' prefix); rename them first"
        )


def exact_dedup(
    df: DataFrame,
    columns: Optional[List[str]] = None,
    keep: str = "min",
) -> DataFrame:
    """Keep one row per distinct value of ``columns`` (all if None).

    When ``columns`` is None or covers every column, survivor choice is
    moot (all candidates are value-identical) and this is a plain
    hash-groupBy ``dropDuplicates``.  When ``columns`` is a PROPER
    subset, ``keep`` picks the survivor:

    * ``"min"`` (default): the row whose non-key columns form the
      lexicographically smallest struct — deterministic and independent
      of partitioning, matching the repo's reproducibility convention
      (same rule :func:`dedup_paragraphs` uses).  NULL field values
      sort FIRST (Spark struct ordering), so a NULL-payload candidate
      beats any non-NULL one — still deterministic, pinned in tests.
      Implemented as ``min(struct(rest...))`` per key: one map-side
      combined shuffle, the exact same shape as ``dropDuplicates``.
    * ``"any"``: Spark's native ``dropDuplicates`` — an arbitrary,
      partitioning-dependent survivor.  Marginally cheaper (first()
      instead of struct min) and the only option when a non-key column
      has an unorderable type (``map<...>``).
    """
    if keep not in ("min", "any"):
        raise ValueError(f"keep must be 'min' or 'any', got {keep!r}")
    _check_reserved(df, "exact_dedup", ("__rest",))
    if not columns:
        return df.dropDuplicates()
    rest = [c for c in df.columns if c not in columns]
    if keep == "any" or not rest:
        return df.dropDuplicates(columns)
    unorderable = [
        f.name
        for f in df.schema.fields
        if f.name in rest and "map<" in f.dataType.simpleString()
    ]
    if unorderable:
        raise ValueError(
            f"keep='min' needs orderable non-key columns; {unorderable} are "
            "map-typed — pass keep='any' for an arbitrary survivor"
        )
    won = df.groupBy(*columns).agg(
        F.min(F.struct(*[F.col(c) for c in rest])).alias("__rest")
    )
    return won.select(
        *[
            F.col("__rest").getField(c).alias(c) if c in rest else F.col(c)
            for c in df.columns
        ]
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    separator: str = "\n\n",
) -> DataFrame:
    """Corpus-wide exact paragraph dedup with document reassembly
    (the MassiveText / CCNet pass: a paragraph appearing in many
    documents survives only in its first occurrence; every later
    occurrence is cut out of its document).

    Documents are split on ``separator`` into units; a unit's single
    surviving occurrence is the one with the lexicographically
    smallest ``(id, position)`` — deterministic and independent of
    partitioning.  Each document is then re-joined from its kept
    units in original order.  Emits ``(id, text, n_units, n_kept)``;
    a document whose every unit is seen earlier elsewhere collapses
    to the empty string rather than disappearing.

    Scale shape: one posexplode; winner-per-unit is a map-side
    combined ``min(struct(id, pos))`` aggregation, so a boilerplate
    paragraph repeated across the whole corpus combines locally
    instead of routing to one task (AQE skew-join handles the same
    hot unit in the join back); reassembly is one groupBy on the
    document id.  No Python anywhere.
    """
    import re as _re

    units = df.select(
        F.col(id_col),
        F.posexplode(
            # F.split takes a Java regex; quote the literal separator.
            # NULL text coalesces to '' so the document yields one
            # empty unit instead of vanishing through the explode.
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(separator))
        ).alias("__pos", "__unit"),
    )
    winners = units.groupBy("__unit").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("__pos").alias("p"))).alias(
            "__win"
        )
    )
    flagged = units.join(winners, "__unit").withColumn(
        "__keep",
        (F.col("__win.i") == F.col(id_col)) & (F.col("__win.p") == F.col("__pos")),
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"), F.struct("__pos", "__unit")
                        )
                    )
                ),
                lambda s: s["__unit"],
            ),
            separator,
        ).alias(text_col),
        F.count(F.lit(1)).cast("int").alias("n_units"),
        F.sum(F.col("__keep").cast("int")).cast("int").alias("n_kept"),
    )


#: conservative per-row estimate for an over-cap bucket key (band
#: index + bucket hash + flag, pre-compression) in the broadcast gate.
_EST_BUCKET_KEY_BYTES = 64


def cap_hot_buckets(
    df: DataFrame,
    bucket_cols: List[str],
    id_col: str,
    cap: int,
    salt: int = 0x5EED,
    broadcast_threshold_bytes: int = 100 * 1024 * 1024,
) -> DataFrame:
    """Truncate buckets larger than ``cap`` to their top-``cap`` members.

    Two-pass, sort-free for the common case: the input is persisted
    (it is referenced by the size count, both sides of the hot/cold
    split, and typically a downstream self-join — without the cache
    Catalyst re-executes the whole upstream pipeline, including any
    expensive signature ``mapInPandas``, once per branch: 8x in the
    minhash plan), bucket sizes are one map-side-combined aggregation
    over it, and only rows belonging to over-cap buckets — typically a
    tiny minority — pay the ordered ``row_number`` window.  Rows in
    buckets at or under the cap pass through untouched.  This replaces
    a full shuffle+sort over the whole relation with a tiny count
    shuffle plus a sort over just the hot rows.  MEMORY_AND_DISK:
    banded rows are a few longs each, and spilling beats recomputing
    a Python-UDF stage; Spark's ContextCleaner unpersists when the
    result DataFrame is garbage collected.

    Membership in the kept subset is ordered by ``xxhash64(id, salt)``
    (id tiebreak) so it is deterministic under repartitioning and
    unbiased with respect to id assignment: an id-ordered cap would
    systematically evict the highest ids (e.g. every renumbered
    duplicate) from hot buckets.

    The over-cap bucket key set is broadcast when it fits a size gate:
    it has at most ``count(df)/cap`` entries and in practice only
    degenerate boilerplate buckets exceed the cap — but that bound
    still grows linearly with the corpus, so a pathological corpus
    (everything boilerplate) falls back to a plain shuffle join on the
    bucket key instead of an unbounded broadcast.  Counting the hot
    set is a scalar aggregate over the persisted input, so the extra
    action reuses the cache the function needs anyway.  The explicit
    hint holds in every configuration (AQE on or off, automatic
    broadcasts disabled).
    """
    capped, _ = _cap_hot_buckets_with_rescue(
        df, bucket_cols, id_col, cap, salt, broadcast_threshold_bytes
    )
    return capped


def _cap_hot_buckets_with_rescue(
    df: DataFrame,
    bucket_cols: List[str],
    id_col: str,
    cap: int,
    salt: int = 0x5EED,
    broadcast_threshold_bytes: int = 100 * 1024 * 1024,
    payload_cols: Optional[List[str]] = None,
    cache_registry: Optional[list] = None,
):
    """(capped, rescue) — :func:`cap_hot_buckets` plus the RESCUE
    EDGES that make the cap recall-safe for candidate-pair consumers.

    The cap alone silently orphans over-cap members: the eviction
    order is a hash of the id, identical across bands, so a document
    evicted from one bucket of an exact-duplicate group is evicted
    from ALL of them and emits zero candidate pairs — a corpus with a
    million copies of one boilerplate page would keep 999k+ of them as
    "unique".  The fix costs nothing extra: the same row_number window
    that ranks a hot bucket also knows the bucket's rank-1 ANCHOR, so
    every evicted row emits one (anchor, id) edge.  Anchored stars
    keep every member of an over-cap bucket connected to its bucket's
    survivors — connected-component dedup loses nothing — while the
    pair count stays linear in the evicted rows, never Θ(bucket²).
    ``rescue`` has columns (id_a, id_b) — id_a is the anchor, id_a <
    id_b not guaranteed, callers normalize — plus, for every name in
    ``payload_cols``, the anchor's value as ``a_<name>`` and the
    evicted member's as ``b_<name>`` (e.g. the simhash signatures a
    verifying consumer needs).
    """
    from pyspark import StorageLevel

    _check_reserved(
        df,
        "cap_hot_buckets",
        ("__bsz", "__hot", "__rn", "__anchor"),
    )
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if cache_registry is not None:
        # callers that materialize eagerly (minhash_lsh_cross_pairs)
        # collect the persisted relation here and unpersist it once
        # the batch result is checkpointed — otherwise each incremental
        # batch leaks one cached relation for the session's lifetime
        cache_registry.append(df)
    sizes = df.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__bsz"))
    # NULL-SAFE hot lookup: the key columns are renamed and matched
    # with <=> — a plain `on=bucket_cols` left join uses null-unsafe
    # equality, so a NULL-keyed over-cap bucket (legal for a public
    # caller bucketing by a nullable column) could never match the hot
    # set and would pass through uncapped, recreating the quadratic
    # blowup the cap exists to prevent
    hot = (
        sizes.filter(F.col("__bsz") > cap)
        .select(
            *[
                F.col(c).alias(f"__hk_{i}")
                for i, c in enumerate(bucket_cols)
            ]
        )
        .withColumn("__hot", F.lit(True))
    )
    hot = broadcast_below(
        hot,
        hot.count(),
        est_row_bytes=_EST_BUCKET_KEY_BYTES,
        threshold_bytes=broadcast_threshold_bytes,
    )
    cond = F.lit(True)
    for i, c in enumerate(bucket_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"__hk_{i}"))
    flagged = df.join(hot, cond, "left").drop(
        *[f"__hk_{i}" for i in range(len(bucket_cols))]
    )
    cold = flagged.filter(F.col("__hot").isNull()).drop("__hot")
    hot_rows = flagged.filter(F.col("__hot").isNotNull()).drop("__hot")
    w = Window.partitionBy(*bucket_cols).orderBy(
        F.xxhash64(F.col(id_col), F.lit(salt)), F.col(id_col)
    )
    payload_cols = payload_cols or []
    ranked = hot_rows.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__anchor", F.first(id_col).over(w)
    )
    for c in payload_cols:
        ranked = ranked.withColumn(f"__a_{c}", F.first(c).over(w))
    drop_cols = ["__rn", "__anchor"] + [f"__a_{c}" for c in payload_cols]
    capped = ranked.filter(F.col("__rn") <= cap).drop(*drop_cols)
    rescue = (
        ranked.filter(F.col("__rn") > cap)
        .select(
            F.col("__anchor").alias("id_a"),
            F.col(id_col).alias("id_b"),
            *[F.col(f"__a_{c}").alias(f"a_{c}") for c in payload_cols],
            *[F.col(c).alias(f"b_{c}") for c in payload_cols],
        )
        .distinct()
    )
    return cold.unionByName(capped), rescue


def _shingle_expr(text_col: str, shingle_size: int) -> F.Column:
    """Array of distinct character shingles of the lowercased text.

    Pure JVM: ``sequence`` over start offsets + ``transform`` +
    ``substring`` — no Python crossing.  The lowercased text is bound
    ONCE per row through a single-element-array lambda: Catalyst does
    not hoist common subexpressions out of higher-order-function
    lambdas, so the naive form re-lowercases the whole document for
    every shingle (O(len^2) per document).
    """
    return F.array_distinct(
        F.element_at(
            F.expr(
                f"transform(array(lower(`{text_col}`)), t -> "
                f"transform(sequence(1, greatest(length(t) - "
                f"{shingle_size - 1}, 1)), i -> substring(t, i, "
                f"{shingle_size})))"
            ),
            1,
        )
    )


def word_ngrams(text_col: str, n: int = 3) -> F.Column:
    """Array of distinct word n-grams (whitespace tokenization),
    JVM-side.  The token array is bound once per row via the
    single-element-array lambda (see :func:`_shingle_expr`) — the
    naive form re-splits the whole document for every gram index,
    O(tokens^2) per document."""
    return F.array_distinct(
        F.element_at(
            F.expr(
                f"transform(array(split(lower(`{text_col}`), '\\\\s+')), toks -> "
                f"transform(sequence(1, greatest(size(toks) - {n - 1}, 1)), "
                f"i -> array_join(slice(toks, i, {n}), ' ')))"
            ),
            1,
        )
    )


_HASH_BASE = np.uint64(1099511628211)  # FNV-1a prime, odd -> invertible mod 2^64
_HASH_BASE_INV = np.uint64(pow(int(_HASH_BASE), -1, 2**64))


def _splitmix64(h: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer: turns the linear rolling hash
    into a well-mixed 64-bit value."""
    h = h + np.uint64(0x9E3779B97F4A7C15)
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def _rolling_shingle_hashes(text: str, shingle_size: int) -> np.ndarray:
    """All byte-shingle hashes of ``text`` in O(len) vectorized uint64 ops.

    Rolling polynomial hash via the modular-inverse cumsum trick:
    c[t] = b[t] * BASE^{-t}, C = cumsum(c) (mod 2^64 wraparound), then
    window sums re-scaled by BASE^{j+w-1}.  Deterministic everywhere
    (unlike Python's per-process-salted ``hash``), then splitmix64-
    finalized for distribution.  Duplicate shingle positions are
    harmless: the minhash min is unaffected by multiplicity.
    """
    b = np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    w = shingle_size
    if len(b) < w:
        b = np.pad(b, (0, w - len(b)), constant_values=32)
    n = len(b)
    inv_powers = np.empty(n, dtype=np.uint64)
    inv_powers[0] = 1
    np.cumprod(np.full(n - 1, _HASH_BASE_INV, dtype=np.uint64), out=inv_powers[1:])
    powers = np.empty(n, dtype=np.uint64)
    powers[0] = 1
    np.cumprod(np.full(n - 1, _HASH_BASE, dtype=np.uint64), out=powers[1:])
    C = np.cumsum(b * inv_powers, dtype=np.uint64)
    W = C[w - 1 :].copy()
    W[1:] -= C[: n - w]
    return _splitmix64(W * powers[w - 1 :])


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_size: int = 5,
) -> DataFrame:
    """(id, signature array<long>) — minhash over character shingles.

    Arrow-batched NumPy path: one vectorized rolling-hash pass per
    document, then ``num_hashes`` affine mixes of the shingle-hash
    vector with a single outer product + row-min.  ~3x faster than the
    equivalent Catalyst higher-order-function pipeline (interpreted
    lambdas), and deterministic across executors.

    NULL text yields NO signature row (the document can never pair):
    absence is not equality — ``astype(str)`` would otherwise turn
    every NULL into the literal string ``"None"`` and report all
    NULL-text documents as exact duplicates of each other (and of any
    document whose text really is "None").
    """
    rng = np.random.default_rng(0xD1)  # fixed: signatures must be stable
    A = rng.integers(1, 2**63, size=num_hashes, dtype=np.uint64) | np.uint64(1)
    B = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    out_schema = f"{id_col} long, minhash array<long>"

    def compute(batches):
        for pdf in batches:
            sigs = np.empty((len(pdf), num_hashes), dtype=np.int64)
            for i, text in enumerate(pdf[text_col].astype(str)):
                H = _rolling_shingle_hashes(text, shingle_size)
                M = np.multiply.outer(A, H)
                M += B[:, None]
                sigs[i] = M.min(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "minhash": [r.tolist() for r in sigs]}
            )

    # NOT widened before the Python stage (r18, measured and rejected):
    # the signature compute is ~0.4 s single-task at bench scale while
    # widening repartitions the PERSISTED banded relation to
    # default-parallelism partitions, multiplying every downstream
    # cache-consumer stage's task count (~6 branches x 32 tasks of
    # pure overhead for 80k cached rows) — interleaved A/B showed
    # widen-on 2-3x slower.  At 100 TB the scan is already wide and a
    # widen would be a no-op, so it buys nothing at either scale.
    return (
        df.select(id_col, text_col)
        .filter(F.col(text_col).isNotNull())
        .mapInPandas(compute, schema=out_schema)
    )


def minhash_lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    max_band_bucket: int = 50,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via LSH banding.

    Docs sharing any band signature become candidates.  Buckets larger
    than ``max_band_bucket`` are truncated (boilerplate guard) so the
    per-bucket self-join stays bounded.

    Recall under the bucket cap: truncation alone would silently
    ORPHAN over-cap members — the eviction order is a hash of the id,
    identical across bands, so a document evicted from one bucket of
    an exact-duplicate group is evicted from all of them and emits
    zero pairs (a million boilerplate copies would dedup to keeping
    999k+ of them).  Every evicted row therefore also emits one
    RESCUE EDGE to its bucket's rank-1 anchor, from the same window
    pass the cap already runs: every member of an over-cap bucket
    stays connected to that bucket's survivors, connected-component
    dedup loses nothing, and the output stays linear in the evicted
    rows instead of Θ(bucket²).  The output is a CANDIDATE set with a
    connectivity guarantee, not the exhaustive pair list of a hot
    bucket — downstream verification (jaccard, components) is the
    semantic consumer.
    """
    # one banding construction for batch pairs AND the persisted index
    # (cross-batch dedup joins the two, so they must stay bit-identical)
    banded = minhash_band_index(
        df, id_col, text_col, num_hashes, bands, shingle_size
    )
    capped, rescue = _cap_hot_buckets_with_rescue(
        banded, ["band", "band_key"], id_col, max_band_bucket
    )
    left = capped.alias("l")
    right = capped.alias("r")
    pairs = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.band_key") == F.col("r.band_key"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
    )
    normalized_rescue = rescue.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    )
    return pairs.union(normalized_rescue).distinct()


def _minhash_bands(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, band_key) from a minhash-signature relation."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col("minhash")[i * rows_per_band + j]
                            for j in range(rows_per_band)
                        ]
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )


def minhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    max_band_bucket: Optional[int] = None,
) -> DataFrame:
    """(id, band, band_key) — the persistent LSH index of a corpus
    (write it to parquet bucketed by ``band_key`` once; an arriving
    batch then joins against it without re-signing the corpus).
    Every member document is indexed (no signature pre-grouping): the
    index must answer for any member id, and the batch-vs-index join
    is linear in postings, not quadratic in a bucket.

    ``max_band_bucket``: cap hot buckets ONCE at build time (the cap
    keeps the top-``cap`` postings per bucket, so any batch doc hitting
    the bucket still finds survivors — recall of the duplicate FLAG is
    preserved, only which corpus ids are reported narrows).  Building
    capped and passing ``index_precapped=True`` to
    :func:`minhash_lsh_cross_pairs` keeps the per-batch cost
    batch-proportional; an uncapped index forces every arriving batch
    to re-cap the whole corpus relation."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_size)
    banded = _minhash_bands(sigs, id_col, num_hashes, bands)
    if max_band_bucket is not None:
        banded = cap_hot_buckets(
            banded, ["band", "band_key"], id_col, max_band_bucket
        )
        # stamp the cap into the schema so index_precapped=True can be
        # VERIFIED by minhash_lsh_cross_pairs instead of trusted — an
        # uncapped index passed with the flag silently reintroduces
        # the quadratic hot-bucket join the cap exists to prevent
        banded = banded.withMetadata(
            "band_key", {_PRECAPPED_META_KEY: int(max_band_bucket)}
        )
    return banded


def minhash_lsh_cross_pairs(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    max_band_bucket: int = 50,
    index_precapped: bool = False,
    eager_checkpoint: bool = True,
    cache_registry: Optional[list] = None,
) -> DataFrame:
    """(new_id, corpus_id) candidates between an ARRIVING batch and an
    already-indexed corpus — the incremental form of
    :func:`minhash_lsh_candidate_pairs`: only the new batch is signed
    and banded; the corpus side is the persisted
    :func:`minhash_band_index` relation.  Signature parameters must
    match the ones the index was built with.

    Batch-proportional cost requires ``index_precapped=True`` with an
    index built via ``minhash_band_index(..., max_band_bucket=...)``:
    otherwise the corpus index is re-capped here on EVERY call — a
    corpus-scale aggregation + cache per arriving batch (kept as the
    safe default for un-capped indexes, since a hot corpus bucket
    would otherwise make the join quadratic).

    Recall under the new-side cap: evicted over-cap batch members
    (eviction order is a hash of the id, identical across bands, so an
    over-cap group of exact duplicates would otherwise emit ZERO rows
    and enter the corpus as "unique") INHERIT their bucket anchor's
    corpus matches — the anchor shares the evicted doc's band key, so
    its matches through that bucket are exactly what the evicted doc
    would have produced; extra pairs are candidates for the verifier,
    missing pairs would be silent data corruption.

    ``cache_registry``: only meaningful with ``eager_checkpoint=False``
    — pass a list to receive every DataFrame this call persisted, and
    unpersist them yourself after materializing the (lazy) result;
    otherwise the blocks live until ``spark.catalog.clearCache()``."""
    from pyspark import StorageLevel

    caches: list = []
    new_banded = minhash_band_index(
        new_df, id_col, text_col, num_hashes, bands, shingle_size
    )
    capped_new, rescue = _cap_hot_buckets_with_rescue(
        new_banded,
        ["band", "band_key"],
        id_col,
        max_band_bucket,
        cache_registry=caches,
    )
    if index_precapped:
        # verify, don't trust: an index built WITHOUT max_band_bucket
        # carries no cap stamp, and skipping the re-cap for it would
        # reintroduce the quadratic hot-bucket join
        meta = (
            index_df.schema["band_key"].metadata
            if "band_key" in index_df.columns
            else {}
        )
        if _PRECAPPED_META_KEY not in (meta or {}):
            raise ValueError(
                "index_precapped=True but the index carries no "
                f"{_PRECAPPED_META_KEY!r} schema metadata on band_key; "
                "build it with minhash_band_index(..., max_band_bucket=...) "
                "(the stamp survives a Spark parquet round-trip) or pass "
                "index_precapped=False to re-cap here"
            )
        # the stamp's VALUE matters too: an index capped at a much
        # larger bucket size partially reintroduces the quadratic
        # hot-bucket join this verification exists to prevent (r17)
        stamped_cap = int(meta[_PRECAPPED_META_KEY])
        if stamped_cap > int(max_band_bucket):
            raise ValueError(
                f"index_precapped=True but the index was capped at "
                f"{stamped_cap} (> max_band_bucket={max_band_bucket}); "
                "rebuild the index with the tighter cap or pass "
                "index_precapped=False to re-cap here"
            )
        capped_idx = index_df
    else:
        capped_idx, _ = _cap_hot_buckets_with_rescue(
            index_df,
            ["band", "band_key"],
            id_col,
            max_band_bucket,
            cache_registry=caches,
        )
    pairs = (
        capped_new.alias("n")
        .join(
            capped_idx.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    inherited = (
        rescue.select(
            F.col("id_a").alias("__anchor"), F.col("id_b").alias("__evicted")
        )
        .join(pairs, F.col("__anchor") == F.col("new_id"))
        .select(F.col("__evicted").alias("new_id"), "corpus_id")
    )
    # the per-batch result is batch-sized; materialize it eagerly
    # (lineage cut) so every intermediate cached this call — `pairs`
    # and the relations persisted inside the cap helper — can be
    # unpersisted NOW instead of accumulating across a long-lived
    # session's batches (blocks of the localCheckpoint itself are
    # freed by the ContextCleaner when the result is GC'd).
    # CAVEAT: localCheckpoint blocks are NON-RELIABLE — losing an
    # executor that holds them (dynamic allocation, decommissioning)
    # makes the returned DataFrame unrecomputable, and the eager
    # materialization triggers a job inside this call.  Pass
    # eager_checkpoint=False in such environments to get the previous
    # lazy return; the caller then owns unpersisting the persisted
    # intermediates (the returned DataFrame keeps them alive) — pass
    # ``cache_registry`` (a list) to receive handles to every relation
    # this call persisted, and ``.unpersist()`` each once the lazy
    # result is materialized.  Without a registry the only recourse is
    # ``spark.catalog.clearCache()`` — the blocks otherwise accumulate
    # across a long-lived session's batches.
    combined = pairs.unionByName(inherited).distinct()
    if not eager_checkpoint:
        if cache_registry is not None:
            cache_registry.append(pairs)
            cache_registry.extend(caches)
        return combined
    out = combined.localCheckpoint(eager=True)
    pairs.unpersist()
    for cached in caches:
        cached.unpersist()
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    candidates: Optional[DataFrame] = None,
    max_all_pairs_rows: int = 100_000,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with n-gram Jaccard >= threshold.

    With ``candidates`` (e.g. from LSH) the exact similarity is only
    computed on those pairs; without, all pairs are compared — a
    quadratic cross join guarded by ``max_all_pairs_rows`` (the scale
    path is always LSH candidates first).
    """
    grams = df.select(
        F.col(id_col), word_ngrams(text_col, n).alias("__grams")
    )
    if candidates is None:
        n_rows = df.count()
        if n_rows > max_all_pairs_rows:
            raise ValueError(
                f"all-pairs n-gram Jaccard over {n_rows} rows exceeds "
                f"max_all_pairs_rows={max_all_pairs_rows} (~{n_rows * (n_rows - 1) // 2} "
                "pairs); pass LSH candidates (minhash_lsh_candidate_pairs) "
                "or raise the bound explicitly"
            )
        a = grams.alias("a")
        b = grams.alias("b")
        joined = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    else:
        a = grams.alias("a")
        b = grams.alias("b")
        joined = (
            candidates.join(a, candidates["id_a"] == F.col(f"a.{id_col}"))
            .join(b, candidates["id_b"] == F.col(f"b.{id_col}"))
        )
    inter = F.size(F.array_intersect(F.col("a.__grams"), F.col("b.__grams")))
    union = F.size(F.array_union(F.col("a.__grams"), F.col("b.__grams")))
    jac = (inter / F.greatest(union, F.lit(1))).alias("jaccard")
    return (
        joined.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jac,
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _token_hashes(text: str) -> np.ndarray:
    """Per-whitespace-token 64-bit hashes, vectorized and deterministic.

    Same modular-inverse cumsum polynomial hash as the shingle path,
    but windowed on token boundaries instead of fixed width: token
    [s, e) hashes to (C[e-1] - C[s-1]) * BASE^(e-1), then splitmix64.
    Deterministic across executors and runs — unlike Python's builtin
    ``hash``, which is salted per process (PYTHONHASHSEED).  UTF-8
    multibyte tokens are safe: continuation bytes are >= 0x80, so the
    ASCII-whitespace boundary scan never splits inside a codepoint.
    """
    b = np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8)
    if not len(b):
        return np.empty(0, dtype=np.uint64)
    nz = ~np.isin(b, (32, 9, 10, 13, 11, 12))
    prev = np.concatenate(([False], nz[:-1]))
    nxt = np.concatenate((nz[1:], [False]))
    starts = np.flatnonzero(nz & ~prev)
    if not len(starts):
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero(nz & ~nxt) + 1
    bu = b.astype(np.uint64)
    n = len(bu)
    inv_powers = np.empty(n, dtype=np.uint64)
    inv_powers[0] = 1
    np.cumprod(np.full(n - 1, _HASH_BASE_INV, dtype=np.uint64), out=inv_powers[1:])
    powers = np.empty(n, dtype=np.uint64)
    powers[0] = 1
    np.cumprod(np.full(n - 1, _HASH_BASE, dtype=np.uint64), out=powers[1:])
    C = np.concatenate(([np.uint64(0)], np.cumsum(bu * inv_powers, dtype=np.uint64)))
    return _splitmix64((C[ends] - C[starts]) * powers[ends - 1])


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, simhash long) — 64-bit SimHash over whitespace tokens.

    Token hashing and the 64 bit-plane majority votes run vectorized
    in NumPy inside an Arrow-batched ``mapInPandas``.  Token hashes
    use the deterministic splitmix64 polynomial hash shared with the
    minhash path, so signatures are identical across executors, runs,
    and repartitionings.

    NULL text yields NO signature row, same convention (and same
    ``astype(str)`` hazard) as :func:`minhash_signatures`.
    """
    out_schema = f"{id_col} long, simhash long"

    def compute(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            sigs = np.empty(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf[text_col].astype(str)):
                hashes = _token_hashes(text)
                if not len(hashes):
                    sigs[i] = 0
                    continue
                bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
                    np.int64
                )
                votes = (2 * bits - 1).sum(axis=0)
                sig = np.bitwise_or.reduce(
                    (votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
                )
                sigs[i] = sig.astype(np.int64)
            yield pd.DataFrame({id_col: ids, "simhash": sigs})

    # not widened — same finding as minhash_signatures (r18)
    return (
        df.select(id_col, text_col)
        .filter(F.col(text_col).isNotNull())
        .mapInPandas(compute, schema=out_schema)
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    band_bits: int = 16,
    max_band_bucket: int = 200,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole blocking: split the 64-bit signature into 4 16-bit
    bands; any pair within Hamming <= 3 shares at least one exact
    band, so candidates = band-bucket join, verified by popcount.
    Buckets larger than ``max_band_bucket`` (e.g. a degenerate band
    of empty/boilerplate docs) are truncated with a window so the
    per-bucket self-join stays O(cap^2) instead of quadratic in the
    hot bucket — same guard as ``minhash_lsh_candidate_pairs``, and
    with the same RESCUE EDGES: every evicted row also pairs with its
    bucket's rank-1 anchor (signatures carried so the pair passes the
    same Hamming verification), so an over-cap group of identical
    signatures — which the hash-of-id eviction order would otherwise
    orphan in every band at once — stays connected at Hamming 0.
    A rescued member whose anchor happens to be a far signature is
    still filtered by ``max_hamming``; the guarantee repairs the
    identical-signature catastrophe, not the cap's general recall
    trade.

    Recall is guaranteed only while ``max_hamming < 64 // band_bits``
    (the pigeonhole bound: k bands catch up to k-1 differing bits);
    a larger ``max_hamming`` would SILENTLY miss pairs whose
    differences spread across every band, so it is rejected.
    """
    if 64 % band_bits != 0:
        raise ValueError("band_bits must divide 64")
    n_bands = 64 // band_bits
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole recall "
            f"guarantee of {n_bands} bands (need max_hamming <= "
            f"{n_bands - 1}); lower band_bits to get more bands"
        )
    sigs = simhash_signatures(df, id_col, text_col)
    bands = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1))
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "band_key"),
    )
    bands, rescue = _cap_hot_buckets_with_rescue(
        bands, ["band", "band_key"], id_col, max_band_bucket,
        payload_cols=["simhash"],
    )
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
    )
    rescue_cands = rescue.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        # payload order follows the id normalization so sig_a belongs
        # to id_a (hamming is symmetric, but keep the columns honest)
        F.when(F.col("id_a") <= F.col("id_b"), F.col("a_simhash"))
        .otherwise(F.col("b_simhash"))
        .alias("sig_a"),
        F.when(F.col("id_a") <= F.col("id_b"), F.col("b_simhash"))
        .otherwise(F.col("a_simhash"))
        .alias("sig_b"),
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cands.union(rescue_cands)
        .distinct()
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


#: conservative per-row estimate for a surviving holdout posting
#: (doc id string + int total + gram string, pre-compression): used to
#: decide whether the postings index fits a broadcast.
_EST_POSTING_ROW_BYTES = 96


def decontaminate(
    train: DataFrame,
    holdout: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_gram_doc_freq: int = 10_000,
    broadcast_threshold_bytes: int = 100 * 1024 * 1024,
) -> DataFrame:
    """(train_id, holdout_id, jaccard) for training documents whose
    word n-gram Jaccard with ANY holdout (eval/test) document reaches
    ``threshold`` — the benchmark-decontamination step of a training
    pipeline.  Anti-join the training corpus against the distinct
    train_id column of this relation to drop contaminated docs.

    Scale path: an INVERTED n-GRAM INDEX join, not an all-pairs
    comparison — train and holdout gram postings join on the gram, so
    cost is proportional to shared-gram postings.  Grams appearing in
    more than ``max_gram_doc_freq`` holdout documents are dropped from
    the index (stop-gram removal): such grams are near-universal
    boilerplate, contribute negligible Jaccard evidence each, and
    would otherwise make one hot gram quadratic.  The verified jaccard
    is computed for candidate pairs that share at least one surviving
    gram, and it is the jaccard OVER THE SURVIVING VOCABULARY: when a
    stop set exists, dropped grams are excluded from the intersection
    AND from both documents' totals, consistently (intersection via
    the posting counts; totals corrected per document) — excluding
    boilerplate from numerator but not denominator would systematically
    underestimate similarity and silently retain contaminated docs.
    With the default cap the stop set is empty for benchmark-sized
    holdouts and the value is the plain exact jaccard.

    The index-vs-corpus join is size-gated: the surviving holdout
    postings count (a scalar aggregate over the already-built per-gram
    document frequencies) estimates the index size, and the index is
    broadcast only when that estimate fits ``broadcast_threshold_bytes``
    — the common case, since holdouts are benchmark-sized.  A large or
    mis-specified holdout falls back to a plain shuffle join instead of
    OOM-ing every executor with an unbounded broadcast.
    """
    from pyspark import StorageLevel

    tg = (
        train.select(
            F.col(id_col).alias("__tid"), word_ngrams(text_col, n).alias("__g")
        )
        .withColumn("__tn", F.size("__g"))
    )
    hg = (
        holdout.select(
            F.col(id_col).alias("__hid"), word_ngrams(text_col, n).alias("__g")
        )
        .withColumn("__hn", F.size("__g"))
    )
    # The holdout postings feed THREE consumers (the per-gram doc-freq
    # aggregate, the stop-gram anti-join, and the index join itself),
    # so persist them once instead of re-exploding the holdout per
    # consumer; this is the small side, and MEMORY_AND_DISK spills
    # rather than OOMs (Spark's ContextCleaner unpersists when the
    # plan is garbage-collected — same convention as dedup_paragraphs).
    h_post = hg.select(
        "__hid", "__hn", F.explode("__g").alias("__gram")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    gram_df = h_post.groupBy("__gram").agg(F.count(F.lit(1)).alias("__df"))
    # ONE aggregation pass over the per-gram doc frequencies yields the
    # size-gate scalar (sum of frequencies at or under the cap) AND the
    # stop-set cardinality — the gate costs a groupBy over the cached
    # postings, not a second holdout scan; the train corpus is untouched
    gate_row = gram_df.agg(
        F.coalesce(
            F.sum(F.when(F.col("__df") <= max_gram_doc_freq, F.col("__df"))),
            F.lit(0),
        ).alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("__df") > max_gram_doc_freq, F.lit(1))),
            F.lit(0),
        ).alias("n_stop"),
    ).first()
    surviving_postings, n_stop_grams = gate_row["n"], gate_row["n_stop"]
    stop_grams = gram_df.filter(F.col("__df") > max_gram_doc_freq)
    h_post = h_post.join(F.broadcast(stop_grams), "__gram", "left_anti")
    t_post = tg.select("__tid", "__tn", F.explode("__g").alias("__gram"))
    # usually holdout sets are benchmark-sized, so the surviving
    # postings broadcast and the train side never shuffles — the index
    # join runs map-side over the corpus scan; but broadcast only when
    # the estimate fits the gate, else a mis-specified holdout becomes
    # an unbounded broadcast (executor OOM at corpus scale) — fall back
    # to a plain shuffle join on the gram key instead
    if surviving_postings * _EST_POSTING_ROW_BYTES <= broadcast_threshold_bytes:
        h_index = F.broadcast(h_post)
    else:
        h_index = h_post
    shared = (
        t_post.join(h_index, "__gram")
        .groupBy("__tid", "__hid")
        .agg(
            F.count(F.lit(1)).alias("__shared"),
            F.first("__tn").alias("__tn"),
            F.first("__hn").alias("__hn"),
        )
    )
    if n_stop_grams:
        # Rare large-holdout case: a stop set exists, so the per-doc
        # totals must drop stopped grams too (the similarity is defined
        # over the surviving vocabulary).  Holdout totals re-count from
        # the surviving cached postings; train totals subtract the
        # per-doc stopped-gram count — a broadcast join against the
        # tiny stop set + a groupBy over ONLY the boilerplate train
        # postings (this branch costs the train corpus a second scan;
        # the common empty-stop-set case never reaches it).
        hn_surv = h_post.groupBy("__hid").agg(
            F.count(F.lit(1)).alias("__hn_s")
        )
        t_stop = (
            t_post.join(F.broadcast(stop_grams.select("__gram")), "__gram")
            .groupBy("__tid")
            .agg(F.count(F.lit(1)).alias("__tstop"))
        )
        shared = (
            shared.join(hn_surv, "__hid")
            .join(t_stop, "__tid", "left")
            .withColumn("__hn", F.col("__hn_s"))
            .withColumn(
                "__tn",
                F.col("__tn") - F.coalesce(F.col("__tstop"), F.lit(0)),
            )
        )
    jac = (
        F.col("__shared")
        / F.greatest(F.col("__tn") + F.col("__hn") - F.col("__shared"), F.lit(1))
    ).alias("jaccard")
    return (
        shared.select(
            F.col("__tid").alias("train_id"),
            F.col("__hid").alias("holdout_id"),
            jac,
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _deletion_variants(col_name: str) -> F.Column:
    """The string plus every single-character deletion of it, distinct.

    Bound through a single-element-array lambda so the source string
    is evaluated once per row (see :func:`_shingle_expr`).
    """
    return F.array_distinct(
        F.element_at(
            F.expr(
                f"transform(array(`{col_name}`), s -> concat(array(s), "
                "transform(sequence(1, greatest(length(s), 1)), "
                "i -> concat(substring(s, 1, i - 1), substring(s, i + 1)))))"
            ),
            1,
        )
    )


def fuzzy_join_edit1(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_id: str,
    right_id: str,
) -> DataFrame:
    """(left_id, right_id, distance) for every pair of rows whose key
    strings are within Levenshtein distance 1 — typo-tolerant entity
    resolution without an all-pairs comparison.

    Blocking: two strings at edit distance <= 1 share a member of each
    other's deletion neighborhood (the string itself plus its
    single-character deletions — the FastSS / SymSpell blocking
    scheme), so exploding both sides' variants and hash-joining on the
    variant finds every candidate with cost proportional to |s| rows
    per input row; an exact ``levenshtein`` verify then removes the
    blocking's false positives.  Both stages are pure Catalyst.
    """
    lv = left.select(
        F.col(left_id).alias("__lid"),
        F.col(left_col).alias("__ls"),
        F.explode(_deletion_variants(left_col)).alias("__v"),
    )
    rv = right.select(
        F.col(right_id).alias("__rid"),
        F.col(right_col).alias("__rs"),
        F.explode(_deletion_variants(right_col)).alias("__v"),
    )
    cands = (
        lv.join(rv, "__v")
        .select("__lid", "__ls", "__rid", "__rs")
        .dropDuplicates(["__lid", "__rid"])
    )
    return (
        cands.withColumn("distance", F.levenshtein("__ls", "__rs"))
        .filter(F.col("distance") <= 1)
        .select(
            F.col("__lid").alias(left_id + "_l"),
            F.col("__rid").alias(right_id + "_r"),
            "distance",
        )
    )


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (Lee et al. 2022-style span dedup)
# ---------------------------------------------------------------------------


def _ws_tokens(text_col: str):
    """Whitespace tokenization shared by the substring-dedup ops (and
    replicated verbatim by the DuckDB oracle): collapse runs of
    whitespace, trim, split on single spaces."""
    return F.split(
        F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "
    )


def duplicate_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_tokens: int = 20,
) -> DataFrame:
    """(id, span_start, span_end): maximal token spans (0-based,
    inclusive) covered by some ``window_tokens``-token window that also
    appears VERBATIM in at least one other document.

    The distributed form of exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — there
    via suffix arrays; here via the window decomposition that Spark
    can shuffle): any cross-document duplicated substring of >=
    ``window_tokens`` tokens is exactly the union of its duplicated
    windows, so emitting merged window spans finds the same spans a
    suffix array would, discretized to token windows.

    Scale design: one posexplode produces ~one row per corpus token
    (the same order of magnitude the tokenizing ops already stream);
    the duplicate test groups windows by a two-seed ``xxhash64`` pair
    (two longs = 16 bytes on the wire vs the 32-char md5-hex string an
    earlier version shuffled — this relation is the pipeline's
    dominant shuffle, so the key width matters; collision probability
    for a 128-bit pair is ~n²/2¹²⁹, negligible at corpus scale) and
    needs only ``min(doc) != max(doc)`` — a map-side-combinable pair
    of scalars, never a count-distinct or a collected posting list, so
    a boilerplate window shared by millions of documents costs two
    longs per partition, not a hot-key blowup.  Span merging is one
    window-function pass per document (islands).

    The window relation feeds TWO consumers (the dup-hash aggregate
    and the spans join), so it is persisted for the call — uncached,
    Catalyst re-runs the corpus tokenize + posexplode + md5 once per
    consumer (verified: two FileScans, no ReusedExchange, since the
    aggregate's partial-agg subtree differs from the join side's).
    MEMORY_AND_DISK spills the token-scale relation rather than
    OOM-ing; Spark's ContextCleaner unpersists when the plan is
    garbage-collected (same convention as ``decontaminate``).  A
    min!=max window function instead of groupBy+join would be
    single-pass but loses the map-side combine, recreating the hot-key
    blowup this design exists to avoid.
    """
    from pyspark import StorageLevel

    toks = df.select(
        F.col(id_col), _ws_tokens(text_col).alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    wins = toks.filter(F.col("__n") >= window_tokens).select(
        id_col,
        F.posexplode(F.sequence(F.lit(0), F.col("__n") - window_tokens)).alias(
            "__ord", "__i"
        ),
        F.col("__toks"),
    ).select(
        id_col,
        "__i",
        F.array_join(
            F.slice(F.col("__toks"), F.col("__i") + 1, window_tokens), " "
        ).alias("__w"),
    ).select(
        id_col,
        "__i",
        # SEED LITERAL FIRST: Spark's xxhash64 chains its arguments
        # (each argument is folded with the running hash as the seed),
        # so xxhash64(w, lit(c)) would be a deterministic function of
        # xxhash64(w) — a pair carrying only 64 bits.  With the
        # constant first, __h2 = XXH64(w, seed=XXH64(c, 42)): two
        # fixed-but-different-seed hashes of the window, jointly
        # ~128-bit collision resistant.
        F.xxhash64("__w").alias("__h1"),
        F.xxhash64(F.lit(0x9E3779B9), F.col("__w")).alias("__h2"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # a window is duplicated iff it occurs in >= 2 distinct documents:
    # min(doc) != max(doc) — skew-proof, no distinct aggregation
    dup_hashes = (
        wins.groupBy("__h1", "__h2")
        .agg(F.min(id_col).alias("__mn"), F.max(id_col).alias("__mx"))
        .filter(F.col("__mn") != F.col("__mx"))
        .select("__h1", "__h2")
    )
    spans = wins.join(dup_hashes, ["__h1", "__h2"]).select(
        id_col,
        F.col("__i").alias("span_start"),
        (F.col("__i") + window_tokens - 1).alias("span_end"),
    )
    # merge overlapping/adjacent windows into maximal spans (islands)
    w = Window.partitionBy(id_col).orderBy("span_start")
    prev_max_end = F.max("span_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = spans.withColumn(
        "__new_island",
        (F.col("span_start") > F.coalesce(prev_max_end + 1, F.lit(-1))).cast("int"),
    ).withColumn(
        "__island",
        F.sum("__new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        marked.groupBy(id_col, "__island")
        .agg(
            F.min("span_start").alias("span_start"),
            F.max("span_end").alias("span_end"),
        )
        .drop("__island")
    )


def remove_duplicate_substrings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_tokens: int = 20,
    out_col: str = "cleaned",
) -> DataFrame:
    """(id, cleaned): every document with its cross-document duplicated
    spans (:func:`duplicate_substring_spans`) removed, rebuilt from the
    surviving tokens.  Pure Catalyst: span lists join back per document
    and higher-order array functions drop covered tokens — no Python.
    Documents shorter than ``window_tokens`` tokens pass through with
    only whitespace normalization (the tokenizer's collapse/trim)."""
    spans = duplicate_substring_spans(df, id_col, text_col, window_tokens)
    span_lists = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = df.select(F.col(id_col), _ws_tokens(text_col).alias("__toks"))
    joined = toks.join(span_lists, id_col, "left").withColumn(
        "__spans", F.coalesce(F.col("__spans"), F.array())
    )
    indexed = F.zip_with(
        F.col("__toks"),
        F.sequence(F.lit(0), F.size("__toks") - 1),
        lambda t, i: F.struct(t.alias("t"), i.alias("i")),
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            F.col("__spans"),
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] <= sp["span_end"]),
        ),
    )
    return joined.select(
        id_col,
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias(out_col),
    )
