"""Seeded input generators for the workloads and the dedup probe.

Every input is a pure function of the seed: numpy's PCG64 draws the
values on the driver and pyarrow writes the workload tables as parquet
(no Spark job, so input generation does not warm the engine).  Each
table is split into ``files`` parquet files so a scan has one task per
slot.  Public key lists are returned beside the tables; they are the
public metadata a DP analyst declares up front.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUSES = ["F", "O"]
SHIP_MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _pick(rng: np.random.Generator, values: List[str], n: int) -> pa.Array:
    return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))


def _write(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


# --------------------------------------------------------------------------
# dp_session: lineitem-like and orders-like tables
# --------------------------------------------------------------------------


@dataclass
class OrdersTables:
    lineitem_path: str
    orders_path: str
    lineitem_rows: int
    orders_rows: int
    num_suppliers: int


def make_orders_tables(
    root: str, seed: int, orders: int, suppliers: int, files: int
) -> OrdersTables:
    """``orders`` orders with 1-7 lines each (mean 4).

    Every supplier key appears on ~lineitem_rows / suppliers lines, far
    above any partition-selection threshold, so the released partition
    set is the full supplier set whatever the noise draws.
    """
    rng = np.random.default_rng([seed, 1])
    lines = rng.integers(1, 8, size=orders)
    okeys = np.arange(1, orders + 1, dtype=np.int64)
    n = int(lines.sum())
    l_okey = np.repeat(okeys, lines)
    qty = rng.integers(1, 51, size=n).astype(np.int64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, size=n), 2)
    lineitem = pa.table(
        {
            "orderkey": l_okey,
            "l_suppkey": rng.integers(1, suppliers + 1, size=n).astype(np.int64),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.uniform(0.0, 0.1, size=n), 2),
            "l_returnflag": _pick(rng, RETURN_FLAGS, n),
            "l_linestatus": _pick(rng, LINE_STATUSES, n),
            "l_shipmode": _pick(rng, SHIP_MODES, n),
        }
    )
    order_tbl = pa.table(
        {
            "orderkey": okeys,
            "o_custkey": rng.integers(1, orders // 10 + 1, size=orders).astype(np.int64),
            "o_orderpriority": _pick(rng, PRIORITIES, orders),
            "o_totalprice": np.round(rng.uniform(1000.0, 400000.0, size=orders), 2),
        }
    )
    out = OrdersTables(
        os.path.join(root, "lineitem"), os.path.join(root, "orders"),
        n, orders, suppliers,
    )
    _write(lineitem, out.lineitem_path, files)
    _write(order_tbl, out.orders_path, files)
    return out


# --------------------------------------------------------------------------
# bulk_release: one fact table over a public (a, b) cell domain
# --------------------------------------------------------------------------


@dataclass
class CellTable:
    path: str
    rows: int
    a_values: List[int]
    b_values: List[int]


def make_cell_table(
    root: str, seed: int, a_size: int, b_size: int, rows: int, files: int
) -> CellTable:
    """``rows`` facts over the public domain a x b.  Some cells are
    empty: the full-domain release still has one row per cell."""
    rng = np.random.default_rng([seed, 2])
    table = pa.table(
        {
            "a": rng.integers(0, a_size, size=rows).astype(np.int64),
            "b": rng.integers(0, b_size, size=rows).astype(np.int64),
            "x": np.round(rng.uniform(0.0, 100.0, size=rows), 3),
        }
    )
    out = CellTable(
        os.path.join(root, "cells"), rows, list(range(a_size)), list(range(b_size))
    )
    _write(table, out.path, files)
    return out


# --------------------------------------------------------------------------
# dedup probe: small corpus with planted near-duplicates
# --------------------------------------------------------------------------


@dataclass
class Corpus:
    table: pa.Table
    texts: Dict[int, str]
    #: (original id, near-copy id) pairs planted in the corpus
    planted_pairs: List[Tuple[int, int]]
    #: ids of one boilerplate cluster, larger than the LSH bucket cap
    hot_cluster: List[int]


def _replace(
    rng: np.random.Generator, words: np.ndarray, vocab: np.ndarray, k: int
) -> np.ndarray:
    out = words.copy()
    out[rng.choice(len(out), size=k, replace=False)] = vocab[
        rng.integers(0, len(vocab), size=k)
    ]
    return out


def make_corpus(
    seed: int,
    docs: int,
    dup_rate: float,
    related_rate: float,
    hot_cluster_size: int,
    words_per_doc: Tuple[int, int] = (150, 250),
    vocab_size: int = 20_000,
) -> Corpus:
    """``docs`` documents over a 20,000-word random vocabulary:

    * ``dup_rate`` of them are near-copies of another document, with one
      word replaced (5-char-shingle Jaccard ~0.97);
    * ``related_rate`` of them share three quarters of their words with
      another document (Jaccard ~0.5, a candidate in about half the
      cases, below any dedup threshold);
    * one boilerplate cluster of ``hot_cluster_size`` identical copies,
      enough to overflow an LSH bucket;
    * the rest are fresh.  Words are drawn uniformly from the large
      vocabulary, so unrelated documents share almost no shingles.
    """
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 9, size=vocab_size)
    vocab = np.array(
        ["".join(letters[rng.integers(0, 26, size=k)]) for k in lengths]
    )

    def fresh() -> np.ndarray:
        k = rng.integers(words_per_doc[0], words_per_doc[1] + 1)
        return vocab[rng.integers(0, vocab_size, size=k)]

    n_dups = int(round(docs * dup_rate))
    n_related = int(round(docs * related_rate))
    n_orig = docs - n_dups - n_related - hot_cluster_size
    if n_orig < n_dups + n_related:
        raise ValueError("each near-copy and related document needs its own original")
    bodies: List[np.ndarray] = [fresh() for _ in range(n_orig)]
    sources = rng.choice(n_orig, size=n_dups + n_related, replace=False)
    planted = []
    for src in sources[:n_dups]:
        planted.append((int(src), len(bodies)))
        bodies.append(_replace(rng, bodies[src], vocab, 1))
    for src in sources[n_dups:]:
        bodies.append(_replace(rng, bodies[src], vocab, len(bodies[src]) // 4))
    # exact copies: every band bucket of the cluster holds all of it
    base = fresh()
    hot = list(range(len(bodies), len(bodies) + hot_cluster_size))
    bodies.extend(base for _ in range(hot_cluster_size))
    texts = {i: " ".join(w) for i, w in enumerate(bodies)}

    # shuffle row order so planted structure is not contiguous
    ids = rng.permutation(len(texts)).astype(np.int64)
    table = pa.table({"doc_id": ids, "text": pa.array([texts[int(i)] for i in ids])})
    return Corpus(table, texts, planted, hot)
