"""Seeded raw inputs, written as plain Parquet. The same seed gives the
same files; the engine only ever sees them through Spark reads."""

from __future__ import annotations

import datetime as dt
import os
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1995, 1, 1)
FLAGS = ("A", "N", "R")


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def _dates(days: np.ndarray) -> pa.Array:
    base = (EPOCH - dt.date(1970, 1, 1)).days
    return pa.array((days + base).astype("int32"), type=pa.date32())


def lineitem_commits(rng: np.random.Generator, out_dir: str, commits: int,
                     rows: int, days_per_commit: int) -> List[str]:
    """One raw file per commit. Commit i ships within its own window of
    dates (windows overlap by half), so date predicates prune by stats."""
    paths = []
    for i in range(commits):
        start = i * days_per_commit // 2
        days = rng.integers(start, start + days_per_commit, rows)
        qty = rng.integers(1, 51, rows).astype("float64")
        price = np.round(qty * rng.uniform(900.0, 2000.0, rows), 2)
        t = pa.table({
            "l_orderkey": pa.array(rng.integers(0, 6_000_000, rows)),
            "l_partkey": pa.array(rng.integers(0, 200_000, rows)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, rows), 2)),
            "l_shipdate": _dates(days),
            "l_returnflag": pa.array(rng.choice(FLAGS, rows)),
            "l_shipmode": pa.array(rng.choice(
                ("AIR", "MAIL", "RAIL", "SHIP", "TRUCK"), rows)),
        })
        paths.append(_write(t, os.path.join(out_dir, f"commit-{i:03d}.parquet")))
    return paths


def orders(rng: np.random.Generator, first_key: int, rows: int) -> pa.Table:
    keys = np.arange(first_key, first_key + rows, dtype="int64")
    return pa.table({
        "o_orderkey": pa.array(keys),
        "o_custkey": pa.array(rng.integers(0, 150_000, rows)),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), rows)),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500_000, rows), 2)),
        "o_orderdate": _dates(rng.integers(0, 2400, rows)),
        "o_orderpriority": pa.array(rng.choice(
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
            rows)),
        "o_comment": pa.array([f"order {k} note {v}" for k, v in zip(
            keys, rng.integers(0, 1_000_000, rows))]),
    })


def orders_files(rng: np.random.Generator, out_dir: str, base_rows: int,
                 batches: int, batch_rows: int) -> Dict[str, object]:
    """The base table's rows plus the micro-batches appended later (keys
    above the base range)."""
    base = _write(orders(rng, 0, base_rows),
                  os.path.join(out_dir, "base.parquet"))
    appends = [_write(orders(rng, base_rows + j * batch_rows, batch_rows),
                      os.path.join(out_dir, f"batch-{j:03d}.parquet"))
               for j in range(batches)]
    return {"base": base, "batches": appends}


def _words(rng: np.random.Generator, vocab: np.ndarray, n: int) -> List[str]:
    return list(vocab[rng.integers(0, len(vocab), n)])


def documents(rng: np.random.Generator, path: str, singletons: int,
              families: int, exact_dups: int) -> str:
    """Documents with three kinds of redundancy the curate pipeline must
    find, each with an answer that does not depend on hash luck:

    - exact duplicates: a copy of a singleton with other case/spacing
      (same normalized fingerprint);
    - near-duplicate families: one period of words repeated 2, 3 or 4
      times, so members have identical word-3-gram sets (Jaccard 1) but
      different text;
    - singletons of random words, which share no 3-grams with others.
    """
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(sorted({"".join(rng.choice(letters, rng.integers(3, 9)))
                             for _ in range(6000)}))
    texts: List[str] = []
    singles = [" ".join(_words(rng, vocab, int(rng.integers(25, 45))))
               for _ in range(singletons)]
    texts += singles
    for _ in range(families):
        period = _words(rng, vocab, int(rng.integers(8, 15)))
        members = int(rng.integers(2, 4))
        for reps in rng.permutation([2, 3, 4])[:members]:
            texts.append(" ".join(period * int(reps)))
    for k in rng.choice(len(singles), exact_dups, replace=False):
        words = singles[k].split(" ")
        words[0] = words[0].upper()
        texts.append("  ".join(words) + " ")
    order = rng.permutation(len(texts))
    t = pa.table({"doc_id": pa.array(np.arange(len(texts), dtype="int64")),
                  "text": pa.array([texts[i] for i in order])})
    return _write(t, path)
