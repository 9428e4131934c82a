"""Seeded inputs for the benchmark and the exact answers its checks use.

Everything here is numpy and pyarrow on the driver; Spark only ever sees
the parquet files written here.  The same seed gives the same files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fact-table shape.  g_few is the fixed-UDF-cost shape, g_many the
# per-group-cost shape; 512 groups already put one sketch op above two
# seconds (stage 2 pays a pandas call per group), so more groups would
# leave too few ops in a run.
FEW_GROUPS = 8
MANY_GROUPS = 512
ZIPF_A = 1.2
MAX_ITEM = 50_000
FILES_PER_TABLE = 8

EVENT_TYPES = ("view", "click", "search", "cart", "buy", "share", "like", "rate")
EVENT_P = np.array([0.30, 0.22, 0.15, 0.10, 0.08, 0.07, 0.05, 0.03])
VOCAB = 5_000
DUP_SHARE = 0.2


@dataclass
class Table:
    """A parquet directory plus the columns it was written from."""

    path: str
    cols: dict[str, np.ndarray]

    @property
    def rows(self) -> int:
        return len(next(iter(self.cols.values())))

    def nbytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.path, f)) for f in os.listdir(self.path)
        )


def write_parquet(path: str, cols: dict[str, np.ndarray], files: int) -> None:
    """Row slices of ``cols`` as ``files`` parquet files, so Spark reads
    ``files`` partitions whatever the table size."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(cols)
    n = table.num_rows
    for i in range(files):
        lo, hi = i * n // files, (i + 1) * n // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:02d}.parquet"))


def fact_table(path: str, rng: np.random.Generator, rows: int, many: int = MANY_GROUPS) -> Table:
    """Lognormal value, Zipf item ids, a few-group and a many-group key."""
    cols = {
        "v": rng.lognormal(0.0, 1.0, rows),
        "item": np.minimum(rng.zipf(ZIPF_A, rows), MAX_ITEM).astype(np.int64),
        "g_few": rng.integers(0, FEW_GROUPS, rows, dtype=np.int64),
        "g_many": rng.integers(0, many, rows, dtype=np.int64),
    }
    write_parquet(path, cols, FILES_PER_TABLE)
    return Table(path, cols)


def event_batch(rng: np.random.Generator, rows: int) -> dict[str, np.ndarray]:
    """One micro-batch for a SketchStore: each event type has its own
    value distribution, so per-type quantiles differ."""
    et = rng.choice(len(EVENT_TYPES), size=rows, p=EVENT_P)
    mu = np.linspace(-1.0, 1.5, len(EVENT_TYPES))[et]
    return {
        "event_type": np.array(EVENT_TYPES, dtype=object)[et],
        "value": rng.lognormal(mu, 0.8),
        "user_id": rng.integers(0, 1_000_000, rows, dtype=np.int64),
    }


class DocStream:
    """Documents in id order; a DUP_SHARE of them copy an earlier
    document (of any earlier batch or this one) with one word changed,
    so near-duplicate pairs cross batch boundaries."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.words: list[np.ndarray] = []

    def batch(self, docs: int) -> dict[str, np.ndarray]:
        rng = self.rng
        start = len(self.words)
        texts = []
        for i in range(docs):
            if self.words and rng.random() < DUP_SHARE:
                w = self.words[int(rng.integers(0, len(self.words)))].copy()
                w[int(rng.integers(0, len(w)))] = int(rng.integers(0, VOCAB))
            else:
                w = rng.integers(0, VOCAB, int(rng.integers(40, 80)))
            self.words.append(w)
            texts.append(" ".join(f"w{x}" for x in w))
        return {
            "doc_id": np.arange(start, start + docs, dtype=np.int64),
            "text": np.array(texts, dtype=object),
        }


# ---------------------------------------------------------------------------
# exact answers
# ---------------------------------------------------------------------------
class GroupedValues:
    """Values sorted within each group: exact ranks, percentiles and
    moments per group, for checking what the engine reports."""

    def __init__(self, keys: np.ndarray, values: np.ndarray):
        order = np.lexsort((values, keys))
        self.keys = keys[order]
        self.values = values[order]
        self.groups, self.starts = np.unique(self.keys, return_index=True)
        self.ends = np.append(self.starts[1:], len(self.keys))
        self.index = {k: i for i, k in enumerate(self.groups.tolist())}

    def slice(self, key) -> np.ndarray:
        i = self.index[key]
        return self.values[self.starts[i] : self.ends[i]]

    def rank_error(self, key, q: float, x: float) -> float:
        """|midpoint rank of x − q| within the group's values."""
        v = self.slice(key)
        lo = np.searchsorted(v, x, "left")
        hi = np.searchsorted(v, x, "right")
        return abs((lo + hi) / 2.0 / len(v) - q)

    def moments(self, key) -> dict:
        v = self.slice(key)
        n = len(v)
        d = v - v.mean()
        m2, m3, m4 = (d**2).sum(), (d**3).sum(), (d**4).sum()
        return {
            "cnt": n,
            "sum_x": v.sum(),
            "min_x": v[0],
            "max_x": v[-1],
            "mean_x": v.mean(),
            "var_pop_x": m2 / n,
            "var_samp_x": m2 / (n - 1),
            "std_pop_x": np.sqrt(m2 / n),
            "std_samp_x": np.sqrt(m2 / (n - 1)),
            "skew_x": np.sqrt(n) * m3 / m2**1.5,
            "kurt_x": n * m4 / m2**2 - 3.0,
        }


def item_counts(keys: np.ndarray, items: np.ndarray) -> dict[tuple, int]:
    """Exact (group, item) → count."""
    code, cnt = np.unique(keys * (MAX_ITEM + 1) + items, return_counts=True)
    groups, its = divmod(code, MAX_ITEM + 1)
    return dict(zip(zip(groups.tolist(), its.tolist()), cnt.tolist()))


def exact_topk(keys: np.ndarray, items: np.ndarray, k: int) -> dict[int, list]:
    """Per group: [(item, cnt)] by count DESC, item ASC — the order
    ``exact_topk`` promises."""
    out: dict[int, list] = {}
    for (g, it), c in item_counts(keys, items).items():
        out.setdefault(g, []).append((it, c))
    return {g: sorted(v, key=lambda t: (-t[1], t[0]))[:k] for g, v in out.items()}
