"""Seeded corpus and ground truth for the benchmark.

Every row has five int64/string columns, each aimed at one pruning tier
of the indexed table:

- ``k``: the sorted key (seeded gaps of 1..4), min/max plus an R-tree;
- ``b``: random EVEN values, bloom-indexed — any odd literal is absent,
  so ``b = <odd>`` is refuted by blooms but not by min/max;
- ``d``: per row group the bookends ``a_lo``/``z_hi`` plus two seeded
  middle categories — min/max never refutes a middle category, the
  dictionary tier does;
- ``p``: equal to ``k`` and page-indexed, so a narrow range keeps one
  page of a surviving row group;
- ``v``: the payload the maintenance cycle updates.

The same seed gives the same files, byte for byte (``digest``), and the
same probe sequence. Ground truth comes from the generator's arrays, not
from the program under test.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import Dict, List, Sequence, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = 40
BOOKENDS = ("a_lo", "z_hi")
PAGE_BYTES = 64  # tiny data pages: write_batch_size sets the page size

# predicate classes; a round of probes holds one of each
CLASSES = ("point", "range", "inlist", "bloom", "dict", "page",
           "contradiction")


@dataclass(frozen=True)
class Shape:
    files: int
    row_groups: int      # per file
    rows: int            # per row group
    page_rows: int       # per data page

    @property
    def file_rows(self) -> int:
        return self.row_groups * self.rows


def category(code: int) -> str:
    return BOOKENDS[code] if code < 2 else f"m{code - 2:03d}"


@dataclass
class Rows:
    """Column arrays of the live rows, sorted by ``k``."""
    k: np.ndarray
    b: np.ndarray
    d: np.ndarray        # category codes, see category()
    v: np.ndarray

    def __len__(self) -> int:
        return len(self.k)

    def table(self) -> pa.Table:
        return pa.table({
            "k": pa.array(self.k, pa.int64()),
            "b": pa.array(self.b, pa.int64()),
            "d": pa.array([category(c) for c in self.d], pa.string()),
            "p": pa.array(self.k, pa.int64()),
            "v": pa.array(self.v, pa.int64()),
        })

    def take(self, idx) -> "Rows":
        return Rows(self.k[idx], self.b[idx], self.d[idx], self.v[idx])

    def concat(self, other: "Rows") -> "Rows":
        return Rows(*(np.concatenate([a, o]) for a, o in
                      ((self.k, other.k), (self.b, other.b),
                       (self.d, other.d), (self.v, other.v))))

    def logical_bytes(self) -> int:
        """Bytes of user data: four int64 columns plus the string bytes."""
        lens = np.array([len(category(c)) for c in range(CATEGORIES + 2)])
        return int(32 * len(self.k) + lens[self.d].sum())


def generate(rng: np.random.Generator, n: int, start_key: int,
             block: int) -> Rows:
    """``n`` rows with keys above ``start_key``; every ``block`` rows
    (one row group) share two middle categories beside the bookends."""
    k = start_key + np.cumsum(rng.integers(1, 5, n, dtype=np.int64))
    b = 2 * rng.integers(1 << 20, 1 << 39, n, dtype=np.int64)
    v = rng.integers(0, 1_000_000, n, dtype=np.int64)
    d = np.empty(n, dtype=np.int64)
    for s in range(0, n, block):
        mids = 2 + rng.choice(CATEGORIES, 2, replace=False)
        pattern = np.array([0, 1, mids[0], mids[1]])
        d[s:s + block] = pattern[np.arange(min(block, n - s)) % 4]
    return Rows(k, b, d, v)


def write_file(path: str, rows: Rows, shape: Shape) -> int:
    """Write ``rows`` as one Parquet file with ``shape``'s row groups
    and pages; returns the file size."""
    pq.write_table(rows.table(), path, row_group_size=shape.rows,
                   write_page_index=True, data_page_size=PAGE_BYTES,
                   write_batch_size=shape.page_rows)
    return os.path.getsize(path)


def file_name(i: int) -> str:
    return f"part-{i:05d}.parquet"


class Corpus:
    """A generated table: its rows and where each row sits on disk."""

    def __init__(self, seed: int, shape: Shape):
        self.shape = shape
        self.rows = generate(np.random.default_rng(seed),
                             shape.files * shape.file_rows, 0, shape.rows)

    def write(self, data_dir: str) -> Dict[str, int]:
        """Write every file; returns input-size counters."""
        os.makedirs(data_dir, exist_ok=True)
        fr = self.shape.file_rows
        size = 0
        for i in range(self.shape.files):
            part = self.rows.take(slice(i * fr, (i + 1) * fr))
            size += write_file(os.path.join(data_dir, file_name(i)), part,
                               self.shape)
        return {"files": self.shape.files,
                "row_groups": self.shape.files * self.shape.row_groups,
                "rows": len(self.rows), "bytes": size}

    def locate(self, idx: np.ndarray) -> set:
        """{(file name, row group)} holding the given row positions."""
        fr, r = self.shape.file_rows, self.shape.rows
        return {(file_name(int(i) // fr), (int(i) % fr) // r) for i in idx}


def digest(data_dir: str) -> str:
    """sha256 over the names and bytes of every Parquet file."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(data_dir, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@dataclass(frozen=True)
class Probe:
    cls: str
    where: str
    mode: str            # "files" or "rowgroups"
    args: tuple          # the literals, for the ground truth


def round_of_probes(rows: Rows, rng: np.random.Generator) -> List[Probe]:
    """One probe of every class, in a seeded order."""
    return [make_probe(CLASSES[i], rows, rng)
            for i in rng.permutation(len(CLASSES))]


def make_probe(cls: str, rows: Rows, rng: np.random.Generator) -> Probe:
    """A WHERE clause of class ``cls`` over the live ``rows``."""
    k = rows.k
    i = int(rng.integers(0, len(k)))
    key = int(k[i])
    if cls == "point":
        return Probe(cls, f"k = {key}", "files", (key,))
    if cls == "range":
        hi = int(k[min(i + 40, len(k) - 1)])
        return Probe(cls, f"k BETWEEN {key} AND {hi}", "files", (key, hi))
    if cls == "inlist":
        keys = tuple(sorted(int(x) for x in rng.choice(k, 5, replace=False)))
        return Probe(cls, f"k IN ({', '.join(map(str, keys))})", "files",
                     keys)
    if cls == "bloom":
        # odd, so absent; mid-domain, so min/max keeps most row groups
        x = 2 * int(rng.integers(1 << 37, 1 << 38)) + 1
        return Probe(cls, f"b = {x}", "files", (x,))
    if cls == "dict":
        code = int(rng.choice(rows.d[rows.d >= 2]))
        return Probe(cls, f"d = '{category(code)}'", "files", (code,))
    if cls == "page":
        return Probe(cls, f"p BETWEEN {key} AND {key + 6}", "rowgroups",
                     (key, key + 6))
    if cls == "contradiction":
        return Probe(cls, f"k > {key} AND k < {key - 10}", "files",
                     (key, key - 10))
    raise ValueError(f"unknown probe class {cls!r}")


def matches(probe: Probe, rows: Rows) -> np.ndarray:
    """Positions in ``rows`` that satisfy ``probe``."""
    k, a = rows.k, probe.args
    if probe.cls == "point":
        mask = k == a[0]
    elif probe.cls in ("range", "page"):
        mask = (k >= a[0]) & (k <= a[1])
    elif probe.cls == "inlist":
        mask = np.isin(k, a)
    elif probe.cls == "bloom":
        mask = rows.b == a[0]
    elif probe.cls == "dict":
        mask = rows.d == a[0]
    elif probe.cls == "contradiction":
        mask = (k > a[0]) & (k < a[1])
    else:
        raise ValueError(f"unknown probe class {probe.cls!r}")
    return np.flatnonzero(mask)


def expected(probe: Probe, rows: Rows) -> List[Tuple[int, int]]:
    idx = matches(probe, rows)
    return sorted(zip(rows.k[idx].tolist(), rows.v[idx].tolist()))


def collected(result: Sequence) -> List[Tuple[int, int]]:
    return sorted((r[0], r[1]) for r in result)
