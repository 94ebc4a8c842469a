"""The ``lake_rw`` workload: the reference's own traffic through ``Cdl``/``CdlFS``.

A seeded file tree is loaded into a fresh ``rootfs`` table in the timed pass,
then listed, scanned, queried, changed, copied out and exported to Delta,
Iceberg and Hudi. Every op is checked against a model of the op sequence,
outside the op's timed window.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np

CHUNK = 256 * 1024
TOP_DIRS = 8
SUB_DIRS = 5
MAX_FILE = 2 * 1024 * 1024
#: lognormal sizes, scaled to a mean of MEAN_SIZE per file
SIZE_SIGMA = 1.2
MEAN_SIZE = 64 * 1024
EMPTY_SHARE = 0.01
NEW_MODE = 0o600
META_SQL = (
    "SELECT concat(parent, '/', name) AS path, parent, name, size, mode "
    "FROM rootfs WHERE size IS NOT NULL"
)


@dataclass
class Tree:
    """The generated input: relative path -> size, plus its root."""

    root: str
    files: dict[str, int] = field(default_factory=dict)

    @property
    def dirs(self) -> list[str]:
        return sorted({"/" + os.path.dirname(p) for p in self.files})

    @property
    def user_bytes(self) -> int:
        return sum(self.files.values())


def file_sizes(n_files: int) -> np.ndarray:
    """The tree's file sizes, smallest first: ``n_files`` evenly spaced
    quantiles of a lognormal, capped at MAX_FILE; the smallest EMPTY_SHARE
    (at least one file) are empty."""
    q = (np.arange(n_files) + 0.5) / n_files
    raw = np.exp(SIZE_SIGMA * np.array([NormalDist().inv_cdf(x) for x in q]))
    sizes = np.minimum(raw * (MEAN_SIZE * n_files / raw.sum()), MAX_FILE).astype(np.int64)
    sizes[: max(1, round(EMPTY_SHARE * n_files))] = 0
    return sizes


def generate_tree(root: str, n_files: int, seed: int) -> Tree:
    """``n_files`` files spread evenly over TOP_DIRS x SUB_DIRS directories,
    two levels deep, with the sizes of :func:`file_sizes`. The seed places
    the sizes and fills the files, so every seed's tree holds the same
    bytes and rows: the seed changes the tree's shape, not the amount of
    work. File names are unique across the tree, so a name probe hits one
    file."""
    rng = np.random.default_rng(seed)
    tree = Tree(root)
    sizes = rng.permutation(file_sizes(n_files))
    dirs = rng.permutation(np.arange(n_files) % (TOP_DIRS * SUB_DIRS))
    for i in range(n_files):
        d = int(dirs[i])
        rel = f"t{d // SUB_DIRS:02d}/s{d % SUB_DIRS}/f{i:05d}.bin"
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(rng.bytes(int(sizes[i])))
        tree.files[rel] = int(sizes[i])
    return tree


def _rows(size: int) -> int:
    return max(1, math.ceil(size / CHUNK))


class Model:
    """What the table should hold after each op."""

    def __init__(self, tree: Tree) -> None:
        self.files = dict(tree.files)
        self.modes = {p: 0o644 for p in self.files}

    def in_dir(self, d: str) -> list[str]:
        return sorted(p for p in self.files if "/" + os.path.dirname(p) == d)

    def rows(self, paths=None) -> int:
        paths = self.files if paths is None else paths
        return sum(_rows(self.files[p]) for p in paths)

    def ordinals(self) -> list[tuple[str, str, int]]:
        """(parent, name, chunk_id) of every row in the table's canonical
        order: row ordinal i is element i."""
        return sorted(
            ("/" + os.path.dirname(p), os.path.basename(p), c) for p in self.files for c in range(_rows(self.files[p]))
        )

    def live_bytes(self) -> int:
        return sum(self.files.values())


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
    return total


def file_set(path: str) -> dict[str, int]:
    """Every file under ``path`` (by path and inode) with its size."""
    out = {}
    for base, _, names in os.walk(path):
        for n in names:
            full = os.path.join(base, n)
            try:
                st = os.stat(full)
            except FileNotFoundError:
                continue
            out[f"{full}:{st.st_ino}"] = st.st_size
    return out


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
