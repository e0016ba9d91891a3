"""Vectorized numpy twins of :mod:`hexspark.cells`.

Used inside Arrow-batched pandas UDFs (``mapInPandas`` /
``applyInPandas``) and for driver-side compaction of broadcast-scale
region tables.  All functions operate on ``int64`` arrays (valid cells
are non-negative, see :mod:`hexspark.constants`) and are element-wise
equivalents of the reference bit math
(/root/reference/src/cell.rs:28-226).
"""

from __future__ import annotations

import numpy as np

from . import constants as K


def res(cells: np.ndarray) -> np.ndarray:
    return (cells >> K.RES_OFFSET) & 0xF


def base_cell(cells: np.ndarray) -> np.ndarray:
    return (cells >> K.BASE_OFFSET) & 0x7F


def mode(cells: np.ndarray) -> np.ndarray:
    return (cells >> K.MODE_OFFSET) & 0xF


def digit(cells: np.ndarray, r) -> np.ndarray:
    shift = (K.MAX_RES - np.asarray(r)) * K.DIGIT_BITS
    return (cells >> shift) & 0x7


def is_valid(cells: np.ndarray) -> np.ndarray:
    return (cells >= 0) & (mode(cells) == K.MODE_CELL) & (
        base_cell(cells) < K.NUM_BASE_CELLS
    )


def to_parent(cells: np.ndarray, r) -> np.ndarray:
    """Promote to resolution ``r``; entries with res < r become -1
    (the numpy stand-in for NULL)."""
    r = np.asarray(r, dtype=np.int64)
    cur = res(cells)
    fill = (np.int64(1) << ((K.MAX_RES - r) * K.DIGIT_BITS)) - 1
    promoted = (cells & ~np.int64(K.RES_MASK)) | (r << K.RES_OFFSET) | fill
    out = np.where(cur == r, cells, promoted)
    return np.where(cur < r, np.int64(-1), out)


def lo(cells: np.ndarray) -> np.ndarray:
    t = (K.MAX_RES - res(cells)) * K.DIGIT_BITS
    mask = (np.int64(1) << t) - 1
    cleared = cells & ~mask
    return (cleared & ~np.int64(K.RES_MASK)) | np.int64(K.MAX_RES << K.RES_OFFSET)


def hi(cells: np.ndarray) -> np.ndarray:
    t = (K.MAX_RES - res(cells)) * K.DIGIT_BITS
    mask = (np.int64(1) << t) - 1
    filled = cells | mask
    return (filled & ~np.int64(K.RES_MASK)) | np.int64(K.MAX_RES << K.RES_OFFSET)


def is_related(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    common = np.minimum(res(a), res(b))
    return to_parent(a, common) == to_parent(b, common)


def make_cell(base, r, digits) -> np.ndarray:
    base = np.asarray(base, dtype=np.int64)
    r = np.asarray(r, dtype=np.int64)
    digits = np.asarray(digits, dtype=np.int64)
    return (
        np.int64(K.MODE_CELL << K.MODE_OFFSET)
        | (r << K.RES_OFFSET)
        | (base << K.BASE_OFFSET)
        | digits
    )


class SortedCellIndex:
    """A compacted cell set/map flattened into sorted numpy arrays.

    The numpy reference that tests and the benchmark check the
    containment join (:func:`hexspark.join.get_chained`) against:
    compacted leaves are pairwise non-related, so their (lo, hi) ranges
    are disjoint and sorted by ``lo``; a probe's covering leaf — if any
    — is the unique candidate at
    ``searchsorted(lo, lo15(probe), 'right') - 1``.  This replaces the
    reference's pointer-tree descent
    (/root/reference/src/node.rs:83-111) with one vectorized binary
    search per probe.
    """

    __slots__ = ("cells", "los", "his", "order")

    def __init__(self, cells: np.ndarray):
        cells = np.asarray(cells, dtype=np.int64)
        l = lo(cells)
        order = np.argsort(l, kind="stable")
        self.cells = cells[order]
        self.los = l[order]
        self.his = hi(cells)[order]
        self.order = order  # original positions, for value-array alignment

    def __len__(self) -> int:
        return len(self.cells)

    def probe(self, probe_cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Return (covered_mask, stored_idx) for each probe.

        ``stored_idx`` indexes into the *sorted* arrays (use
        ``self.order`` to map back to caller value arrays); -1 where not
        covered.  Implements the ancestor-hit rule: a probe is covered
        iff some stored leaf's range contains the probe's full range —
        which also makes coarse probes miss, exactly like digits
        running out at a Parent node (/root/reference/src/node.rs:93-96).
        """
        probe_cells = np.asarray(probe_cells, dtype=np.int64)
        plo = lo(probe_cells)
        phi = hi(probe_cells)
        idx = np.searchsorted(self.los, plo, side="right") - 1
        safe = np.maximum(idx, 0)
        covered = (idx >= 0) & (self.los[safe] <= plo) & (self.his[safe] >= phi)
        return covered, np.where(covered, idx, -1)
