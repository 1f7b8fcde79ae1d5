"""Hierarchical cell spatial index in n dimensions (our H3/S2 stand-in,
pure Catalyst).

The reference's neighbor searches (KNearestSearch / BallSearch, primitive P1
in SURVEY.md §2.2) are KD-tree lookups inside one process, and the reference
is dimension-generic (3-D grids throughout; ``maxneighbors=26`` *is* the 3-D
Moore neighborhood, /root/reference/src/modefilter.jl:22; n-D factoring via
``_fitdims``, /root/reference/src/utils.jl:6).  The distributed analogue is
*key engineering*: bucket points into cubic cells of a regular (2^r)^d grid
over a bounding box, then turn distance predicates into equi-joins on cell
keys expanded by a ring of neighboring cells (kRing).

Everything here is built-in column expressions — the cell assignment and ring
expansion run inside whole-stage codegen; no Python in the hot path.

Cell key layout: per-axis indices packed big-endian into one long,
``cell = ix << (b·(d−1)) | … | i_last`` with ``b = BITS[d]`` bits per axis
(2-D: 30 — unchanged from the round-1 layout; 3-D: 20).  ``res ≤ b``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# bits per axis by dimensionality (keys must fit a signed 64-bit long);
# 1-D is capped at 52, not 63: cell indices pass through double arithmetic
# (floor/divide in `idx`, divide in `parent`), and past the 53-bit mantissa
# those become inexact — 2-D/3-D (30/20 bits) are safely inside it
BITS = {1: 52, 2: 30, 3: 20, 4: 15}
MAX_RES = 30  # 2-D cap kept for existing callers


@dataclass(frozen=True)
class CellGrid:
    """A cubic-cell grid over an n-D bounding box at resolution `res`
    (2^res cells per axis).

    `bounds` is ((x0, x1), (y0, y1)[, (z0, z1), …]).
    """

    bounds: Tuple[Tuple[float, float], ...]
    res: int

    @staticmethod
    def box2d(x0: float, y0: float, x1: float, y1: float, res: int) -> "CellGrid":
        return CellGrid(((x0, x1), (y0, y1)), res)

    @property
    def ndim(self) -> int:
        return len(self.bounds)

    @property
    def bits(self) -> int:
        return BITS[len(self.bounds)]

    @property
    def n(self) -> int:
        return 1 << self.res

    @property
    def edges(self) -> Tuple[float, ...]:
        n = self.n
        return tuple((hi - lo) / n for lo, hi in self.bounds)

    @property
    def min_cell_edge(self) -> float:
        return min(self.edges)

    def idx(self, axis: int, coord: Column) -> Column:
        n = self.n
        lo, _ = self.bounds[axis]
        raw = F.floor((coord - F.lit(lo)) / F.lit(self.edges[axis]))
        return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")

    # 2-D compat accessors (used by tests/diagnostics)
    def ix(self, x: Column) -> Column:
        return self.idx(0, x)

    def iy(self, y: Column) -> Column:
        return self.idx(1, y)

    def pack(self, idxs: Sequence[Column]) -> Column:
        b, d = self.bits, self.ndim
        out = None
        for i, ix in enumerate(idxs):
            piece = F.shiftleft(ix, b * (d - 1 - i)) if i < d - 1 else ix
            out = piece if out is None else out + piece
        return out

    def unpack(self, key: Column) -> Tuple[Column, ...]:
        b, d = self.bits, self.ndim
        mask = F.lit((1 << b) - 1)
        return tuple(
            (F.shiftrightunsigned(key, b * (d - 1 - i)) if i < d - 1 else key).bitwiseAND(mask)
            for i in range(d)
        )

    def cell(self, *coords: Column) -> Column:
        assert len(coords) == self.ndim
        return self.pack([self.idx(i, c) for i, c in enumerate(coords)])

    def parent(self, key: Column, levels_up) -> Column:
        """Cell key of the ancestor `levels_up` levels coarser (drop that many
        low bits of each axis).  `levels_up` may be an int or a Column; the
        shift amount being a column forces exact integer division by 2^d."""
        if isinstance(levels_up, int):
            pw = F.lit(float(2 ** levels_up))
        else:
            pw = F.pow(F.lit(2.0), levels_up)
        return self.pack([F.floor(ix / pw).cast("long") for ix in self.unpack(key)])

    def rings_needed(self, radius: float) -> int:
        """Ring count guaranteeing coverage of a ball of `radius`."""
        return max(1, int(math.ceil(radius / self.min_cell_edge)))


def pick_resolution(bounds: Tuple[Tuple[float, float], ...], target_cell_edge: float) -> int:
    """Largest res whose cell edge is still ≥ target_cell_edge (so a 3×3 ring
    covers a ball of that radius), clamped to [0, bits-per-axis]."""
    ext = max(hi - lo for lo, hi in bounds)
    cap = BITS[len(bounds)]
    if target_cell_edge <= 0 or ext <= 0:
        return 0
    res = int(math.floor(math.log2(ext / target_cell_edge)))
    return max(0, min(cap, res))


def pick_resolution_by_count(n_rows: int, rows_per_cell: int = 8, ndim: int = 2) -> int:
    """Resolution such that E[rows per cell] ≲ rows_per_cell under uniformity
    (2^(ndim·res) cells ≥ n/rows_per_cell, rounded FINER).

    Candidate volume of a ring-1 kNN pass is n_targets × 3^ndim ×
    rows_per_cell — undersized res blows that up quadratically, while
    oversized res only costs an extra (cheap) expansion round for the sparse
    stragglers."""
    if n_rows <= rows_per_cell:
        return 0
    res = int(math.ceil(math.log2(n_rows / rows_per_cell) / ndim))
    return max(0, min(BITS[ndim], res))


def with_cell(
    df: DataFrame, grid: CellGrid, coords: Sequence[str] = ("x", "y"), out: str = "cell"
) -> DataFrame:
    return df.withColumn(out, grid.cell(*[F.col(c) for c in coords]))


def _ring_explode(
    df: DataFrame, grid: CellGrid, lo_hi, coords: Sequence[str], out: str
) -> DataFrame:
    """Shared n-D kRing body: explode one offset sequence per axis (chained
    explodes multiply into the (2k+1)^ndim block), clip to the grid, pack."""
    n = grid.n
    d = df
    jcols = []
    for i, c in enumerate(coords):
        d = d.withColumn(f"_i{i}", grid.idx(i, F.col(c)))
        d = d.withColumn(f"_d{i}", F.explode(F.sequence(lo_hi[0], lo_hi[1])))
        d = d.withColumn(f"_j{i}", F.col(f"_i{i}") + F.col(f"_d{i}"))
        jcols.append(F.col(f"_j{i}"))
    cond = None
    for i in range(len(coords)):
        c_ok = (F.col(f"_j{i}") >= 0) & (F.col(f"_j{i}") < n)
        cond = c_ok if cond is None else (cond & c_ok)
    d = d.filter(cond)
    d = d.withColumn(out, grid.pack(jcols))
    drop = [f"_{p}{i}" for i in range(len(coords)) for p in ("i", "d", "j")]
    return d.drop(*drop)


def kring_exploded_var(
    df: DataFrame,
    grid: CellGrid,
    k_col: str,
    coords: Sequence[str] = ("x", "y"),
    out: str = "cell",
) -> DataFrame:
    """Per-row kRing: each row explodes into the (2·k_col+1)^ndim cells of
    its OWN ring radius (an int column).  Used by the kNN verify pass, where
    each target only needs the ring covering its own candidate distance —
    total explode volume is Σ(2kᵢ+1)^ndim, not n·(2·max k)^ndim."""
    kc = F.col(k_col).cast("long")
    return _ring_explode(df, grid, (-kc, kc), coords, out)


def kring_exploded(
    df: DataFrame, grid: CellGrid, k: int, coords: Sequence[str] = ("x", "y"), out: str = "cell"
) -> DataFrame:
    """Explode each row into the (2k+1)^ndim cells of its kRing (clipped to
    the grid).  Pure `sequence`/`explode` — JVM-side, codegen'd.  Callers
    keep k small by picking the resolution from the query radius
    (see `pick_resolution`)."""
    return _ring_explode(df, grid, (F.lit(-k), F.lit(k)), coords, out)
