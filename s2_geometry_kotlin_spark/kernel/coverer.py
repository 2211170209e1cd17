"""Region coverer (SURVEY.md §2.2 C1-C6) — priority-queue refinement.

Faithful re-implementation of the reference algorithm
(dilivia/s2/region/S2RegionCoverer.kt:234-751): candidates are scored
  -(((level << 2*levelMod) + numChildren) << 2*levelMod) + numTerminals
largest cells first, fewest intersecting children, fewest terminals.

Runs driver-side (or inside an applyInPandas over a polygon layer) —
coverings are computed once per layer geometry, then exploded/broadcast.
Every operator keeps its coverings in the one bounded memo below
(`memoized`), keyed by the `content_key` of its layer.
"""

from __future__ import annotations

import hashlib
import heapq
import math
import threading
from collections import OrderedDict

import numpy as np

from . import cellid as ck
from . import metrics
from .regions import Cell

DEFAULT_MAX_CELLS = 8  # S2RegionCoverer.kt:715


class _Candidate:
    __slots__ = ("cell", "is_terminal", "children")

    def __init__(self, cell: Cell, is_terminal: bool):
        self.cell = cell
        self.is_terminal = is_terminal
        self.children: list[_Candidate] = []


class RegionCoverer:
    def __init__(self, max_cells: int = DEFAULT_MAX_CELLS,
                 min_level: int = 0, max_level: int = ck.MAX_LEVEL,
                 level_mod: int = 1):
        assert 0 <= min_level <= max_level <= ck.MAX_LEVEL
        assert 1 <= level_mod <= 3
        self.max_cells = max_cells
        self.min_level = min_level
        self.max_level = max_level
        self.level_mod = level_mod
        self._interior = False
        self._region = None
        self._result: list[int] = []
        self._pq: list = []
        self._seq = 0

    # -- public API (C1, C2, C3) ------------------------------------------

    def get_covering(self, region) -> list[int]:
        self._interior = False
        return self._get_covering(region)

    def get_interior_covering(self, region) -> list[int]:
        self._interior = True
        return self._get_covering(region)

    def get_fast_covering(self, region) -> list[int]:
        """C3: region's cell-union bound, canonicalized (:275-280)."""
        cells = self._get_cell_union_bound(region)
        cells = normalize(cells)
        if not self.is_canonical(cells):
            cells = self.canonicalize_covering(cells)
        return cells

    # -- covering internals -----------------------------------------------

    def _max_children_shift(self) -> int:
        return 2 * self.level_mod

    def _new_candidate(self, cell: Cell) -> _Candidate | None:
        region = self._region
        if not region.may_intersect_cell(cell):
            return None
        is_terminal = False
        if cell.level >= self.min_level:
            if self._interior:
                if region.contains_cell(cell):
                    is_terminal = True
                elif cell.level + self.level_mod > self.max_level:
                    return None
            else:
                if cell.level + self.level_mod > self.max_level or \
                        region.contains_cell(cell):
                    is_terminal = True
        return _Candidate(cell, is_terminal)

    def _expand_children(self, candidate: _Candidate, cell: Cell,
                         num_levels: int) -> int:
        num_levels -= 1
        num_terminals = 0
        for child_cell in cell.children():
            if num_levels > 0:
                if self._region.may_intersect_cell(child_cell):
                    num_terminals += self._expand_children(
                        candidate, child_cell, num_levels)
                continue
            child = self._new_candidate(child_cell)
            if child is not None:
                candidate.children.append(child)
                if child.is_terminal:
                    num_terminals += 1
        return num_terminals

    def _add_candidate(self, candidate: _Candidate | None) -> None:
        if candidate is None:
            return
        if candidate.is_terminal:
            self._result.append(candidate.cell.id)
            return
        num_levels = 1 if candidate.cell.level < self.min_level \
            else self.level_mod
        num_terminals = self._expand_children(candidate, candidate.cell,
                                              num_levels)
        shift = self._max_children_shift()
        if not candidate.children:
            return
        if (not self._interior and num_terminals == (1 << shift)
                and candidate.cell.level >= self.min_level):
            candidate.is_terminal = True
            self._add_candidate(candidate)
            return
        priority = -((((candidate.cell.level << shift) +
                       len(candidate.children)) << shift) + num_terminals)
        self._seq += 1
        heapq.heappush(self._pq, (-priority, self._seq, candidate))

    def _adjust_level(self, level: int) -> int:
        if self.level_mod > 1 and level > self.min_level:
            level -= (level - self.min_level) % self.level_mod
        return level

    def _adjust_cell_levels(self, cells: list[int]) -> list[int]:
        if self.level_mod == 1:
            return cells
        out: list[int] = []
        for cid in cells:
            level = ck.sc_level(cid)
            new_level = self._adjust_level(level)
            if new_level != level:
                cid = ck.sc_parent(cid, new_level)
            if out and _contains(out[-1], cid):
                continue
            while out and _contains(cid, out[-1]):
                out.pop()
            out.append(cid)
        return out

    def _get_cell_union_bound(self, region) -> list[int]:
        """Region's getCellUnionBound default: 4 vertex neighbors of the
        cap center at a level where the cap spans at most one cell
        (S2Cap.kt:394-413)."""
        cap = region.cap_bound()
        if cap.is_empty():
            return []
        if cap.is_full():
            return [int(ck.from_face(f)) for f in range(6)]
        import numpy as _np
        from . import distance as dist
        radius_rad = float(dist.chord2_to_radians(max(0.0, cap.radius2)))
        level = metrics.MIN_WIDTH.get_level_for_min_value(radius_rad) - 1
        if level < 0:
            return [int(ck.from_face(f)) for f in range(6)]
        center_id = int(ck.from_xyz(
            _np.array([cap.center[0]]), _np.array([cap.center[1]]),
            _np.array([cap.center[2]]))[0])
        return ck.get_vertex_neighbors(center_id, level)

    def _get_initial_candidates(self) -> None:
        tmp = RegionCoverer(max_cells=min(4, self.max_cells),
                            max_level=self.max_level)
        cells = tmp.get_fast_covering(self._region)
        cells = self._adjust_cell_levels(sorted(cells, key=_ukey))
        for cid in cells:
            self._add_candidate(self._new_candidate(Cell(cid)))

    def _get_covering(self, region) -> list[int]:
        self._region = region
        self._result = []
        self._pq = []
        self._seq = 0
        self._get_initial_candidates()
        while self._pq and (not self._interior or
                            len(self._result) < self.max_cells):
            _, _, candidate = heapq.heappop(self._pq)
            if (self._interior or candidate.cell.level < self.min_level or
                    len(candidate.children) == 1 or
                    len(self._result) + len(self._pq) +
                    len(candidate.children) <= self.max_cells):
                for child in candidate.children:
                    if not (self._interior and
                            len(self._result) >= self.max_cells):
                        self._add_candidate(child)
            else:
                candidate.is_terminal = True
                self._add_candidate(candidate)
        self._pq = []
        self._region = None
        result = normalize(self._result)
        if self.min_level > 0 or self.level_mod > 1:
            result = denormalize(result, self.min_level, self.level_mod)
        return result

    # -- canonicalization (C4, C5) ----------------------------------------

    def is_canonical(self, covering: list[int]) -> bool:
        """S2RegionCoverer.kt:296-350."""
        too_many = len(covering) > self.max_cells
        last = None
        for cid in covering:
            if not (cid >> 61 < 6 and (ck.sc_lsb(cid) & 0x1555555555555555)):
                return False
            level = ck.sc_level(cid)
            if level < self.min_level or level > self.max_level:
                return False
            if (level - self.min_level) % self.level_mod != 0:
                return False
            if last is not None:
                if _ukey(last) >= _ukey(cid):
                    return False
                if _intersects(last, cid):
                    return False
                if too_many and _common_ancestor_ge_min(last, cid,
                                                        self.min_level):
                    return False
            last = cid
        return True

    def canonicalize_covering(self, covering: list[int]) -> list[int]:
        """S2RegionCoverer.kt:362-457 — enforce level/maxCells invariants
        by ancestor merging."""
        cells = []
        for cid in covering:
            level = ck.sc_level(cid)
            level = max(level, self.min_level)
            level = self._adjust_level(min(level, self.max_level))
            cells.append(ck.sc_parent(cid, level)
                         if level != ck.sc_level(cid) else cid)
        cells = normalize(cells)
        cells = self._adjust_cell_levels(cells)
        # merge while exceeding maxCells or having same-min-ancestor pairs
        while True:
            changed = False
            if len(cells) > self.max_cells:
                # merge the pair with the lowest common ancestor
                best_level = -1
                best_idx = -1
                for i in range(len(cells) - 1):
                    lvl = _common_ancestor_level(cells[i], cells[i + 1])
                    if lvl >= self.min_level and lvl > best_level:
                        best_level = lvl
                        best_idx = i
                if best_level >= self.min_level:
                    anc_level = self._adjust_level(best_level)
                    anc = ck.sc_parent(cells[best_idx], anc_level)
                    cells = [c for c in cells if not _contains(anc, c)]
                    cells.append(anc)
                    cells = normalize(cells)
                    cells = self._adjust_cell_levels(cells)
                    changed = True
            if not changed:
                break
        return cells


# ---------------------------------------------------------------------------
# driver-side covering memo
# ---------------------------------------------------------------------------

# Operators memoize deterministic driver-side constants across calls:
# coverings and the IVF centroids.  A long-lived driver sees many
# layers and query batches, so the memo keeps only the most recently
# used ones.  Measured in one driver (4 vCPU): all 50 registry queries
# at sf0.001 make 24 distinct keys holding 4.9 MB, from 7.6 KB (a
# 3-point kNN batch) to 2.6 MB (a 12,288-cell layer); a layer covering
# costs 1.2-27 s to build (the fixture layer: 946 cells, 200 KB,
# 13 s).  A two-round kNN call on a 24-point batch adds two keys that
# cost 0.3 s to rebuild; 256 of them hold 12.7 MB (tracemalloc).  With
# 256 entries a layer covering survives 127 such calls on distinct
# batches between two joins against it.
MEMO_ENTRIES = 256
_MEMO: OrderedDict = OrderedDict()
_MEMO_LOCK = threading.Lock()
_RUNNING: dict = {}   # key -> Event set when its compute ends


def content_key(items) -> str:
    """Stable digest of a driver-side layer: rows of ids/numbers and
    shapes (Polygon loops with their complement bit, Polyline
    vertices).  Content, not id(): ids are reused after garbage
    collection."""
    h = hashlib.sha256()
    for item in items:
        for v in item:
            if hasattr(v, "loops"):
                h.update(f"P{len(v.loops)}|{v.inverted}|".encode())
                arrays = [lp.vertices for lp in v.loops]
            elif hasattr(v, "vertices"):
                h.update(b"L|")
                arrays = [v.vertices]
            else:
                h.update(f"{v!r}|".encode())
                continue
            for a in arrays:
                h.update(f"{len(a)}|".encode())
                h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()


def memoized(key, compute):
    """compute() once per hashable key; the MEMO_ENTRIES most recently
    used results are kept.  A hit returns the same object.  A caller
    that misses while another thread computes the same key waits for
    that result instead of computing it again."""
    while True:
        with _MEMO_LOCK:
            if key in _MEMO:
                _MEMO.move_to_end(key)
                return _MEMO[key]
            running = _RUNNING.get(key)
            if running is None:
                _RUNNING[key] = threading.Event()
                break
        running.wait()
    try:
        rows = compute()
        with _MEMO_LOCK:
            _MEMO[key] = rows
            while len(_MEMO) > MEMO_ENTRIES:
                _MEMO.popitem(last=False)
    finally:
        with _MEMO_LOCK:
            _RUNNING.pop(key).set()
    return rows


# ---------------------------------------------------------------------------
# cell-union helpers (U1, U2, U8) as plain-int list ops
# ---------------------------------------------------------------------------

def _ukey(cid: int) -> int:
    return cid  # ids are python non-negative ints here (uint64 domain)


def _contains(a: int, b: int) -> bool:
    return ck.sc_range_min(a) <= b <= ck.sc_range_max(a)


def _intersects(a: int, b: int) -> bool:
    return ck.sc_range_min(b) <= ck.sc_range_max(a) and \
        ck.sc_range_max(b) >= ck.sc_range_min(a)


def _common_ancestor_level(a: int, b: int) -> int:
    bits = max(a ^ b, max(ck.sc_lsb(a), ck.sc_lsb(b)))
    msb = bits.bit_length() - 1
    v = max(60 - msb, -1)
    return v >> 1 if v >= 0 else -1


def _common_ancestor_ge_min(a: int, b: int, min_level: int) -> bool:
    lvl = _common_ancestor_level(a, b)
    return lvl >= min_level


def normalize(cells: list[int]) -> list[int]:
    """U1 (S2CellUnion.kt:644-670): sort, drop contained, merge siblings."""
    out: list[int] = []
    for cid in sorted(cells):
        if out and _contains(out[-1], cid):
            continue
        while out and _contains(cid, out[-1]):
            out.pop()
        # merge 4 siblings into parent repeatedly
        while len(out) >= 3:
            a, b, c = out[-3], out[-2], out[-1]
            if _are_siblings(a, b, c, cid):
                cid = ck.sc_parent(cid, ck.sc_level(cid) - 1)
                out = out[:-3]
            else:
                break
        out.append(cid)
    return out


def expand(cells: list[int], level: int | None = None,
           radius_rad: float | None = None) -> list[int]:
    """U8 (S2CellUnion.expand, S2CellUnion.kt:307-350): snap every cell
    finer than the expand level to its ancestor there, add all its
    neighbors at that level, normalize.

    Pass `level`, or `radius_rad` for expand(minRadius, maxLevelDiff=4):
    the level whose kMinWidth covers the radius, but never more than 4
    levels finer than the coarsest cell (bounds the output size)."""
    if level is None:
        level = min(min(ck.sc_level(c) for c in cells) + 4,
                    metrics.MIN_WIDTH.get_level_for_min_value(radius_rad))
    out = set()
    for cid in cells:
        base = ck.sc_parent(cid, level) if ck.sc_level(cid) > level else cid
        out.add(base)
        out.update(ck.get_all_neighbors(base, level))
    return normalize(list(out))


def _are_siblings(a: int, b: int, c: int, d: int) -> bool:
    """xor+mask sibling test (S2CellUnion.kt:557-573)."""
    if (a ^ b ^ c) != d:
        return False
    mask = ck.sc_lsb(d) << 1
    mask = ~(mask + (mask << 1)) & 0xFFFFFFFFFFFFFFFF
    return ((d & mask) == (a & mask) == (b & mask) == (c & mask)) and \
        ck.sc_level(d) > 0


def difference(a: list[int], b: list[int]) -> list[int]:
    """U7 (S2CellUnion.difference, S2CellUnion.kt:279-291, 707-722):
    cells of `a` minus the leaves covered by `b`, via divide-and-conquer
    into children.  Output is normalized when `a` is."""
    b_sorted = sorted(b)
    b_rmin = [ck.sc_range_min(c) for c in b_sorted]

    def _intersects_union(cid: int) -> bool:
        import bisect
        i = bisect.bisect_right(b_rmin, ck.sc_range_max(cid))
        return i > 0 and ck.sc_range_max(b_sorted[i - 1]) >= \
            ck.sc_range_min(cid)

    def _contained_by_union(cid: int) -> bool:
        import bisect
        i = bisect.bisect_right(b_rmin, ck.sc_range_min(cid))
        return i > 0 and ck.sc_range_max(b_sorted[i - 1]) >= \
            ck.sc_range_max(cid)

    out: list[int] = []

    def _diff(cid: int) -> None:
        if not _intersects_union(cid):
            out.append(cid)
        elif not _contained_by_union(cid):
            for pos in range(4):
                _diff(ck.sc_child(cid, pos))

    for cid in a:
        _diff(cid)
    return out


def intersect_with_cell(cells: list[int], cid: int) -> list[int]:
    """U6 (S2CellUnion.kt:264-276): slice a normalized union to the part
    covered by one cell — a range filter plus the covering cell itself
    when it is contained by the union."""
    lo = ck.sc_range_min(cid)
    hi = ck.sc_range_max(cid)
    out = []
    for c in cells:
        if ck.sc_range_min(c) >= lo and ck.sc_range_max(c) <= hi:
            out.append(c)          # c inside cid
        elif ck.sc_range_min(c) <= lo and ck.sc_range_max(c) >= hi:
            out.append(cid)        # cid inside c
    return normalize(out)


def from_begin_end(begin: int, end: int) -> list[int]:
    """U10 (S2CellUnion.fromBeginEnd, S2CellUnion.kt:616-642): normalized
    covering of the leaf range [begin, end) via maximumTile."""
    assert (begin & 1) and (end & 1), "begin/end must be leaf ids"
    if begin == end:
        return []
    out: list[int] = []
    cid = ck.maximum_tile(begin, end)
    while cid != end:
        out.append(cid)
        cid = ck.maximum_tile(int(ck.next_id(np.uint64(cid))), end)
    return out


def from_min_max(min_id: int, max_id: int) -> list[int]:
    """U10 (S2CellUnion.fromMinMax): inclusive leaf range."""
    return from_begin_end(min_id, int(ck.next_id(np.uint64(max_id))))


def flood_fill(region, start: int) -> list[int]:
    """C6 (S2RegionCoverer.floodFill, S2RegionCoverer.kt:737-751): all
    edge-connected cells at start's level intersecting the region."""
    seen = {start}
    frontier = [start]
    out: list[int] = []
    while frontier:
        cid = frontier.pop()
        if not region.may_intersect_cell(Cell(cid)):
            continue
        out.append(cid)
        for nbr in ck.get_edge_neighbors_sc(cid):
            if nbr not in seen:
                seen.add(nbr)
                frontier.append(nbr)
    return out


def get_simple_covering(region, start_xyz, level: int) -> list[int]:
    """C6 (S2RegionCoverer.getSimpleCovering, S2RegionCoverer.kt:727-735)."""
    import numpy as _np
    start = int(ck.from_xyz(_np.array([start_xyz[0]]),
                            _np.array([start_xyz[1]]),
                            _np.array([start_xyz[2]]))[0])
    return flood_fill(region, ck.sc_parent(start, level))


def denormalize(cells: list[int], min_level: int,
                level_mod: int) -> list[int]:
    """U2 (S2CellUnion.kt:672-705): expand to satisfy min_level/level_mod."""
    out: list[int] = []
    for cid in cells:
        level = ck.sc_level(cid)
        new_level = max(min_level, level)
        if level_mod > 1:
            new_level += (ck.MAX_LEVEL - (new_level - min_level)) % level_mod
            new_level = min(ck.MAX_LEVEL, new_level)
        if new_level == level:
            out.append(cid)
        else:
            # append all children at new_level
            begin = ck.sc_range_min(cid) - 1 + (1 << (2 * (30 - new_level)))
            step = 1 << (2 * (30 - new_level) + 1)
            count = 1 << (2 * (new_level - level))
            for i in range(count):
                out.append(begin + i * step)
    return out
