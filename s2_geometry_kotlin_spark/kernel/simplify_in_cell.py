"""Cell-scoped polygon simplification — the S2Polygon
initToSimplifiedInCell algorithm (reference
dilivia/s2/region/S2Polygon.kt:916-1039, simplifyEdgesInCell
:1738-1787, getCellEdgeIncidenceMask :921-933).

The input polygon is assumed to have been clipped to `cell` (the
standard shape of a distributed pipeline that intersects geometry with
a covering and simplifies each cell's piece independently — exactly
the per-cell stage our cell-partitioned Spark operators produce).

Two passes, per the reference design:

1. Classify each loop edge as a BOUNDARY edge (both endpoints within
   `tolerance_uv` of a common cell edge in (u, v) space) or an
   INTERIOR edge.  Boundary edges pass through verbatim; the vertices
   where chains meet the boundary are FORCED sites (they may neither
   move nor be simplified away).  Interior chains are snap-rounded
   (kernel/builder_snap.snap_edge — the full Voronoi-exclusion chain
   walk) and then simplified with the PolylineSimplifier window
   algebra under the reference's guarantees: removed sites' input
   vertices stay within edge_snap_radius of the replacement edge and
   nearby sites are avoided on their original side.

2. The boundary edges and simplified chains are re-assembled into a
   polygon on the graph substrate (builder_graph.assemble_polygon:
   directed edges, degenerate + sibling-pair DISCARD), which is where
   narrow strips/gaps collapse to nothing.
"""

from __future__ import annotations

import math

import numpy as np

from . import cellid as ck
from . import measures
from . import predicates as pred
from .builder_graph import assemble_polygon
from .builder_snap import SnapFunction, IdentitySnap, snap_edge
from .edges import point_edge_chord2_pairwise
from .polyline_simplifier import PolylineSimplifier
from .regions import Cell, Loop, Polygon


def cell_edge_incidence_mask(cell: Cell, p: np.ndarray,
                             tolerance_uv: float) -> int:
    """Bit i set iff `p` lies within `tolerance_uv` (in u/v units) of
    the cell edge k (S2Polygon.getCellEdgeIncidenceMask, :921-933;
    edge order: v_lo=1, u_hi=2, v_hi=4, u_lo=8)."""
    x, y, z = float(p[0]), float(p[1]), float(p[2])
    face, u, v = ck.sc_xyz_to_face_uv(x, y, z)
    if face != cell.face:
        # project onto the CELL's face (valid when p is on that face's
        # hemisphere); outside it, no incidence
        major = (x, y, z, -x, -y, -z)[cell.face]
        if major <= 0:
            return 0
        denom = (x, y, z)[cell.face % 3]
        u_num = {0: y, 1: -x, 2: -x, 3: z, 4: z, 5: -y}[cell.face]
        v_num = {0: z, 1: z, 2: -y, 3: y, 4: -x, 5: -x}[cell.face]
        u, v = u_num / denom, v_num / denom
    mask = 0
    if abs(v - cell.v_lo) <= tolerance_uv:
        mask |= 1
    if abs(u - cell.u_hi) <= tolerance_uv:
        mask |= 2
    if abs(v - cell.v_hi) <= tolerance_uv:
        mask |= 4
    if abs(u - cell.u_lo) <= tolerance_uv:
        mask |= 8
    return mask


def _choose_sites_forced(forced: list[np.ndarray], others: np.ndarray,
                         snap: SnapFunction) -> tuple[np.ndarray, int]:
    """Forced sites first (deduped exactly, never merged —
    S2Builder.addForcedSites :1042-1050), then regular sites with the
    min_vertex_separation rule (chooseInitialSites)."""
    sites: list[np.ndarray] = []
    seen: set[bytes] = set()
    for f in forced:
        key = np.asarray(f, dtype=np.float64).tobytes()
        if key not in seen:
            seen.add(key)
            sites.append(np.asarray(f, dtype=np.float64))
    n_forced = len(sites)
    sep = snap.min_vertex_separation()
    sep2 = min(4.0, 4.0 * math.sin(min(sep, math.pi) / 2.0) ** 2)
    for s in snap.snap_points(others.reshape(-1, 3)):
        arr = np.asarray(sites)
        diff = arr - s
        d2 = np.einsum("ij,ij->i", diff, diff)
        if float(d2.min()) < sep2 or (arr == s).all(axis=1).any():
            continue
        sites.append(s)
    return np.asarray(sites).reshape(-1, 3), n_forced


def _simplify_chain(ids: list[int], sites: np.ndarray,
                    snap: SnapFunction, removable,
                    site_inputs: dict[int, list[np.ndarray]]) -> list[int]:
    """Open-chain EdgeChainSimplifier (S2Builder.kt:1799-2130 scoped to
    a path with pinned endpoints): interior removable sites are elided
    while every input vertex that snapped to a removed site stays
    within edge_snap_radius of the replacement edge (targetInputVertices
    :2005-2016) and other nearby sites are avoided on their original
    side (avoidSites :2019-2100)."""
    m = len(ids)
    if m <= 2:
        return ids
    r_target = snap.edge_snap_radius()
    r_avoid = snap.min_edge_vertex_separation()
    query_r2 = min(4.0, 4.0 * math.sin(min(
        snap.max_edge_deviation() + r_avoid, math.pi) / 2.0) ** 2)
    sin_ratio = (math.sin(snap.snap_radius)
                 / math.sin(snap.max_edge_deviation())
                 if snap.max_edge_deviation() > 0 else 1.0)
    max_len = 2.0 * math.acos(min(1.0, sin_ratio))

    def ang(a, b):
        return math.acos(max(-1.0, min(1.0, float(a @ b))))

    def avoid(simp, first: int, cur: int) -> bool:
        """Avoid sites near the edge cur -> cur+1, window anchored at
        chain position `first` (mirrors _simplify_rings.avoid)."""
        p0 = sites[ids[first]]
        p1 = sites[ids[cur]]
        p2 = sites[ids[cur + 1]]
        r1 = ang(p0, p1)
        r2 = ang(p0, p2)
        if r2 < r1:
            return False  # must move away from src monotonically
        if r2 >= max_len:
            return False  # replacement edge would exceed the bound
        d2 = point_edge_chord2_pairwise(
            sites, np.broadcast_to(p1, sites.shape),
            np.broadcast_to(p2, sites.shape))
        excl = {ids[first], ids[cur], ids[cur + 1]}
        for sid in np.flatnonzero(d2 <= query_r2):
            sid = int(sid)
            if sid in excl:
                continue
            p = sites[sid]
            r = ang(p0, p)
            if r <= r1 or r >= r2:
                continue
            if cur == first:
                disc_on_left = pred.sign(p1, p2, p) > 0
            else:
                disc_on_left = pred.ordered_ccw(p0, p2, p, p1)
            if not simp.avoid_disc(p, r_avoid, disc_on_left):
                return False
        return True

    out = [ids[0]]
    j = 0
    while j < m - 1:
        simp = PolylineSimplifier()
        simp.init(sites[ids[j]])
        avoid(simp, j, j)  # seed the window with the first edge
        end = j + 1
        while end < m - 1 and removable(ids[end]):
            ok = True
            for iv in site_inputs.get(ids[end], ()):
                if not simp.target_disc(iv, r_target):
                    ok = False
                    break
            if ok:
                ok = avoid(simp, j, end) and simp.extend(sites[ids[end + 1]])
            if not ok:
                break
            end += 1
        out.append(ids[end])
        j = end
    return out


def simplify_edges_in_cell(poly: Polygon, cell: Cell, tolerance_uv: float,
                           snap: SnapFunction):
    """Pass 1 (S2Polygon.simplifyEdgesInCell :1738-1787): returns
    (site array, list of site-index polylines) where boundary edges are
    passed through verbatim and interior chains are snapped+simplified
    with the boundary-incident vertices forced."""
    boundary_edges: list[tuple[np.ndarray, np.ndarray]] = []
    chains: list[list[np.ndarray]] = []
    forced: list[np.ndarray] = []
    interior_pts: list[np.ndarray] = []
    for loop in poly.loops:
        verts = loop.vertices
        n = len(verts)
        masks = [cell_edge_incidence_mask(cell, v, tolerance_uv)
                 for v in verts]
        chain: list[np.ndarray] | None = None
        for i in range(n):
            v0, v1 = verts[i], verts[(i + 1) % n]
            m0, m1 = masks[i], masks[(i + 1) % n]
            if m0 & m1:
                # boundary edge: emit verbatim, pin both endpoints
                forced.append(v0)
                forced.append(v1)
                boundary_edges.append((v0, v1))
                chain = None
            else:
                if chain is None:
                    chain = [v0]
                    chains.append(chain)
                    if m0 != 0:
                        forced.append(v0)
                    else:
                        interior_pts.append(v0)
                chain.append(v1)
                if m1 != 0:
                    forced.append(v1)
                    chain = None
                else:
                    interior_pts.append(v1)
    others = (np.asarray(interior_pts)
              if interior_pts else np.empty((0, 3)))
    sites, n_forced = _choose_sites_forced(forced, others, snap)

    # snap each interior chain through the shared site set
    snapped: list[list[int]] = []
    for chain in chains:
        ids: list[int] = []
        for k in range(len(chain) - 1):
            seg = snap_edge(np.asarray(chain[k]),
                            np.asarray(chain[k + 1]), sites, snap)
            if ids and seg and seg[0] == ids[-1]:
                seg = seg[1:]
            ids.extend(seg)
        snapped.append(ids)

    # removability: non-forced sites used exactly once across chains
    counts: dict[int, int] = {}
    for ids in snapped:
        for s in ids:
            counts[s] = counts.get(s, 0) + 1

    def removable(s: int) -> bool:
        return s >= n_forced and counts.get(s, 0) == 1

    # input vertices per site (targets that must stay covered)
    site_inputs: dict[int, list[np.ndarray]] = {}
    for chain in chains:
        for v in chain:
            diff = sites - np.asarray(v)
            sid = int(np.einsum("ij,ij->i", diff, diff).argmin())
            site_inputs.setdefault(sid, []).append(np.asarray(v))

    simplified = [_simplify_chain(ids, sites, snap, removable, site_inputs)
                  for ids in snapped]

    # boundary edges as site-index pairs (endpoints are forced sites)
    def site_of(p: np.ndarray) -> int:
        diff = sites - p
        return int(np.einsum("ij,ij->i", diff, diff).argmin())

    polylines = [[site_of(a), site_of(b)] for a, b in boundary_edges]
    polylines.extend(simplified)
    return sites, polylines


def simplify_polygon_in_cell(poly: Polygon, cell: Cell,
                             snap_radius: float,
                             boundary_tolerance: float = 1e-15) -> Polygon:
    """S2Polygon.initToSimplifiedInCell (S2Polygon.kt:967-1039)."""
    # uv change bound for a boundary_tolerance move off a cell edge:
    # (kMinWidth.deriv/2)^-1 = sqrt(6) under the quadratic projection
    # (see the reference's derivation at :1004-1013)
    tolerance_uv = boundary_tolerance * math.sqrt(6.0)
    sites, polylines = simplify_edges_in_cell(
        poly, cell, tolerance_uv, IdentitySnap(snap_radius))

    # Pass 2: identity snap at the intersection error, then polygon
    # assembly with degenerate/sibling-pair discard.  Our pass-1 chains
    # already share one exact site set, so vertices within
    # kIntersectionError are already merged and the residual step is
    # pure assembly.
    edges: list[tuple[int, int]] = []
    for ids in polylines:
        for k in range(len(ids) - 1):
            edges.append((ids[k], ids[k + 1]))
    rings, _degs = assemble_polygon(sites, edges)
    loops = [Loop(sites[r]) for r in rings]
    if not loops:
        # InitToApproxIntersection-style disambiguation: an empty edge
        # set from a >hemisphere input means FULL, not empty
        if poly.loops and measures.polygon_area(
                [lp.vertices for lp in poly.loops]) > 2 * math.pi:
            full = Polygon([])
            full.inverted = True
            return full
        return Polygon([])
    return Polygon(loops)
