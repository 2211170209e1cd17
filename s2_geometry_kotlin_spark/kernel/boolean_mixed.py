"""Mixed-dimension boolean operations (S2BooleanOperation semantics).

The B3 family in `booleanop.py` covers SOLID polygon operands; the
reference's S2BooleanOperation additionally operates on POINTS (dim 0)
and POLYLINES (dim 1) together with polygons, under three polyline
boundary models and three polygon boundary models
(index/shape/S2BooleanOperation.kt:97-129), the
`polylineLoopsHaveBoundaries` option (:319), and a snap function that
rounds every vertex — input and computed intersection alike — to an
E(exp) lat/lng grid (IntLatLngSnapFunction, used by the reference's
own fixtures via `roundToE`).

This kernel re-expresses those semantics as a point-set calculus over
SPLIT SUB-EDGES instead of the reference's CrossingProcessor /
GraphEdgeClipper machinery (S2BooleanOperationImpl): every input edge
(from any operand, any dimension) is split at (a) its crossings with
every other edge — including edges of the SAME operand, the
`splitCrossingEdges` behavior of builder/S2Builder.kt:520 which
S2BooleanOperation always applies — and (b) vertices of either operand
interior to it.  Each resulting sub-edge's interior crosses nothing,
so result membership is decided per sub-edge / per vertex occurrence
with the P4/P6 point-in-polygon ladder and emitted as a per-dimension
DIRECTED EDGE MULTISET — the exact form the reference's own
`IndexMatchingLayer` compares
(S2BooleanOperationUnitTest.kt:46-100: GraphOptions KEEP/KEEP/KEEP).

Output rules (derived from S2BooleanOperation.kt:88-146 and pinned by
the ported unit fixtures in tests/test_boolean_parity.py):

- The result of an op is a point set; the output's dim-d component is
  the portion of each INPUT dim-d object lying in the result region,
  with portions covered by the other operand's HIGHER-dimensional
  geometry absorbed (union), and measure-zero remnants of partially
  absorbed objects emitted as degenerate edges ("subtracting a
  lower-dimensional subset of an object has no effect", :143).
- Degenerate features are first-class and preserved (:334-346).

Scale note: this is a driver-side kernel over tiny per-row geometry,
the same role the other kernel/ modules play; the Spark surface wraps
it per-row via the existing boolean operators.  It is NOT a data-scale
path — data-scale boolean work stays on `operators/booleans.py`.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from . import predicates as pred
from .edges import edge_intersection
from .regions import Loop, Polygon

OPS = ("union", "intersection", "difference", "symmetric_difference")
MODELS = ("OPEN", "SEMI_OPEN", "CLOSED")


@dataclass
class MixedOptions:
    """S2BooleanOperation.Options subset (S2BooleanOperation.kt:287-319
    defaults: polygon SEMI_OPEN, polyline CLOSED, loop boundaries on)."""
    polygon_model: str = "SEMI_OPEN"
    polyline_model: str = "CLOSED"
    polyline_loops_have_boundaries: bool = True
    snap_exponent: int | None = None   # IntLatLngSnapFunction(exp)


@dataclass
class LaxGeometry:
    """One operand: points, polylines, lax polygon loops (possibly
    degenerate: 1-vertex point shells/holes, 2-vertex sibling pairs,
    zero-area chains), and the full-polygon flag."""
    points: list = field(default_factory=list)      # [xyz]
    lines: list = field(default_factory=list)       # [(n,3) arrays]
    loops: list = field(default_factory=list)       # [(k,3) arrays]
    full: bool = False
    # number of full-polygon shapes (measures need multiplicity;
    # the boolean calculus only needs the boolean `full`)
    full_count: int = 0

    def is_empty(self) -> bool:
        return not (self.points or self.lines or self.loops or self.full)


# ---------------------------------------------------------------------------
# keys / snapping
# ---------------------------------------------------------------------------

def _latlng(p: np.ndarray) -> tuple:
    lat = math.degrees(math.asin(max(-1.0, min(1.0, float(p[2])))))
    lng = math.degrees(math.atan2(float(p[1]), float(p[0])))
    return lat, lng


def _xyz(lat: float, lng: float) -> np.ndarray:
    phi, lam = math.radians(lat), math.radians(lng)
    c = math.cos(phi)
    return np.array([c * math.cos(lam), c * math.sin(lam), math.sin(phi)])


def snap_vertex(p: np.ndarray, exp: int | None) -> np.ndarray:
    """IntLatLngSnapFunction(exp): round lat/lng to 10^-exp degrees
    (builder/snap/IntLatLngSnapFunction semantics)."""
    if exp is None:
        return p
    lat, lng = _latlng(p)
    s = 10.0 ** exp
    return _xyz(round(lat * s) / s, round(lng * s) / s)


def _key(p: np.ndarray) -> tuple:
    """Comparison key: lat/lng at 1e-6 degree resolution — fixture
    vertices are grid points or snapped intersections, both stable at
    this resolution."""
    lat, lng = _latlng(p)
    lat, lng = round(lat, 6), round(lng, 6)
    if lng == -180.0:
        lng = 180.0
    if abs(lat) == 90.0:
        lng = 0.0   # poles: longitude is arbitrary
    if lat == 0.0:
        lat = 0.0   # normalize -0.0
    if lng == 0.0:
        lng = 0.0
    return lat, lng


def _ekey(u, v):
    return (_key(u), _key(v))


# ---------------------------------------------------------------------------
# edge splitting (splitCrossingEdges + T-junction cuts, all operands)
# ---------------------------------------------------------------------------

def _on_segment_interior(p: np.ndarray, u: np.ndarray,
                         v: np.ndarray) -> bool:
    """p strictly interior to geodesic segment uv (p is none of the
    endpoints; uv non-degenerate)."""
    if _key(p) in (_key(u), _key(v)):
        return False
    n = np.cross(u, v)
    nn = float(np.linalg.norm(n))
    if nn < 1e-30:
        return False
    if abs(float(p @ n)) / nn > 1e-12:
        return False
    # between the endpoints along the great circle (chordal test, with
    # a positive margin: points antipodal-adjacent to an endpoint can
    # tip an exactly-zero dot product either way in float arithmetic)
    return float((p - u) @ (v - u)) > 1e-9 and \
        float((p - v) @ (u - v)) > 1e-9


def split_edges(edges: list, all_vertices: list,
                exp: int | None) -> list:
    """Split every edge at its crossings with every other edge (the
    mandatory splitCrossingEdges of S2BooleanOperation; intersection
    points snapped per the snap function) and at vertices interior to
    it (T-junctions).  `edges` is a list of (u, v); returns the
    parallel list of vertex CHAINS [u, x1, ..., v]."""
    chains = []
    for i, (u, v) in enumerate(edges):
        if _key(u) == _key(v):
            chains.append([u, v])
            continue
        cuts = []  # (order param, snapped point)
        for j, (c, d) in enumerate(edges):
            if j == i:
                continue
            if _key(c) == _key(d):
                continue
            if pred.crossing_sign(u, v, c, d) > 0:
                x = edge_intersection(u, v, c, d)
                cuts.append((float((x - u) @ (v - u)),
                             snap_vertex(x, exp)))
        for w in all_vertices:
            if _on_segment_interior(w, u, v):
                cuts.append((float((w - u) @ (v - u)), w))
        cuts.sort(key=lambda t: t[0])
        chain = [u]
        for _, x in cuts:
            if _key(x) != _key(chain[-1]):
                chain.append(x)
        if _key(v) != _key(chain[-1]) or len(chain) == 1:
            chain.append(v)
        chains.append(chain)
    return chains


# ---------------------------------------------------------------------------
# per-operand preprocessed view
# ---------------------------------------------------------------------------

def _loop_is_zero_area_chain(lo: np.ndarray) -> bool:
    """True for degenerate lax loops: every directed edge is cancelled
    by its sibling within the same loop (out-and-back chains, sibling
    pairs, single-vertex loops) — the loops the reference calls
    degenerate shells/holes rather than solid boundary."""
    n = len(lo)
    if n < 3:
        return True
    edges: dict = {}
    for a in range(n):
        u, v = _key(lo[a]), _key(lo[(a + 1) % n])
        if u == v:
            continue   # a degenerate edge is its own sibling
        if edges.get((v, u), 0) > 0:
            edges[(v, u)] -= 1
            if edges[(v, u)] == 0:
                del edges[(v, u)]
        else:
            edges[(u, v)] = edges.get((u, v), 0) + 1
    return not edges


class _Operand:
    """Preprocessed operand: split sub-edges per dimension + solid
    polygon + degenerate dim-2 features + vertex occurrence lists."""

    def __init__(self, geom: LaxGeometry, opts: MixedOptions,
                 other: LaxGeometry):
        self.geom = geom
        self.opts = opts
        exp = opts.snap_exponent
        self.points = [snap_vertex(p, exp) for p in geom.points]
        self.lines = [np.array([snap_vertex(p, exp) for p in ln])
                      for ln in geom.lines]
        self.loops = [np.array([snap_vertex(p, exp) for p in lo])
                      for lo in geom.loops]
        self.full = geom.full
        self.solid_loops = [lo for lo in self.loops
                            if not _loop_is_zero_area_chain(lo)]
        self.chain_loops = [lo for lo in self.loops
                            if _loop_is_zero_area_chain(lo)]
        self.solid = (Polygon([Loop(lo) for lo in self.solid_loops])
                      if self.solid_loops else None)

    def oriented_solid_edges(self):
        """Solid boundary edges oriented interior-on-left (holes
        reversed), for the SEMI_OPEN direction rule."""
        if getattr(self, "_oriented_edges", None) is None:
            out = []
            if self.solid is not None:
                for lo in _oriented_loops_any(self.solid):
                    for a in range(len(lo)):
                        out.append((lo[a], lo[(a + 1) % len(lo)]))
            self._oriented_edges = out
        return self._oriented_edges

    # -- raw edge inventories (pre-split) -----------------------------------
    def line_edges(self):
        out = []
        for li, ln in enumerate(self.lines):
            for a in range(len(ln) - 1):
                out.append((li, a, ln[a], ln[a + 1]))
        return out

    def solid_edges(self):
        out = []
        for lo in self.solid_loops:
            for a in range(len(lo)):
                out.append((lo[a], lo[(a + 1) % len(lo)]))
        return out

    def chain_edges(self):
        out = []
        for lo in self.chain_loops:
            n = len(lo)
            if n == 1:
                out.append((lo[0], lo[0]))
            else:
                for a in range(n):
                    out.append((lo[a], lo[(a + 1) % n]))
        return out

    def all_vertices(self):
        vs = list(self.points)
        for ln in self.lines:
            vs.extend(ln)
        for lo in self.loops:
            vs.extend(lo)
        return vs

    # -- polyline vertex occurrences ---------------------------------------
    def line_occurrences(self, li: int):
        """(vertex, self_contained) per S2BooleanOperation.kt:97-109 and
        the polylineLoopsHaveBoundaries option (:301-319):

        - degenerate AA: contained only under CLOSED;
        - loop (first == last) with boundaries off: first/last counted
          ONCE, contained under every model;
        - otherwise: first contained unless OPEN, middles always, last
          only under CLOSED."""
        ln = self.lines[li]
        model = self.opts.polyline_model
        n = len(ln)
        if n == 2 and _key(ln[0]) == _key(ln[1]):
            return [(ln[0], model == "CLOSED")]
        occ = []
        is_loop = _key(ln[0]) == _key(ln[-1]) and n > 2
        if is_loop and not self.opts.polyline_loops_have_boundaries:
            occ.append((ln[0], True))
            for a in range(1, n - 1):
                occ.append((ln[a], True))
            return occ
        occ.append((ln[0], model != "OPEN"))
        for a in range(1, n - 1):
            occ.append((ln[a], True))
        occ.append((ln[-1], model == "CLOSED"))
        return occ


# ---------------------------------------------------------------------------
# containment tests against an operand's region
# ---------------------------------------------------------------------------

def _point_in_solid(op: _Operand, p: np.ndarray, model: str) -> bool:
    """Polygon point containment under the PolygonModel
    (S2BooleanOperation.kt:114-127): OPEN excludes the boundary, CLOSED
    includes vertices, edges and reversed edges, SEMI_OPEN is the P4
    parity ladder (deterministic for on-boundary points via SoS)."""
    if op.full:
        return True
    on_boundary = False
    for (u, v) in op.solid_edges():
        if _key(p) in (_key(u), _key(v)) or _on_segment_interior(p, u, v):
            on_boundary = True
            break
    if on_boundary:
        if model == "OPEN":
            return False
        if model == "CLOSED":
            return True
    if model == "CLOSED":
        # degenerate features also hold their points under CLOSED
        for (u, v) in op.chain_edges():
            if _key(p) in (_key(u), _key(v)) or \
                    (_key(u) != _key(v) and _on_segment_interior(p, u, v)):
                return True
    if op.solid is None:
        return False
    # the normalized Polygon handles hole orientation and the
    # more-than-half-sphere inverted representation; its parity ladder
    # is deterministic on boundary points (SoS)
    return bool(op.solid.contains_point(p))


def _point_in_polylines(op: _Operand, p: np.ndarray) -> bool:
    """Point-in-polyline-set under the PolylineModel: interior edge
    points always (including crossing/T-junction split vertices, which
    post-snap may sit slightly off the original geodesic), vertex
    occurrences per line_occurrences."""
    k = _key(p)
    for li, ln in enumerate(op.lines):
        for (v, cont) in op.line_occurrences(li):
            if cont and _key(v) == k:
                return True
    chains = getattr(op, "_line_chains", None)
    if chains is None:
        chains = [ln for ln in op.lines]
    for chain in chains:
        for t in range(1, len(chain) - 1):
            if _key(chain[t]) == k:
                return True
        for t in range(len(chain) - 1):
            u, v = chain[t], chain[t + 1]
            if _key(u) == _key(v):
                continue   # degenerate edge: occurrence rule decides
            if k not in (_key(u), _key(v)) and \
                    _on_segment_interior(p, u, v):
                return True
    return False


def _point_in_points(op: _Operand, p: np.ndarray) -> bool:
    k = _key(p)
    return any(_key(q) == k for q in op.points)


def point_in_region(op: _Operand, p: np.ndarray, model: str,
                    include_points: bool = True) -> bool:
    """p in the operand's point-set region R (dims 2, 1, and — unless
    absorbing for a union, where equal-dimension geometry does not
    absorb — dim 0)."""
    if _point_in_solid(op, p, model):
        return True
    if _point_in_polylines(op, p):
        return True
    return include_points and _point_in_points(op, p)


def _subedge_in_solid(op: _Operand, u: np.ndarray, v: np.ndarray,
                      model: str) -> bool:
    """Sub-edge interior containment in the solid region: after
    splitting, a sub-edge either lies along a boundary sub-edge or its
    interior is strictly in/out — decide on the midpoint."""
    if op.full:
        return True
    if not op.solid_loops:
        return False
    m = u + v
    m = m / float(np.linalg.norm(m))
    for (c, d) in op.oriented_solid_edges():
        if _on_segment_interior(m, c, d) or _key(m) in (_key(c), _key(d)):
            if model == "OPEN":
                return False
            if model == "CLOSED":
                return True
            # SEMI_OPEN: a boundary edge is contained iff the polygon
            # interior is to its LEFT, i.e. the sub-edge runs in the
            # same direction as the interior-on-left boundary
            # (S2BooleanOperation.kt:116-118 and the
            # PolylineEdgeSemiOpenPolygonEdgeOverlap fixture)
            return float(np.cross(c, d) @ np.cross(u, v)) > 0
    return bool(op.solid.contains_point(m))


def _seg_overlaps(u, v, c, d) -> bool:
    """Non-degenerate sub-edges uv and cd overlap (same or reversed) —
    after global splitting, overlap means same endpoint pair."""
    ku, kv, kc, kd = _key(u), _key(v), _key(c), _key(d)
    return (ku, kv) == (kc, kd) or (ku, kv) == (kd, kc)


def _subedge_in_polylines(op: _Operand, u, v) -> bool:
    """1D point-set overlap with the operand's polyline sub-edges; a
    degenerate edge overlaps a coincident degenerate edge regardless of
    model (S2BooleanOperationUnitTest PolylineEdgePolylineEdgeOverlap:
    'the intersection of a degenerate polyline edge with itself is
    non-empty')."""
    deg = _key(u) == _key(v)
    for chain in op._line_chains:
        for a in range(len(chain) - 1):
            c, d = chain[a], chain[a + 1]
            cdeg = _key(c) == _key(d)
            if deg and cdeg and _key(u) == _key(c):
                return True
            if not deg and not cdeg and _seg_overlaps(u, v, c, d):
                return True
    return False


def _subedge_in_chain_features(op: _Operand, u, v, model: str) -> bool:
    """CLOSED polygons contain their degenerate feature edges
    (PolygonVertexMatching: a polyline lying on a degenerate sibling
    pair is absorbed under CLOSED)."""
    if model != "CLOSED":
        return False
    deg = _key(u) == _key(v)
    for chain in op._chain_chains:
        for a in range(len(chain) - 1):
            c, d = chain[a], chain[a + 1]
            cdeg = _key(c) == _key(d)
            if deg and (_key(u) == _key(c) or _key(u) == _key(d)):
                return True
            if not deg and not cdeg and _seg_overlaps(u, v, c, d):
                return True
    return False

# ---------------------------------------------------------------------------
# result + main operator
# ---------------------------------------------------------------------------

@dataclass
class MixedResult:
    """Per-dimension DIRECTED EDGE MULTISETS (dim 0 entries are (p, p))
    plus the full-polygon flag — the representation the reference's
    IndexMatchingLayer compares (S2BooleanOperationUnitTest.kt:54-100)."""
    edges: dict = field(default_factory=lambda: {0: [], 1: [], 2: []})
    full: bool = False

    def is_empty(self) -> bool:
        return not (self.full or self.edges[0] or self.edges[1]
                    or self.edges[2])

    def multiset(self, dim: int) -> list:
        return sorted(_ekey(u, v) for (u, v) in self.edges[dim])


def _emit_geometry(res: MixedResult, op_nd: "_Operand",
                   complement: bool = False):
    """Emit an operand verbatim, or — with ``complement=True`` (the
    full-X / full^X shortcuts, whose result is the complement of X) —
    with every non-degenerate loop edge REVERSED, so the dim-2 directed
    multiset matches the reference's IndexMatchingLayer form for the
    complement (whose boundary is the same point set traversed the
    other way; ADVICE r5).  Degenerate single-vertex loops keep their
    (p, p) edge: shell-vs-hole flips with the surrounding full flag,
    not the edge key.  Points and polyline slits are orientation-free
    features of the complement and pass through unchanged."""
    for p in op_nd.points:
        res.edges[0].append((p, p))
    for ln in op_nd.lines:
        for a in range(len(ln) - 1):
            res.edges[1].append((ln[a], ln[a + 1]))
    for lo in op_nd.loops:
        n = len(lo)
        if n == 1:
            res.edges[2].append((lo[0], lo[0]))
        else:
            for a in range(n):
                u, v = lo[a], lo[(a + 1) % n]
                res.edges[2].append((v, u) if complement else (u, v))
    res.full = res.full or op_nd.full


def _probe_point(A: "_Operand", B: "_Operand") -> np.ndarray:
    """A point guaranteed off every input edge: used to resolve the
    empty-vs-full ambiguity of an edgeless result (the reference's
    isFullPolygonResult predicate role, S2BooleanOperation.kt:334-346)."""
    candidates = [np.array(v, dtype=float) for v in
                  [(1, 0, 0), (-1, 0, 0), (0, 1, 0), (0, -1, 0),
                   (0, 0, 1), (0, 0, -1),
                   (1, 1, 1), (-1, 1, 1), (1, -1, 1), (1, 1, -1),
                   (0.3, 0.7, 0.2), (0.9, -0.2, 0.4)]]
    verts = A.all_vertices() + B.all_vertices()
    edges = (A.solid_edges() + B.solid_edges() + A.chain_edges()
             + B.chain_edges())
    best, best_d = None, -1.0
    for c in candidates:
        c = c / float(np.linalg.norm(c))
        d = min([float(np.linalg.norm(np.asarray(v) - c))
                 for v in verts] or [2.0])
        for (u, v) in edges:
            m = (np.asarray(u) + np.asarray(v))
            nm = float(np.linalg.norm(m))
            if nm > 0:
                d = min(d, float(np.linalg.norm(m / nm - c)))
        if d > best_d:
            best, best_d = c, d
    return best


def _op_truth(op: str, ia: bool, ib: bool) -> bool:
    if op == "union":
        return ia or ib
    if op == "intersection":
        return ia and ib
    if op == "difference":
        return ia and not ib
    return ia != ib


def _dim0(res, X: "_Operand", Y: "_Operand", op: str,
          opts: MixedOptions):
    """Points of X vs the other operand's region.  Union absorption is
    by HIGHER-dimensional geometry only (duplicate points are kept,
    S2BooleanOperationUnitTest pointPoint: 'these results have
    duplicates, which is correct')."""
    pm = opts.polygon_model
    for p in X.points:
        if op == "intersection":
            keep = point_in_region(Y, p, pm, include_points=True)
        elif op == "union":
            keep = not point_in_region(Y, p, pm, include_points=False)
        else:
            keep = not point_in_region(Y, p, pm, include_points=True)
        if keep:
            res.edges[0].append((p, p))


def _emit_polyline(res, X: "_Operand", Y: "_Operand", li: int, op: str,
                   opts: MixedOptions):
    """One polyline of X: emit kept sub-edges plus degenerate vertex
    remnants (occurrences in R(X) on the right side of the op, not
    already covered by an emitted sub-edge of the same polyline —
    'test cases where vertex is not emitted because an incident edge
    is', S2BooleanOperationUnitTest.kt:199)."""
    pm = opts.polygon_model
    ln = X.lines[li]
    subs = []
    crossing_generated = set()
    for a in range(len(ln) - 1):
        chain = X._line_chain_map[(li, a)]
        for t in range(len(chain) - 1):
            subs.append((chain[t], chain[t + 1]))
        for t in range(1, len(chain) - 1):
            if _key(chain[t]) not in X._original_vertex_keys:
                crossing_generated.add(_key(chain[t]))
    kept = []
    for (u, v) in subs:
        inside = _subedge_in_solid(Y, u, v, pm) or \
            _subedge_in_chain_features(Y, u, v, pm)
        if op != "union" and not inside:
            inside = _subedge_in_polylines(Y, u, v)
        keep = inside if op == "intersection" else not inside
        if keep:
            kept.append((u, v))
    remnants = []
    covered = {k for e in kept for k in (_key(e[0]), _key(e[1]))}
    occurrences = list(X.line_occurrences(li))
    # crossing / T-junction split vertices are interior points of the
    # polyline: contained under every model (PolylineEdgePolylineEdge-
    # Crossing: intersection = one degenerate edge per polyline at the
    # crossing)
    for a in range(len(ln) - 1):
        chain = X._line_chain_map[(li, a)]
        for t in range(1, len(chain) - 1):
            occurrences.append((chain[t], True))
    for (v, cont) in occurrences:
        if not cont or _key(v) in covered:
            continue
        if op == "union":
            in_y = _point_in_solid(Y, v, pm)
        elif op == "intersection":
            # a polyline vertex meeting the other operand's POINT is
            # emitted once, at dim 0, from the point operand's side
            # (pointOpenPolyline: intersection = '1:0 | 5:0 # #')
            in_y = point_in_region(Y, v, pm, include_points=False)
        else:
            in_y = point_in_region(Y, v, pm, include_points=True)
        want = in_y if op == "intersection" else not in_y
        if want:
            remnants.append((v, v))
    return kept, remnants, crossing_generated


def _split_emitted_at(edges: list, pts: list) -> list:
    """Split emitted edges at retained points lying on them.  The
    points were computed exactly on the edge then SNAPPED, so the
    on-edge test uses a loose off-great-circle tolerance."""
    def on_interior(p, u, v):
        if _key(p) in (_key(u), _key(v)):
            return False
        n = np.cross(u, v)
        nn = float(np.linalg.norm(n))
        if nn < 1e-30:
            return False
        if abs(float(p @ n)) / nn > 2e-4:
            return False
        return float((p - u) @ (v - u)) > 1e-9 and \
            float((p - v) @ (u - v)) > 1e-9

    out = []
    for (u, v) in edges:
        if _key(u) == _key(v):
            out.append((u, v))
            continue
        cuts = sorted(
            (float((p - u) @ (v - u)), p)
            for p in pts if on_interior(p, u, v))
        chain = [u] + [p for _, p in cuts] + [v]
        for t in range(len(chain) - 1):
            out.append((chain[t], chain[t + 1]))
    return out


def _merge_chain(kept: list, xgen: set, v_keys: set) -> list:
    """Merge consecutive kept sub-edges across an unretained
    crossing-generated vertex (see the call site)."""
    from collections import Counter
    cnt = Counter()
    for (u, v) in kept:
        cnt[_key(u)] += 1
        cnt[_key(v)] += 1
    out = []
    for (u, v) in kept:
        if out:
            pu, pv = out[-1]
            kw = _key(pv)
            if kw == _key(u) and kw in xgen and kw not in v_keys \
                    and cnt[kw] == 2:
                out[-1] = (pu, v)
                continue
        out.append((u, v))
    return out


def _oriented_loops_any(poly) -> list:
    """Alias of booleanop.oriented_boundary_loops_any (single
    implementation of the inversion-aware orientation)."""
    from .booleanop import oriented_boundary_loops_any
    return oriented_boundary_loops_any(poly)


def _solid_result_edges(A: "_Operand", B: "_Operand", op: str) -> list:
    """Directed boundary edges of the solid part.  SYMMETRIC_DIFFERENCE
    composes (A-B) + (B-A) WITHOUT sibling-pair normalization — the
    reference documents that its symmetric difference 'does not
    guarantee that results are normalized, i.e. the output could
    contain sibling pairs' (S2BooleanOperationUnitTest.kt:1026-1028) and
    the IndexMatchingLayer keeps them."""
    from .booleanop import polygon_boolean

    def edges_of(poly) -> list:
        out = []
        for lo in _oriented_loops_any(poly):
            for a in range(len(lo)):
                out.append((lo[a], lo[(a + 1) % len(lo)]))
        return out

    def solid_op(x, y, o):
        if x is None and y is None:
            return []
        if x is None:
            if o == "union":
                return edges_of(y)
            return []   # intersection/difference with empty A
        if y is None:
            if o == "intersection":
                return []
            return edges_of(x)   # union / difference with empty B
        return edges_of(polygon_boolean(x, y, o))

    if op == "symmetric_difference":
        return (solid_op(A.solid, B.solid, "difference")
                + solid_op(B.solid, A.solid, "difference"))
    return solid_op(A.solid, B.solid, op)


def _dim2(res, A: "_Operand", B: "_Operand", op: str,
          opts: MixedOptions, slit_pts: list):
    pm = opts.polygon_model
    res.edges[2].extend(_solid_result_edges(A, B, op))
    # model degeneracies along shared borders / at shared vertices
    if A.solid is not None and B.solid is not None and \
            op in ("intersection", "union"):
        from .booleanop import (_match_shared, _split_edges,
                                _vkey, oriented_boundary_loops)
        la = oriented_boundary_loops(A.solid)
        lb = oriented_boundary_loops(B.solid)
        sub_a, sub_b = _split_edges(la, lb)
        shared_a, _ = _match_shared(sub_a, sub_b)
        opp = [sub_a[i] for i, same in shared_a.items() if not same]
        if (op == "intersection" and pm == "CLOSED") or \
                (op == "union" and pm == "OPEN"):
            # CLOSED ∩: adjacent closed boundaries meet along the edge
            # (sibling-pair shell); OPEN ∪: the shared border belongs
            # to neither open operand (slit)
            for (u, v) in opp:
                res.edges[2].append((u, v))
                res.edges[2].append((v, u))
        if op == "intersection" and pm == "CLOSED":
            covered = {k for (u, v) in res.edges[2]
                       for k in (_key(u), _key(v))}
            bkeys = {_key(v) for lo in lb for v in lo}
            seen = set()
            for lo in la:
                for v in lo:
                    k = _key(v)
                    if k in bkeys and k not in covered and \
                            k not in seen and \
                            not _point_in_solid(A, v, "OPEN") and \
                            not _point_in_solid(B, v, "OPEN"):
                        res.edges[2].append((v, v))   # point shell
                        seen.add(k)
    # degenerate chain features (zero-area loops): portions in/out of
    # the other region per op; the other operand's chains act as slits
    # in a difference (the meridian-splitting technique,
    # S2BooleanOperation.kt:145-146)
    for X, Y in ((A, B), (B, A)):
        if X is B and op == "difference":
            # B's chains inside A: slit edges of A - B
            for chain in X._chain_chains:
                for t in range(len(chain) - 1):
                    u, v = chain[t], chain[t + 1]
                    if _chain_sub_in_solid_interior(A, u, v):
                        res.edges[2].append((u, v))
                        slit_pts.extend((u, v))
            continue
        for chain in X._chain_chains:
            for t in range(len(chain) - 1):
                u, v = chain[t], chain[t + 1]
                inside = _chain_sub_in_region(Y, u, v, pm)
                keep = inside if op == "intersection" else not inside
                if op == "union":
                    keep = not _chain_sub_in_solid_interior(Y, u, v)
                if op == "difference" and X is B:
                    keep = False
                if keep:
                    res.edges[2].append((u, v))
                    slit_pts.extend((u, v))
            if op != "union" and pm != "OPEN":
                # degenerate chains meeting at a point: the crossing is
                # emitted as one degenerate edge per traversal — the
                # 0-dimensional intersection for INTERSECTION, the
                # puncture marker for DIFFERENCE/SYMMETRIC_DIFFERENCE
                # (PolygonEdgesDegenerateAfterSnapping expects 4x, 2x
                # and 4x "0:0" respectively); under OPEN the result
                # stays empty — "they could have been disjoint before
                # snapping" (S2BooleanOperation.kt:334-336)
                for t in range(1, len(chain) - 1):
                    w = chain[t]
                    if _point_on_chains(Y, w):
                        res.edges[2].append((w, w))


def _chain_sub_in_solid_interior(Y: "_Operand", u, v) -> bool:
    """Strictly interior to Y's solid (parity at the midpoint; boundary
    overlap does not count)."""
    if Y.full:
        return True
    if Y.solid is None:
        return False
    m = u + v
    nm = float(np.linalg.norm(m))
    if nm == 0:
        return False
    m = m / nm
    for (c, d) in Y.solid_edges():
        if _key(m) in (_key(c), _key(d)) or _on_segment_interior(m, c, d):
            return False
    return bool(Y.solid.contains_point(m))


def _point_on_chains(Y: "_Operand", p) -> bool:
    """p lies on one of Y's degenerate chain features."""
    k = _key(p)
    for chain in Y._chain_chains:
        for q in chain:
            if _key(q) == k:
                return True
        for t in range(len(chain) - 1):
            u, v = chain[t], chain[t + 1]
            if _key(u) != _key(v) and _on_segment_interior(p, u, v):
                return True
    return False


def _chain_sub_in_region(Y: "_Operand", u, v, pm: str) -> bool:
    if _key(u) == _key(v):
        return _point_in_solid(Y, u, pm)
    return _subedge_in_solid(Y, u, v, pm) or \
        _subedge_in_chain_features(Y, u, v, pm)


def _check_key_resolution(*geoms: LaxGeometry) -> None:
    """The kernel keys vertices at the fixed 1e-6-degree `_key`
    resolution; two DISTINCT input vertices closer than that would
    silently merge and degrade sub-edge classification (ADVICE r5).
    Nothing enforced it for operator-supplied rows — fail loudly
    instead.  Vertices within ~1e-9 degrees are treated as the same
    logical point (numerical noise of snapped intersections)."""
    seen: dict[tuple, tuple] = {}
    for g in geoms:
        arrays = (list(g.points) + [v for ln in g.lines for v in ln]
                  + [v for lo in g.loops for v in lo])
        for p in arrays:
            lat, lng = _latlng(p)
            k = _key(p)
            prev = seen.get(k)
            if prev is None:
                seen[k] = (lat, lng)
            elif (abs(prev[0] - lat) > 1e-9 or
                  abs(_wrap_deg(prev[1] - lng)) > 1e-9):
                raise ValueError(
                    f"mixed-boolean vertices {prev} and ({lat}, {lng}) "
                    f"deg are distinct but collide at the kernel's "
                    f"1e-6-degree key resolution; snap the input (e.g. "
                    f"MixedOptions.snap_exponent <= 6) or separate the "
                    f"vertices")


def _wrap_deg(d: float) -> float:
    d = math.fmod(d, 360.0)
    if d > 180.0:
        d -= 360.0
    if d < -180.0:
        d += 360.0
    return d


def boolean_op_mixed(a_geom: LaxGeometry, b_geom: LaxGeometry, op: str,
                     opts: MixedOptions | None = None) -> MixedResult:
    """A op B over mixed-dimension geometry; see module docstring."""
    if op not in OPS:
        raise ValueError(f"op must be one of {OPS}")
    opts = opts or MixedOptions()
    assert opts.polygon_model in MODELS and opts.polyline_model in MODELS
    _check_key_resolution(a_geom, b_geom)
    A = _Operand(a_geom, opts, b_geom)
    B = _Operand(b_geom, opts, a_geom)
    res = MixedResult()

    # full-operand algebra first (FullAndEmptyResults rows)
    if A.full or B.full:
        if op == "union":
            res.full = True
            return res
        if op == "intersection":
            if A.full and B.full:
                res.full = True
            else:
                _emit_geometry(res, B if A.full else A)
            return res
        if op == "difference":
            if A.full and B.geom.is_empty():
                res.full = True
                return res
            if B.full:
                return res    # anything - full = empty
            # full - X: the complement of X — full with X's features as
            # holes/slits (loop edges reversed: the complement's
            # boundary runs the other way).
            res.full = True
            _emit_geometry(res, B, complement=True)
            res.full = True
            return res
        # symmetric difference
        if A.full and B.full:
            return res
        other = B if A.full else A
        if other.geom.is_empty():
            res.full = True
            return res
        # full xor X = complement of X (loop edges reversed, as above)
        res.full = True
        _emit_geometry(res, other, complement=True)
        res.full = True
        return res

    # global split: every edge against every other edge + T-junctions
    tags, edges = [], []
    for X in (A, B):
        for (li, a, u, v) in X.line_edges():
            tags.append(("line", X, (li, a)))
            edges.append((u, v))
        for (u, v) in X.solid_edges():
            tags.append(("solid", X, None))
            edges.append((u, v))
        for (u, v) in X.chain_edges():
            tags.append(("chain", X, None))
            edges.append((u, v))
    all_vertices = A.all_vertices() + B.all_vertices()
    chains = split_edges(edges, all_vertices, opts.snap_exponent)
    for X in (A, B):
        X._line_chain_map = {}
        X._chain_chains = []
    for (kind, X, key), chain in zip(tags, chains):
        if kind == "line":
            X._line_chain_map[key] = chain
        elif kind == "chain":
            X._chain_chains.append(chain)
    for X in (A, B):
        X._line_chains = list(X._line_chain_map.values())

    okeys = {_key(v) for v in all_vertices}
    A._original_vertex_keys = okeys
    B._original_vertex_keys = okeys

    _dim0(res, A, B, op, opts)
    if op != "difference":
        _dim0(res, B, A, op, opts)
    line_parts = []
    for li in range(len(A.lines)):
        line_parts.append(_emit_polyline(res, A, B, li, op, opts))
    if op != "difference":
        for li in range(len(B.lines)):
            line_parts.append(_emit_polyline(res, B, A, li, op, opts))
    slit_pts: list = []
    _dim2(res, A, B, op, opts, slit_pts)

    # polygon output edges gain vertices where RETAINED lower-dimension
    # output crosses them (PolylineCrossingRectangleTwice: the
    # rectangle is emitted with the four polyline crossing vertices) or
    # where an emitted slit/chain ends on them (meridian splitting)
    retained_pts = {}
    for u in slit_pts:
        retained_pts.setdefault(_key(u), u)
    for (u, v) in res.edges[0]:
        retained_pts.setdefault(_key(u), u)
    for (kept, rem, _) in line_parts:
        for (u, v) in kept + rem:
            retained_pts.setdefault(_key(u), u)
            retained_pts.setdefault(_key(v), v)
    res.edges[2] = _split_emitted_at(res.edges[2],
                                     list(retained_pts.values()))

    # A crossing-computed vertex is only materialized if some OTHER
    # emitted edge retains it; otherwise the two kept sub-edges of the
    # same input edge merge back (the reference's GraphEdgeClipper only
    # introduces intersection vertices between edges that are both part
    # of the output: polyline x polyline DIFFERENCE stays unsplit while
    # the UNION gains the crossing vertex,
    # S2BooleanOperationUnitTest.kt:703-722).
    v_global = set()
    for (u, v) in res.edges[0] + res.edges[2]:
        v_global |= {_key(u), _key(v)}
    for (_, rem, _) in line_parts:
        for (u, v) in rem:
            v_global |= {_key(u), _key(v)}
    for idx, (kept, remnants, xgen) in enumerate(line_parts):
        v_keys = set(v_global)
        for jdx, (k2, _, _) in enumerate(line_parts):
            if jdx != idx:
                for (u, v) in k2:
                    v_keys |= {_key(u), _key(v)}
        res.edges[1].extend(_merge_chain(kept, xgen, v_keys))
        res.edges[1].extend(remnants)

    # emission-time snap: solid-op intersection vertices are exact
    if opts.snap_exponent is not None:
        for d in (0, 1, 2):
            res.edges[d] = [(snap_vertex(u, opts.snap_exponent),
                             snap_vertex(v, opts.snap_exponent))
                            for (u, v) in res.edges[d]]

    # edgeless dim-2 with solid inputs: empty vs full via a probe point
    if not res.edges[2] and (A.solid_loops or B.solid_loops):
        p = _probe_point(A, B)
        ia = _point_in_solid(A, p, "SEMI_OPEN")
        ib = _point_in_solid(B, p, "SEMI_OPEN")
        res.full = _op_truth(op, ia, ib)
    return res


def boolean_is_empty(a_geom, b_geom, op, opts=None) -> bool:
    """S2BooleanOperation.isEmpty — drives contains/intersects/equals
    (S2BooleanOperation.kt companion helpers)."""
    return boolean_op_mixed(a_geom, b_geom, op, opts).is_empty()


def geometry_equals(a_geom, b_geom, opts=None) -> bool:
    return boolean_is_empty(a_geom, b_geom, "symmetric_difference", opts)


def geometry_contains(a_geom, b_geom, opts=None) -> bool:
    return boolean_is_empty(b_geom, a_geom, "difference", opts)


def geometry_intersects(a_geom, b_geom, opts=None) -> bool:
    return not boolean_is_empty(a_geom, b_geom, "intersection", opts)


# ---------------------------------------------------------------------------
# expectPolygon harness (FullAndEmptyResults): empty / full / other
# ---------------------------------------------------------------------------

def _solid_result_loops(A: "_Operand", B: "_Operand", op: str) -> list:
    from .booleanop import polygon_boolean

    def loops_of(poly):
        return [] if poly is None else _oriented_loops_any(poly)

    def solid_op(x, y, o):
        if x is None and y is None:
            return []
        if x is None:
            return loops_of(y) if o == "union" else []
        if y is None:
            return [] if o == "intersection" else loops_of(x)
        return loops_of(polygon_boolean(x, y, o))

    if op == "symmetric_difference":
        return (solid_op(A.solid, B.solid, "difference")
                + solid_op(B.solid, A.solid, "difference"))
    return solid_op(A.solid, B.solid, op)


def boolean_polygon_emptiness(a_geom: LaxGeometry, b_geom: LaxGeometry,
                              op: str,
                              snap_radius_deg: float | None = None
                              ) -> str:
    """'empty' | 'full' | 'other': the S2BooleanOperationUnitTest
    FullAndEmptyResults harness (expectPolygon with an
    IdentitySnapFunction snap radius and DegenerateBoundaries.DISCARD).

    Exact rows fall out of the solid op; "empty/full due to snapping"
    rows snap-round the exact result boundary with the B1 pipeline
    (IdentitySnap(radius): unmoved vertices, merged sites, edge-site
    coverage chains) and cancel sibling pairs / degenerate edges with
    the B5 polygon graph policy — if nothing survives, a probe point
    evaluated against the EXACT operands decides empty vs full (the
    isFullPolygonResult role; the probe is far from every input edge,
    where exact and snapped containment agree)."""
    opts = MixedOptions()
    A = _Operand(a_geom, opts, b_geom)
    B = _Operand(b_geom, opts, a_geom)

    def probe_side() -> str:
        p = _probe_point(A, B)
        ia = A.full or _point_in_solid(A, p, "SEMI_OPEN")
        ib = B.full or _point_in_solid(B, p, "SEMI_OPEN")
        return "full" if _op_truth(op, ia, ib) else "empty"

    if A.full or B.full:
        res = boolean_op_mixed(a_geom, b_geom, op, opts)
        if res.is_empty():
            return "empty"
        if res.full and not res.edges[2]:
            return "full"
        return "other"
    loops = _solid_result_loops(A, B, op)
    if not loops:
        return probe_side()
    if snap_radius_deg is None:
        return "other"
    from .builder_graph import POLYGON_LAYER_OPTIONS, GraphOptions, \
        process_edges
    from .builder_snap import IdentitySnap, snap_loops
    snapped = snap_loops([np.asarray(lo) for lo in loops],
                         IdentitySnap(math.radians(snap_radius_deg)))
    vid: dict = {}
    edges = []
    for lo in snapped:
        n = len(lo)
        for a in range(n):
            ku, kv = _key(lo[a]), _key(lo[(a + 1) % n])
            for k in (ku, kv):
                if k not in vid:
                    vid[k] = len(vid)
            edges.append((vid[ku], vid[kv]))
    go = GraphOptions(POLYGON_LAYER_OPTIONS.edge_type,
                      POLYGON_LAYER_OPTIONS.degenerate_edges,
                      POLYGON_LAYER_OPTIONS.duplicate_edges,
                      POLYGON_LAYER_OPTIONS.sibling_pairs)
    new_edges, _, err = process_edges(go, edges)
    if err is None and not new_edges:
        return probe_side()
    return "other"


# ---------------------------------------------------------------------------
# shape-index measures (S2ShapeIndexMeasures: dimension / numPoints /
# length / perimeter / area over a mixed collection)
# ---------------------------------------------------------------------------

def geometry_dimension(g: LaxGeometry) -> int:
    """Largest dimension present, -1 when empty (a 1-vertex polyline
    shape still counts as dimension 1)."""
    if g.loops or g.full:
        return 2
    if g.lines:
        return 1
    if g.points:
        return 0
    return -1


def geometry_num_points(g: LaxGeometry) -> int:
    return len(g.points)


def _arc(a, b) -> float:
    return math.atan2(float(np.linalg.norm(np.cross(a, b))),
                      float(a @ b))


def geometry_length(g: LaxGeometry) -> float:
    """Sum of polyline lengths, radians."""
    total = 0.0
    for ln in g.lines:
        for i in range(len(ln) - 1):
            total += _arc(ln[i], ln[i + 1])
    return total


def geometry_perimeter(g: LaxGeometry) -> float:
    """Sum of polygon-loop perimeters, radians (degenerate loops
    included — their out-and-back edges all count)."""
    total = 0.0
    for lo in g.loops:
        n = len(lo)
        if n < 2:
            continue
        for i in range(n):
            total += _arc(lo[i], lo[(i + 1) % n])
    return total


def geometry_area(g: LaxGeometry) -> float:
    """Sum of polygon areas; each full polygon contributes 4*pi."""
    from .measures import loop_area
    total = 4.0 * math.pi * max(g.full_count, 1 if g.full else 0)
    for lo in g.loops:
        if len(lo) >= 3:
            total += loop_area(np.asarray(lo))
    return total


def geometry_approx_area(g: LaxGeometry) -> float:
    """Gauss-Bonnet approximation (2*pi - curvature per loop)."""
    from .measures import loop_curvature
    total = 4.0 * math.pi * max(g.full_count, 1 if g.full else 0)
    for lo in g.loops:
        if len(lo) >= 3:
            total += 2.0 * math.pi - loop_curvature(np.asarray(lo))
    return total
