"""S2Builder graph substrate: edge-processing policies.

Reference: builder/graph/GraphOptions.kt (the DegenerateEdges /
DuplicateEdges / SiblingPairs policy enums), builder/graph/
EdgeProcessor.kt (the sorted merge-join that applies them), and
Graph.processEdges (Graph.kt:945-953, which flips REQUIRE/CREATE
graphs to DIRECTED afterward).  This is the layer between snapping and
assembly: every output layer type declares its GraphOptions
(S2PolygonLayer: DISCARD degenerate edges + DISCARD sibling pairs,
S2PolygonLayer.kt:128-133; S2PolylineLayer: DISCARD degenerates, KEEP
everything else, S2PolylineLayer.kt:106-111) and the processor
normalizes the snapped edge multiset accordingly.

Edges are directed (v0, v1) integer index pairs; each edge carries an
input-id SET (which input edges snapped to it) — discarding/merging
policies merge these sets exactly as the reference's IdSetLexicon
bookkeeping does, so provenance survives normalization.

Semantics summary (s2builder.h / GraphOptions.kt contract):
- DegenerateEdges: DISCARD drops all self edges; DISCARD_EXCESS drops
  them only at vertices with incident non-degenerate edges (else keeps
  them, un-merged); KEEP keeps all.
- DuplicateEdges: MERGE collapses identical directed edges (merging
  input ids); KEEP keeps multiplicity.
- SiblingPairs: DISCARD cancels each (e, reverse(e)) pair, leaving the
  excess; DISCARD_EXCESS cancels all but one balanced pair; KEEP keeps
  everything; REQUIRE errors when an edge lacks its sibling; CREATE
  adds the missing reverse edges.  REQUIRE/CREATE convert the graph to
  DIRECTED.  Any discarding option merges the input ids of ALL copies
  of an edge (including, for consistency, degenerate duplicates).
- UNDIRECTED graphs represent each input edge as a pair of directed
  edges; counts are always even and the policies halve/keep them as
  documented per branch below.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum


class EdgeType(Enum):
    DIRECTED = 0
    UNDIRECTED = 1


class DegenerateEdges(Enum):
    DISCARD = 0
    DISCARD_EXCESS = 1
    KEEP = 2


class DuplicateEdges(Enum):
    MERGE = 0
    KEEP = 1


class SiblingPairs(Enum):
    DISCARD = 0
    DISCARD_EXCESS = 1
    KEEP = 2
    REQUIRE = 3
    CREATE = 4


@dataclass
class GraphOptions:
    edge_type: EdgeType = EdgeType.DIRECTED
    degenerate_edges: DegenerateEdges = DegenerateEdges.KEEP
    duplicate_edges: DuplicateEdges = DuplicateEdges.KEEP
    sibling_pairs: SiblingPairs = SiblingPairs.KEEP


# the single error this processor can raise (REQUIRE with a missing
# sibling); mirrored as a return code so callers can surface it the way
# the reference surfaces S2Error
MISSING_SIBLINGS = "BUILDER_MISSING_EXPECTED_SIBLING_EDGES"

# options used by the polygon assembly layer (cited above)
POLYGON_LAYER_OPTIONS = GraphOptions(
    EdgeType.DIRECTED, DegenerateEdges.DISCARD, DuplicateEdges.KEEP,
    SiblingPairs.DISCARD)


def process_edges(options: GraphOptions,
                  edges: list[tuple[int, int]],
                  input_ids: list[list[int]] | None = None):
    """Graph.processEdges (EdgeProcessor.run, EdgeProcessor.kt:61-180):
    returns (new_edges, new_input_ids, error) and flips
    options.edge_type to DIRECTED for REQUIRE/CREATE (Graph.kt:949-952).
    `input_ids[k]` is the id set of edge k (default: {k})."""
    if input_ids is None:
        input_ids = [[k] for k in range(len(edges))]
    if len(input_ids) != len(edges):
        raise ValueError("input_ids must parallel edges")
    n = len(edges)
    new_edges: list[tuple[int, int]] = []
    new_ids: list[list[int]] = []
    error = None
    if n == 0:
        if options.sibling_pairs in (SiblingPairs.REQUIRE,
                                     SiblingPairs.CREATE):
            options.edge_type = EdgeType.DIRECTED
        return new_edges, new_ids, error

    # stable lexicographic orders of outgoing and incoming (reversed)
    # edges (Graph.stableLessThan, Graph.kt:1001-1010)
    out_order = sorted(range(n), key=lambda i: (edges[i], i))
    in_order = sorted(range(n), key=lambda i: (edges[i][::-1], i))

    def merged_ids(out_begin: int, out_end: int) -> list[int]:
        if out_end - out_begin == 1:
            return list(input_ids[out_order[out_begin]])
        s: set[int] = set()
        for k in range(out_begin, out_end):
            s.update(input_ids[out_order[k]])
        return sorted(s)

    def add_edges(count: int, edge: tuple[int, int], ids: list[int]):
        for _ in range(count):
            new_edges.append(edge)
            new_ids.append(list(ids))

    def copy_edges(out_begin: int, out_end: int):
        for k in range(out_begin, out_end):
            new_edges.append(edges[out_order[k]])
            new_ids.append(list(input_ids[out_order[k]]))

    sentinel = (1 << 62, 1 << 62)
    out_idx = in_idx = 0
    out_edge = edges[out_order[0]]
    in_edge = edges[in_order[0]]
    while True:
        edge = min(out_edge, in_edge[::-1])
        if edge == sentinel:
            break
        out_begin, in_begin = out_idx, in_idx
        while out_edge == edge:
            out_idx += 1
            out_edge = sentinel if out_idx == n else edges[out_order[out_idx]]
        while in_edge[::-1] == edge:
            in_idx += 1
            in_edge = sentinel if in_idx == n else edges[in_order[in_idx]]
        n_out = out_idx - out_begin
        n_in = in_idx - in_begin

        if edge[0] == edge[1]:
            # degenerate edge (EdgeProcessor.kt:90-118)
            assert n_out == n_in
            if options.degenerate_edges == DegenerateEdges.DISCARD:
                continue
            if options.degenerate_edges == DegenerateEdges.DISCARD_EXCESS \
                    and ((out_begin > 0 and
                          edges[out_order[out_begin - 1]][0] == edge[0])
                         or (out_idx < n and
                             edges[out_order[out_idx]][0] == edge[0])
                         or (in_begin > 0 and
                             edges[in_order[in_begin - 1]][1] == edge[0])
                         or (in_idx < n and
                             edges[in_order[in_idx]][1] == edge[0])):
                continue  # non-degenerate incident edges exist: discard
            if options.edge_type == EdgeType.UNDIRECTED and \
                    options.sibling_pairs in (SiblingPairs.REQUIRE,
                                              SiblingPairs.CREATE):
                # halved when converting undirected -> directed
                assert n_out % 2 == 0
                count = 1 if options.duplicate_edges == \
                    DuplicateEdges.MERGE else n_out // 2
                add_edges(count, edge, merged_ids(out_begin, out_idx))
            elif options.duplicate_edges == DuplicateEdges.MERGE:
                count = 2 if options.edge_type == EdgeType.UNDIRECTED \
                    else 1
                add_edges(count, edge, merged_ids(out_begin, out_idx))
            elif options.sibling_pairs in (SiblingPairs.DISCARD,
                                           SiblingPairs.DISCARD_EXCESS):
                # discarding options merge labels of all copies
                add_edges(n_out, edge, merged_ids(out_begin, out_idx))
            else:
                copy_edges(out_begin, out_idx)
        elif options.sibling_pairs == SiblingPairs.KEEP:
            if n_out > 1 and \
                    options.duplicate_edges == DuplicateEdges.MERGE:
                add_edges(1, edge, merged_ids(out_begin, out_idx))
            else:
                copy_edges(out_begin, out_idx)
        elif options.sibling_pairs == SiblingPairs.DISCARD:
            if options.edge_type == EdgeType.DIRECTED:
                # n_out == n_in: balanced pairs; else the excess stays
                if n_out <= n_in:
                    continue
                count = 1 if options.duplicate_edges == \
                    DuplicateEdges.MERGE else n_out - n_in
                add_edges(count, edge, merged_ids(out_begin, out_idx))
            else:
                if n_out % 2 == 0:
                    continue
                add_edges(1, edge, merged_ids(out_begin, out_idx))
        elif options.sibling_pairs == SiblingPairs.DISCARD_EXCESS:
            if options.edge_type == EdgeType.DIRECTED:
                # keep one balanced pair if the result would be empty
                if n_out < n_in:
                    continue
                count = 1 if options.duplicate_edges == \
                    DuplicateEdges.MERGE else max(1, n_out - n_in)
                add_edges(count, edge, merged_ids(out_begin, out_idx))
            else:
                add_edges(1 if n_out % 2 != 0 else 2, edge,
                          merged_ids(out_begin, out_idx))
        else:
            assert options.sibling_pairs in (SiblingPairs.REQUIRE,
                                             SiblingPairs.CREATE)
            if error is None and \
                    options.sibling_pairs == SiblingPairs.REQUIRE and \
                    (n_out != n_in
                     if options.edge_type == EdgeType.DIRECTED
                     else n_out % 2 != 0):
                error = MISSING_SIBLINGS
            if options.duplicate_edges == DuplicateEdges.MERGE:
                add_edges(1, edge, merged_ids(out_begin, out_idx))
            elif options.edge_type == EdgeType.UNDIRECTED:
                # convert to directed (REQUIRE/CREATE undirected form)
                add_edges((n_out + 1) // 2, edge,
                          merged_ids(out_begin, out_idx))
            else:
                copy_edges(out_begin, out_idx)
                if n_in > n_out:
                    # automatically created edges carry no input ids
                    add_edges(n_in - n_out, edge, [])

    if options.sibling_pairs in (SiblingPairs.REQUIRE,
                                 SiblingPairs.CREATE):
        options.edge_type = EdgeType.DIRECTED
    return new_edges, new_ids, error


# ---------------------------------------------------------------------------
# Assembly on processed graphs (directed): loops and polylines
# ---------------------------------------------------------------------------

def _degree_maps(edges):
    out_map: dict[int, list[int]] = {}
    in_deg: dict[int, int] = {}
    for e, (a, b) in enumerate(edges):
        out_map.setdefault(a, []).append(e)
        in_deg[b] = in_deg.get(b, 0) + 1
    return out_map, in_deg


# Input-edge id used for edges that carry none (e.g. the reverse copies
# of undirected input edges): loses to every labeled edge in the
# walk-continuation choice (Graph.kt:877 kNoInputEdgeId).
NO_INPUT_ID = 2 ** 31 - 2


def _build_walks(edges: list[tuple[int, int]], directed: bool,
                 min_input_ids: list[int] | None = None,
                 sib: list[int] | None = None) -> list[list[int]]:
    """PolylineBuilder.buildWalks (builder/graph/PolylineBuilder.kt:
    91-168), shared by the directed and undirected assemblers:

    - walk continuation follows the unused out-edge with the SMALLEST
      min-input-edge id (reverse copies of undirected edges carry
      NO_INPUT_ID and lose to every labeled edge, which is what makes
      the layer prefer original edge directions);
    - early walk termination: stop before consuming an edge that might
      be the continuation of a different incoming edge (idempotency
      across multiple input polylines);
    - remaining loops splice into existing walks (maximizeWalk), else
      start at edge-chain heads in input-id order;
    - output walks sort by their first edge's input id
      (canonicalizeVectorOrder)."""
    n = len(edges)
    if min_input_ids is None:
        min_input_ids = list(range(n))
    if not directed and sib is None:
        sib = _sibling_map(edges)
    out_map: dict[int, list[int]] = {}
    in_map: dict[int, list[int]] = {}
    for e, (a, b) in enumerate(edges):
        out_map.setdefault(a, []).append(e)
        in_map.setdefault(b, []).append(e)
    used = [False] * n
    edges_left = n if directed else n // 2
    excess_used: dict[int, int] = {}
    input_order = sorted(range(n), key=lambda e: (min_input_ids[e], e))

    def excess_degree(v: int) -> int:
        if directed:
            return len(out_map.get(v, ())) - len(in_map.get(v, ()))
        return len(out_map.get(v, ())) % 2

    def build_walk(v: int) -> list[int]:
        nonlocal edges_left
        out: list[int] = []
        while True:
            best_edge, best_id = -1, NO_INPUT_ID + 1
            for e in out_map.get(v, ()):
                if used[e] or min_input_ids[e] >= best_id:
                    continue
                best_id = min_input_ids[e]
                best_edge = e
            if best_edge < 0:
                return out
            excess = excess_degree(v) - excess_used.get(v, 0)
            if (directed and excess < 0) or \
                    (not directed and excess % 2 == 1):
                if any(not used[e] and min_input_ids[e] <= best_id
                       for e in in_map.get(v, ())):
                    return out
            out.append(best_edge)
            used[best_edge] = True
            if not directed:
                used[sib[best_edge]] = True
            edges_left -= 1
            v = edges[best_edge][1]

    polylines: list[list[int]] = []
    for e in input_order:
        if used[e]:
            continue
        v = edges[e][0]
        excess = excess_degree(v)
        if excess <= 0:
            continue
        excess -= excess_used.get(v, 0)
        if (directed and excess <= 0) or \
                (not directed and excess % 2 == 0):
            continue
        excess_used[v] = excess_used.get(v, 0) + 1
        w = build_walk(v)
        polylines.append(w)
        end_v = edges[w[-1]][1]
        excess_used[end_v] = excess_used.get(end_v, 0) - 1

    def maximize_walk(walk: list[int]) -> None:
        i = 0
        while i <= len(walk):
            v = edges[walk[0]][0] if i == 0 else edges[walk[i - 1]][1]
            if any(not used[e] for e in out_map.get(v, ())):
                loop = build_walk(v)
                walk[i:i] = loop
            i += 1

    if edges_left > 0:
        for w in polylines:
            maximize_walk(w)
    # remaining edges form loops; start only at edge-chain heads
    # (excess == 1 among unused edges sharing the min input id) or at
    # degenerate edges
    i = 0
    while i < len(input_order) and edges_left > 0:
        e = input_order[i]
        if used[e]:
            i += 1
            continue
        v = edges[e][0]
        eid = min_input_ids[e]
        excess = 0
        j = i
        while j < len(input_order) and \
                min_input_ids[input_order[j]] == eid:
            e2 = input_order[j]
            if not used[e2]:
                if edges[e2][0] == v:
                    excess += 1
                if edges[e2][1] == v:
                    excess -= 1
            j += 1
        if excess == 1 or edges[e][1] == v:
            w = build_walk(v)
            maximize_walk(w)
            polylines.append(w)
        i += 1
    polylines.sort(key=lambda w: min_input_ids[w[0]])
    return polylines


def get_directed_loops(edges: list[tuple[int, int]],
                       vertices=None) -> list[list[int]]:
    """Graph.getDirectedLoops(LoopType.SIMPLE) for directed graphs:
    partition the edges into SIMPLE loops (no repeated vertices within
    a loop; a graph vertex may appear in several loops).  Requires a
    fully-assemblable graph — every vertex with indegree == outdegree —
    which is what the polygon-layer graph policies produce; raises on
    open chains.

    With `vertices` (coordinate array per vertex id), junctions with
    several unused outgoing edges are resolved GEOMETRICALLY by the
    clockwise-face rule — the role of the reference's left-turn map
    (Graph.getLeftTurnMap, Graph.kt:610-700): each face is traced with
    its interior on the left, so loops meeting at a pinch vertex touch
    instead of crossing.  Without vertices the successor choice is the
    first unused edge (sufficient when at most one continuation
    exists)."""
    if vertices is not None:
        return _clockwise_loops(edges, vertices)
    out_map, _ = _degree_maps(edges)
    used = [False] * len(edges)
    loops: list[list[int]] = []
    for e0 in range(len(edges)):
        if used[e0]:
            continue
        # walk, splitting off a simple loop whenever a vertex repeats
        walk: list[int] = []
        pos: dict[int, int] = {}  # vertex -> index in walk of the edge
        # LEAVING it
        cur = e0
        start_v = edges[e0][0]
        pos[start_v] = 0
        while True:
            used[cur] = True
            walk.append(cur)
            v = edges[cur][1]
            if v in pos:
                k = pos[v]
                loops.append(walk[k:])
                for u in walk[k:]:
                    pos.pop(edges[u][0], None)
                del walk[k:]
                if not walk:
                    break
                cur_v = v
            else:
                cur_v = v
            nxt = next((k for k in out_map.get(cur_v, ())
                        if not used[k]), None)
            if nxt is None:
                if walk:
                    raise ValueError(
                        "get_directed_loops: open chain (graph not "
                        "loop-assemblable)")
                break
            pos[cur_v] = len(walk)
            cur = nxt
    return loops


def build_polylines(edges: list[tuple[int, int]],
                    polyline_type: str = "path",
                    min_input_ids: list[int] | None = None
                    ) -> list[list[int]]:
    """PolylineBuilder.buildPaths / buildWalks (PolylineBuilder.kt:
    56-170) for DIRECTED graphs, as lists of edge ids.

    - "path": maximal chains whose interior vertices have indegree ==
      outdegree == 1; remaining edges form non-intersecting loops.
    - "walk": maximal edge walks (vertices and edges may repeat across
      walks, edges used once): first from every vertex with outdegree >
      indegree, then leftover loops are spliced into walks passing
      through a shared vertex, else emitted as closed walks.

    Candidate starting edges are considered in min-input-id order and
    the output is sorted by each chain's first input id
    (buildPaths/canonicalizeVectorOrder, Graph.kt:920-925), so multiple
    output polylines come back in input order whenever possible.

    Undirected graphs either normalize to directed first
    (process_edges with SiblingPairs.REQUIRE/CREATE flips edge_type)
    or assemble directly with build_polylines_undirected."""
    out_map, in_deg = _degree_maps(edges)
    out_deg = {v: len(es) for v, es in out_map.items()}
    used = [False] * len(edges)
    n_left = len(edges)
    ids = min_input_ids if min_input_ids is not None \
        else list(range(len(edges)))
    input_order = sorted(range(len(edges)), key=lambda e: (ids[e], e))

    def is_interior(v: int) -> bool:
        return in_deg.get(v, 0) == 1 and out_deg.get(v, 0) == 1

    def next_unused(v: int):
        return next((k for k in out_map.get(v, ()) if not used[k]),
                    None)

    polylines: list[list[int]] = []

    if polyline_type == "path":
        def build_path(e: int) -> list[int]:
            nonlocal n_left
            cur = e
            out: list[int] = []
            start = edges[e][0]
            while True:
                out.append(cur)
                used[cur] = True
                n_left -= 1
                v = edges[cur][1]
                if not is_interior(v) or v == start:
                    return out
                cur = out_map[v][0]
                if used[cur]:
                    return out

        for e in input_order:
            if not used[e] and not is_interior(edges[e][0]):
                polylines.append(build_path(e))
        for e in input_order:  # leftover loops (all-interior)
            if n_left == 0:
                break
            if not used[e]:
                loop = build_path(e)
                canonicalize_loop_order(ids, loop)
                polylines.append(loop)
        polylines.sort(key=lambda w: ids[w[0]])
        return polylines

    if polyline_type != "walk":
        raise ValueError("polyline_type must be 'path' or 'walk'")
    return _build_walks(edges, directed=True,
                        min_input_ids=min_input_ids)


def _ordered_ccw(a, b, c, o) -> bool:
    """S2Predicates.orderedCCW (S2Predicates.kt:446-458): b is within
    the CCW sweep from a to c around o."""
    from . import predicates as pred
    total = 0
    if pred.sign(b, o, a) >= 0:
        total += 1
    if pred.sign(c, o, b) >= 0:
        total += 1
    if pred.sign(a, o, c) > 0:
        total += 1
    return total >= 2


def _left_turn_map(edges: list[tuple[int, int]],
                   vertices) -> list[int]:
    """Graph.getLeftTurnMap (Graph.kt:322-419): for each incoming edge
    at a vertex, the outgoing edge that continues a left-turning loop.
    Edges incident to each vertex are grouped per neighbor with the
    reference's rank interleaving (extra incoming first, then
    alternating out/in, then extra outgoing — the 'zyAxBw' pattern),
    sorted clockwise around the vertex with orderedCCW, and matched
    with a LIFO stack of unmatched incoming edges (leftover outgoing
    edges wrap around circularly).  Degenerate edges map to
    themselves.  Raises ValueError if edges cannot be matched."""
    import functools
    n = len(edges)
    left = [-1] * n
    # group by v0: neighbor -> ([out edge ids], [in edge ids])
    incident: dict[int, dict[int, tuple[list[int], list[int]]]] = {}
    for e, (a, b) in enumerate(edges):
        incident.setdefault(a, {}).setdefault(b, ([], []))[0].append(e)
        incident.setdefault(b, {}).setdefault(a, ([], []))[1].append(e)
    for v0, nbrs in incident.items():
        v0_edges: list[tuple[bool, int, int, int]] = []  # (in, id, v1, rank)
        for v1 in sorted(nbrs):
            outs, ins = nbrs[v1]
            if v1 == v0:
                # each degenerate edge is its own loop
                for e in ins:
                    left[e] = e
                continue
            rank = 0
            in_idx, out_idx = len(ins), 0
            while in_idx > len(outs) - out_idx:
                in_idx -= 1
                v0_edges.append((True, ins[in_idx], v1, rank))
                rank += 1
            while in_idx > 0:
                v0_edges.append((False, outs[out_idx], v1, rank))
                out_idx += 1
                rank += 1
                in_idx -= 1
                v0_edges.append((True, ins[in_idx], v1, rank))
                rank += 1
            while out_idx < len(outs):
                v0_edges.append((False, outs[out_idx], v1, rank))
                out_idx += 1
                rank += 1
        if not v0_edges:
            continue
        min_endpoint = v0_edges[0][2]
        vo = vertices[v0]

        def cmp(a, b):
            if a[2] == b[2]:
                return -1 if a[3] < b[3] else 1
            if a[2] == min_endpoint:
                return -1
            if b[2] == min_endpoint:
                return 1
            return (-1 if not _ordered_ccw(vertices[a[2]], vertices[b[2]],
                                           vertices[min_endpoint], vo)
                    else 1)

        v0_edges[1:] = sorted(v0_edges[1:], key=functools.cmp_to_key(cmp))
        e_in: list[int] = []
        e_out: list[int] = []
        for incoming, eid, _v1, _rank in v0_edges:
            if incoming:
                e_in.append(eid)
            elif e_in:
                left[e_in.pop()] = eid
            else:
                e_out.append(eid)
        e_out.reverse()
        while e_out and e_in:
            left[e_in.pop()] = e_out.pop()
        if e_in or e_out:
            raise ValueError(
                "get_directed_loops: edges not assemblable at vertex "
                f"{v0} (unbalanced in/out degree)")
    return left


def canonicalize_loop_order(min_input_ids: list[int],
                            loop: list[int]) -> None:
    """Graph.canonicalizeLoopOrder (Graph.kt:886-916): rotate so the
    edge AFTER the last occurrence of the highest input id comes
    first (preserves original loop order when edges were split)."""
    if not loop:
        return
    pos = 0
    saw_gap = False
    for i in range(len(loop)):
        cmp = min_input_ids[loop[i]] - min_input_ids[loop[pos]]
        if cmp < 0:
            saw_gap = True
        elif cmp > 0 or not saw_gap:
            pos = i
            saw_gap = False
    pos += 1
    if pos == len(loop):
        pos = 0
    loop[:] = loop[pos:] + loop[:pos]


def _clockwise_loops(edges: list[tuple[int, int]], vertices,
                     min_input_ids: list[int] | None = None
                     ) -> list[list[int]]:
    """Graph.getDirectedLoops(LoopType.SIMPLE) (Graph.kt:439-500):
    walk the left-turn map, peeling off a simple loop whenever a
    vertex repeats on the path; loops and their edge order are
    canonicalized by min input edge id."""
    n = len(edges)
    if min_input_ids is None:
        min_input_ids = list(range(n))
    left = _left_turn_map(edges, vertices)
    path_index: dict[int, int] = {}
    path: list[int] = []
    loops: list[list[int]] = []
    for start in range(n):
        if left[start] < 0:
            continue
        e = start
        while left[e] >= 0:
            path.append(e)
            nxt = left[e]
            left[e] = -1
            path_index[edges[e][0]] = len(path) - 1
            loop_start = path_index.get(edges[e][1], -1)
            if loop_start >= 0:
                loop = path[loop_start:]
                del path[loop_start:]
                for e2 in loop:
                    path_index.pop(edges[e2][0], None)
                canonicalize_loop_order(min_input_ids, loop)
                loops.append(loop)
            e = nxt
        assert not path
    loops.sort(key=lambda lp: min_input_ids[lp[0]])
    return loops


def get_directed_components(edges: list[tuple[int, int]], vertices,
                            degenerate_boundaries: str = "KEEP",
                            min_input_ids: list[int] | None = None,
                            sib: list[int] | None = None):
    """Graph.getDirectedComponents (Graph.kt:541-625): partition a
    sibling-paired directed graph into connected components of loops
    (the polygon-MESH assembly: an edge and its sibling always end up
    in the same component, in different loops).  With
    degenerate_boundaries == 'DISCARD', sibling pairs encountered along
    a path peel off as separate loops and the pair itself cancels
    (filament removal)."""
    n = len(edges)
    if min_input_ids is None:
        min_input_ids = list(range(n))
    if sib is None:
        sib = _sibling_map(edges)
    left = _left_turn_map(edges, vertices)
    discard = degenerate_boundaries.upper() == "DISCARD"
    components = []
    path_index = [-1] * n if discard else None
    for min_start in range(n):
        if left[min_start] < 0:
            continue
        component: list[list[int]] = []
        frontier = [min_start]
        while frontier:
            start = frontier.pop()
            if left[start] < 0:
                continue
            path: list[int] = []
            e = start
            while left[e] >= 0:
                path.append(e)
                nxt = left[e]
                left[e] = -1
                s = sib[e]
                if left[s] >= 0:
                    frontier.append(s)
                if discard:
                    path_index[e] = len(path) - 1
                    s_idx = path_index[s]
                    if s_idx < 0:
                        e = nxt
                        continue
                    if s_idx == len(path) - 2:
                        # adjacent sibling pair: cancel both
                        del path[s_idx:]
                    else:
                        # peel off the loop BETWEEN the pair; the pair
                        # itself cancels
                        loop = path[s_idx + 1:len(path) - 1]
                        del path[s_idx:]
                        for e2 in loop:
                            path_index[e2] = -1
                        canonicalize_loop_order(min_input_ids, loop)
                        component.append(loop)
                e = nxt
            if discard:
                for e2 in path:
                    path_index[e2] = -1
            if path:
                canonicalize_loop_order(min_input_ids, path)
                component.append(path)
        component.sort(key=lambda lp: min_input_ids[lp[0]])
        if component:
            components.append(component)
    components.sort(key=lambda c: min_input_ids[c[0][0]])
    return components


def get_undirected_components(edges: list[tuple[int, int]], vertices,
                              min_input_ids: list[int] | None = None,
                              sib: list[int] | None = None,
                              loop_type: str = "simple"):
    """Graph.getUndirectedComponents(LoopType.SIMPLE)
    (Graph.kt:666-760): partition an undirected graph (edges given as
    both directed copies) into connected components, each with TWO
    complementary consistently-oriented loop sets (slot 0 and 1);
    the walk assigns each edge's sibling to the opposite slot via a
    frontier stack.  Slot 0 of each component is the complement whose
    first loop most closely follows the input edge ordering.  Raises
    ValueError if the edges do not form loops."""
    n = len(edges)
    if min_input_ids is None:
        min_input_ids = list(range(n))
    if sib is None:
        sib = _sibling_map(edges)
    left = _left_turn_map(edges, vertices)

    def mark(slot: int) -> int:
        return -1 - slot

    components = []
    path_index: dict[int, int] = {}
    for min_start in range(n):
        if left[min_start] < 0:
            continue
        component = ([], [])
        frontier = [(min_start, 0)]
        while frontier:
            start, slot = frontier.pop()
            if left[start] < 0:
                continue
            path: list[int] = []
            e = start
            while left[e] >= 0:
                path.append(e)
                nxt = left[e]
                left[e] = mark(slot)
                s = sib[e]
                if left[s] >= 0:
                    frontier.append((s, 1 - slot))
                elif left[s] != mark(1 - slot):
                    raise ValueError(
                        "undirected edges do not form loops")
                if loop_type == "simple":
                    path_index[edges[e][0]] = len(path) - 1
                    loop_start = path_index.get(edges[e][1], -1)
                    if loop_start >= 0:
                        loop = path[loop_start:]
                        del path[loop_start:]
                        for e2 in loop:
                            path_index.pop(edges[e2][0], None)
                        canonicalize_loop_order(min_input_ids, loop)
                        component[slot].append(loop)
                e = nxt
            if loop_type == "simple":
                assert not path
            else:
                canonicalize_loop_order(min_input_ids, path)
                component[slot].append(path)
        for s in range(2):
            component[s].sort(key=lambda lp: min_input_ids[lp[0]])
        if component[0] and component[1] and \
                min_input_ids[component[0][0][0]] > \
                min_input_ids[component[1][0][0]]:
            component = (component[1], component[0])
        components.append(component)
    components.sort(key=lambda c: min_input_ids[c[0][0][0]]
                    if c[0] else 0)
    return components


def get_directed_circuits(edges: list[tuple[int, int]], vertices,
                          min_input_ids: list[int] | None = None
                          ) -> list[list[int]]:
    """Graph.getDirectedLoops(LoopType.CIRCUIT): walk the left-turn map
    until returning to a visited edge, WITHOUT peeling at repeated
    vertices — degenerate filaments stay embedded in their loop (the
    S2LaxPolygonLayer shape)."""
    n = len(edges)
    if min_input_ids is None:
        min_input_ids = list(range(n))
    left = _left_turn_map(edges, vertices)
    loops: list[list[int]] = []
    for start in range(n):
        if left[start] < 0:
            continue
        path: list[int] = []
        e = start
        while left[e] >= 0:
            path.append(e)
            nxt = left[e]
            left[e] = -1
            e = nxt
        canonicalize_loop_order(min_input_ids, path)
        loops.append(path)
    loops.sort(key=lambda lp: min_input_ids[lp[0]])
    return loops


def _is_fully_degenerate(edges: list[tuple[int, int]]) -> bool:
    """S2FindPolygonDegeneracies.isFullyDegenerate: every edge is
    degenerate or has its reverse present."""
    eset = set(edges)
    return all(a == b or (b, a) in eset for a, b in edges)


FULL_LOOP = "full"  # sentinel in lax_polygon_layer output


def lax_polygon_layer(loops_pts: list, degenerate_boundaries: str = "KEEP",
                      is_full_predicate: bool = False) -> list:
    """S2LaxPolygonLayer.buildDirected
    (builder/layers/S2LaxPolygonLayer.kt:148-240): assemble loops that
    may KEEP degenerate boundaries, or discard all of them / only the
    degenerate holes / only the degenerate shells.

    loops_pts: list of (n,3) vertex arrays; n==1 is a degenerate point
    shell/hole, n==0 marks the full loop (no edges; callers pass
    is_full_predicate accordingly).  Returns a list whose entries are
    vertex arrays or the FULL_LOOP sentinel."""
    import numpy as _np

    from .degeneracies import find_polygon_degeneracies
    mode = degenerate_boundaries.upper()
    assert mode in ("DISCARD", "DISCARD_HOLES", "DISCARD_SHELLS", "KEEP")
    vmap: dict[tuple, int] = {}
    verts: list = []

    def vid(p) -> int:
        t = tuple(p)
        if t not in vmap:
            vmap[t] = len(verts)
            verts.append(p)
        return vmap[t]

    edges: list[tuple[int, int]] = []
    for ring in loops_pts:
        n = len(ring)
        if n == 0:
            continue  # full loop: contributes no edges
        if n == 1:
            v = vid(ring[0])
            edges.append((v, v))
            continue
        ids = [vid(p) for p in ring]
        edges.extend((ids[i], ids[(i + 1) % n]) for i in range(n))
    varr = _np.array(verts) if verts else _np.zeros((0, 3))
    if mode == "DISCARD":
        opts = GraphOptions(EdgeType.DIRECTED, DegenerateEdges.DISCARD,
                            DuplicateEdges.KEEP, SiblingPairs.DISCARD)
    else:
        # DISCARD_EXCESS can still discard some sibling pairs, leaving
        # a duplicate edge behind that would be left alone otherwise
        opts = GraphOptions(EdgeType.DIRECTED,
                            DegenerateEdges.DISCARD_EXCESS,
                            DuplicateEdges.MERGE,
                            SiblingPairs.DISCARD_EXCESS)
    kept, kept_ids, _err = process_edges(opts, edges)
    min_ids = [min(s) if s else NO_INPUT_ID for s in kept_ids]
    out: list = []
    if mode == "DISCARD":
        if not kept and is_full_predicate:
            out.append(FULL_LOOP)
    elif mode == "KEEP":
        if _is_fully_degenerate(kept) and is_full_predicate:
            out.append(FULL_LOOP)
    else:
        discard_holes = mode == "DISCARD_HOLES"
        degs = find_polygon_degeneracies(
            varr, kept, is_full_if_degenerate=is_full_predicate)
        if len(degs) == len(kept):
            if not degs:
                if is_full_predicate:
                    out.append(FULL_LOOP)
            elif degs[0].is_hole:
                out.append(FULL_LOOP)
        to_discard = {d.edge_id for d in degs
                      if d.is_hole == discard_holes}
        if to_discard:
            kept = [e for i, e in enumerate(kept) if i not in to_discard]
            min_ids = [m for i, m in enumerate(min_ids)
                       if i not in to_discard]
    circuits = get_directed_circuits(kept, varr, min_input_ids=min_ids)
    for loop in circuits:
        out.append(varr[[kept[e][0] for e in loop]])
    return out


def assemble_polygon(vertices, edges: list[tuple[int, int]],
                     keep_degeneracies: bool = False):
    """Polygon-layer assembly on an index graph (S2PolygonLayer.build /
    S2LaxPolygonLayer semantics): normalize the edge multiset with the
    polygon policy, then stitch simple loops.

    Default (S2PolygonLayer, DegenerateBoundaries discarded): policy =
    DISCARD degenerate edges + DISCARD sibling pairs; returns
    (rings, []) where rings are vertex-index loops.

    keep_degeneracies (the S2LaxPolygonLayer DegenerateBoundaries.KEEP
    path): policy = DISCARD_EXCESS for both, so degeneracies not
    redundant with the solid boundary survive; they are classified as
    shells/holes with the B5 finder (kernel/degeneracies.py) and
    returned as (rings, [PolygonDegeneracy-on-kept-edge-list...],
    kept_edges)."""
    if not keep_degeneracies:
        opts = GraphOptions(EdgeType.DIRECTED, DegenerateEdges.DISCARD,
                            DuplicateEdges.KEEP, SiblingPairs.DISCARD)
        kept, _ids, _err = process_edges(opts, edges)
        loops = get_directed_loops(kept, vertices)
        return ([[kept[e][0] for e in loop] for loop in loops], [])
    from .degeneracies import find_polygon_degeneracies
    opts = GraphOptions(EdgeType.DIRECTED, DegenerateEdges.DISCARD_EXCESS,
                        DuplicateEdges.KEEP, SiblingPairs.DISCARD_EXCESS)
    kept, _ids, _err = process_edges(opts, edges)
    degs = find_polygon_degeneracies(vertices, kept)
    deg_ids = {d.edge_id for d in degs}
    solid = [e for i, e in enumerate(kept) if i not in deg_ids]
    loops = get_directed_loops(solid)
    return ([[solid[e][0] for e in loop] for loop in loops], degs, kept)


def _sibling_map(edges: list[tuple[int, int]]) -> list[int]:
    """Pair each directed edge with its reverse (k-th copy with k-th
    copy — Graph.makeSiblingMap); degenerate edges pair among
    themselves.  Raises if the multiset is not sibling-balanced, the
    undirected-graph representation invariant."""
    from collections import defaultdict, deque
    pools: dict = defaultdict(deque)
    for i, e in enumerate(edges):
        pools[e].append(i)
    sib = [-1] * len(edges)
    for i, (a, b) in enumerate(edges):
        if sib[i] != -1:
            continue
        pool = pools[(b, a)]
        j = -1
        while pool:
            cand = pool.popleft()
            if cand != i and sib[cand] == -1:
                j = cand
                break
            if cand == i and (a, b) == (b, a) and pool:
                # degenerate: put back and take the next copy
                nxt = pool.popleft()
                if sib[nxt] == -1:
                    j = nxt
                    break
        if j == -1 and a == b:
            # a lone degenerate edge is its own sibling
            # (Graph.makeSiblingMap: degenerate edges pair among
            # themselves, an odd copy self-pairs)
            sib[i] = i
            continue
        if j == -1:
            raise ValueError(
                "undirected graph requires sibling-paired edges")
        sib[i], sib[j] = j, i
    return sib


def build_polylines_undirected(edges: list[tuple[int, int]],
                               polyline_type: str = "path",
                               min_input_ids: list[int] | None = None
                               ) -> list[list[int]]:
    """PolylineBuilder for UNDIRECTED graphs (each undirected edge is a
    sibling pair of directed copies; using an edge consumes its
    sibling).  Interior vertices have out-degree exactly 2; walk starts
    have odd degree (PolylineBuilder.kt is_interior/excess_degree)."""
    sib = _sibling_map(edges)
    out_map, _ = _degree_maps(edges)
    out_deg = {v: len(es) for v, es in out_map.items()}
    used = [False] * len(edges)
    n_left = len(edges) // 2
    ids = min_input_ids if min_input_ids is not None \
        else list(range(len(edges)))
    input_order = sorted(range(len(edges)), key=lambda e: (ids[e], e))

    def is_interior(v: int) -> bool:
        return out_deg.get(v, 0) == 2

    def use(e: int):
        nonlocal n_left
        used[e] = True
        used[sib[e]] = True
        n_left -= 1

    def next_unused(v: int, exclude: int = -1):
        return next((k for k in out_map.get(v, ())
                     if not used[k] and k != exclude), None)

    polylines: list[list[int]] = []
    if polyline_type == "path":
        def build_path(e: int) -> list[int]:
            out = [e]
            start = edges[e][0]
            use(e)
            v = edges[e][1]
            while is_interior(v) and v != start:
                nxt = next_unused(v)
                if nxt is None:
                    break
                out.append(nxt)
                use(nxt)
                v = edges[nxt][1]
            return out

        # starting edges in input-id order, so the input direction is
        # preferred (reverse copies carry NO_INPUT_ID and come last)
        for e in input_order:
            if not used[e] and not is_interior(edges[e][0]):
                polylines.append(build_path(e))
        for e in input_order:  # leftover loops
            if n_left == 0:
                break
            if not used[e]:
                loop = build_path(e)
                canonicalize_loop_order(ids, loop)
                polylines.append(loop)
        polylines.sort(key=lambda w: ids[w[0]])
        return polylines

    if polyline_type != "walk":
        raise ValueError("polyline_type must be 'path' or 'walk'")
    return _build_walks(edges, directed=False,
                        min_input_ids=min_input_ids, sib=sib)
