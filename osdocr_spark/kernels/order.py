"""Reading-order graph construction, attraction weighting, deterministic
topological sort, and article isolation.

Re-implements ``O/ocr_tree_module/ocr_tree_analyser.py:1235-1829`` and the
graph container ``O/aux_utils/graph.py`` over block indices of one
:class:`~osdocr_spark.kernels.doc.Document`.  The per-document graph never
crosses a partition boundary (SURVEY.md §1.1) — it is tens of nodes, kept as
plain dict/list adjacency here.

Documented deviations from the reference (behavioral bug-fixes, see
SURVEY.md §4.1 "anti-patterns"):

- ``Node.is_connected`` / ``connection_points`` use a *shared mutable default*
  ``visited=[]`` (``graph.py:230,276``) that poisons reachability results
  across calls, and ``sort_topologic_order``'s validity check passes a Node
  where an id is expected (``ocr_tree_analyser.py:1415``), making it vacuous.
  We implement the *intended* reachability (fresh visited set per call,
  id-keyed), which yields the documented newspaper order deterministically.
- ``topologic_graph``'s ancestor cleaning (``:1295-1301``, which mutates
  the list it iterates) is left out: a node is visited once and has no
  child edges before its visit, so "the current node already reaches the
  target" never holds there.  The "not-already-ancestor" reading of it
  (drop a target that reaches the current node) is not implemented either.
"""

from __future__ import annotations

import math

import numpy as np

from . import geometry as g
from . import neighbors as nb
from .doc import Document

__all__ = [
    "DGraph", "next_top_block", "topologic_graph", "topologic_order_context",
    "calculate_block_attraction", "sort_topologic_order", "graph_isolate_articles",
]


class DGraph:
    """Weighted digraph over block indices; insertion order preserved
    (replaces ``Graph``/``Node``/``Edge``, ``graph.py:5-416``).

    ``cw[(s,t)]`` is the edge weight.  The reference stores each connection
    twice, as a child and a parent edge (``ocr_tree_analyser.py:1480-1488``),
    but both get the same attraction (see :func:`topologic_order_context`),
    so one weight per edge is kept.
    """

    def __init__(self):
        self.order: list[int] = []
        self.children: dict[int, list[int]] = {}
        self.cw: dict[tuple[int, int], float] = {}

    def add_node(self, i: int):
        if i not in self.children:
            self.order.append(i)
            self.children[i] = []

    def add_edge(self, s: int, t: int, w: float = 0.0):
        if t not in self.children[s]:
            self.children[s].append(t)
            self.cw[(s, t)] = w

    def remove_edge(self, s: int, t: int):
        if t in self.children[s]:
            self.children[s].remove(t)
            self.cw.pop((s, t), None)

    def reaches(self, src: int, tgt: int) -> bool:
        """True if ``tgt`` is reachable from ``src`` via child edges."""
        stack = [src]
        seen = set()
        while stack:
            n = stack.pop()
            if n == tgt:
                return True
            if n in seen:
                continue
            seen.add(n)
            stack.extend(self.children[n])
        return False

    def transitive_reduction(self, visit_order: list[int] | None = None):
        """Remove edges implied by longer child paths (``Graph.clean_graph``,
        ``graph.py:91-109``, implemented as a standard reduction).  A kept
        edge keeps its weight."""
        for s in (visit_order or list(self.order)):
            for t in list(self.children[s]):
                # reachable without the direct edge?
                w = self.cw[(s, t)]
                self.remove_edge(s, t)
                if not self.reaches(s, t):
                    self.add_edge(s, t, w)

    def narrow_parents(self):
        """Keep each node's strongest parent connection; drop parents whose
        total (child+parent) weight ratio vs the strongest is < 0.5
        (``Graph.narrow_parents``, ``graph.py:111-146``).  The child and
        parent weights are equal, so the total is ``2 * cw``."""
        connections: list[tuple[float, int, int]] = []
        for s in self.order:
            for t in self.children[s]:
                connections.append((2 * self.cw[(s, t)], s, t))
        connections.sort(key=lambda c: c[0], reverse=True)
        visited: set[int] = set()
        alive = {(s, t) for _, s, t in connections}
        for weight, s, t in connections:
            if (s, t) not in alive or s in visited:
                continue
            visited.add(s)
            for o_weight, os_, ot in connections:
                if (os_, ot) == (s, t) or ot != t or (os_, ot) not in alive:
                    continue
                # replicate the <0.5 ratio rule; guard non-positive weights
                if o_weight < weight and (weight <= 0 or o_weight / weight < 0.5):
                    self.remove_edge(os_, ot)
                    alive.discard((os_, ot))
                elif o_weight > weight and (o_weight <= 0 or weight / o_weight < 0.5):
                    self.remove_edge(s, t)
                    alive.discard((s, t))


def _tuple_boxes(bb: np.ndarray, idxs) -> dict[int, tuple[int, int, int, int]]:
    return {int(c): (int(bb[c, 0]), int(bb[c, 1]), int(bb[c, 2]), int(bb[c, 3]))
            for c in idxs}


def next_top_block(doc: Document, cand: list[int], origin: tuple[float, float] = (0.0, 0.0)) -> int | None:
    """Choose the visually-first block (``next_top_block``,
    ``ocr_tree_analyser.py:649-726``): top-band → leftmost-band → top, vs
    left-band → top; tie-break by euclidean distance to ``origin``
    (left-candidate wins only when strictly closer).  One scalar walk over
    tuple boxes at every candidate-set size: calls see a few candidates
    (2–3 on average, at most 15 main blocks on a generated page), where a
    whole-array route costs several times the walk.  Candidate order
    (top_blocks first, then ``cand`` order) is preserved so first-minimum
    tie-breaks match the reference's stable sorts."""
    if not cand:
        return None
    tb = _tuple_boxes(doc.b_box, cand)
    cand = [int(c) for c in cand]

    # --- top route
    min_top = min(tb[c][2] for c in cand)
    top_blocks = [c for c in cand if tb[c][2] == min_top]
    band = [c for c in cand
            if any(g.pair_within_vertical(tb[c], tb[t], rng=0.05) for t in top_blocks)]
    pot = top_blocks + band
    leftmost = min(pot, key=lambda c: tb[c][0])
    band2 = [c for c in cand if g.pair_within_horizontal(tb[c], tb[leftmost], rng=0.05)]
    potential_top = min(band2, key=lambda c: tb[c][2]) if band2 else None

    # --- left route
    min_left = min(tb[c][0] for c in cand)
    leftmost_blocks = [c for c in cand if tb[c][0] == min_left]
    band3 = [c for c in cand
             if any(g.pair_within_horizontal(tb[c], tb[t], rng=0.05) for t in leftmost_blocks)]
    potential_left = min(band3, key=lambda c: tb[c][2]) if band3 else None

    if potential_left is not None and potential_top is not None:
        dl = math.hypot(origin[0] - tb[potential_left][0], origin[1] - tb[potential_left][2])
        dt = math.hypot(origin[0] - tb[potential_top][0], origin[1] - tb[potential_top][2])
        return potential_left if dl < dt else potential_top
    if potential_left is not None:
        return potential_left
    if potential_top is not None:
        return potential_top
    return min(cand, key=lambda c: tb[c][2])


def topologic_graph(doc: Document, block_idx: list[int]) -> DGraph | None:
    """Build the reading-order digraph over non-delimiter blocks
    (``topologic_graph``, ``ocr_tree_analyser.py:1235-1344``): traverse from
    the visually-first block; each visited block gets child edges to its
    directly-right and directly-below neighbors; next node is the
    visually-first unvisited below-neighbor, else the global visually-first
    unvisited (linked if no below-neighbors).
    """
    non_delims = [i for i in block_idx if doc.b_type[i] != "delimiter"]
    if not non_delims:
        return None
    bb = doc.b_box
    first = next_top_block(doc, non_delims)
    graph = DGraph()
    graph.add_node(first)
    for i in non_delims:
        if i != first:
            graph.add_node(i)

    nd_arr = np.array(non_delims, dtype=np.int64)
    # one all-pairs pass replaces the per-node strip+prune semi-join calls
    tables = nb.neighbor_tables(bb, nd_arr, kinds=("right", "below"))
    visited: list[int] = []
    current = first
    while current is not None:
        visited.append(current)
        right_blocks = tables["right"][current]
        below_blocks = tables["below"][current]
        for p in right_blocks + below_blocks:
            graph.add_edge(current, p)

        nxt = next_top_block(doc, [b for b in below_blocks if b not in visited],
                             origin=(float(bb[current, g.L]), float(bb[current, g.T])))
        if nxt is None:
            unvisited = [b for b in non_delims if b not in visited]
            nxt = next_top_block(doc, unvisited)
            if nxt is not None and not below_blocks:
                graph.add_edge(current, nxt)
        current = nxt
    return graph


class _AttractionCache:
    """Per-(document, block-set) tables read by every edge weighting call:
    each block's tuple box (``tup``), its directional neighbors
    (``neighbors[kind][i]``) and its distance normalization.  The graph's
    nodes and every neighbor asked about come from the block set, so each
    read is a lookup."""

    def __init__(self, doc: Document, blocks: list[int]):
        self.doc = doc
        self.barr = np.array(blocks, dtype=np.int64)
        self.tup = _tuple_boxes(doc.b_box, blocks)
        self.neighbors = nb.neighbor_tables(doc.b_box, self.barr)
        self._dist: dict[int, tuple[float, float]] = {}

    def dist_range(self, i: int) -> tuple[float, float]:
        hit = self._dist.get(i)
        if hit is None:
            others = self.barr[self.barr != i]
            if len(others):
                d = g.distance_to(self.doc.b_box[i][None, :], self.doc.b_box[others])
                hit = (float(d.max()), float(d.min()))
            else:
                hit = (0.0, 0.0)
            self._dist[i] = hit
        return hit


def calculate_block_attraction(doc: Document, block: int, target: int,
                               cache: _AttractionCache) -> int:
    """Attraction score between two blocks (``calculate_block_attraction``,
    ``ocr_tree_analyser.py:1496-1789``): direction bonus, delimiter
    crossing penalty/bonus (±30·overlap ratio), normalized proximity
    (+20·(1−d)), strip-overlap ratio (+20·ratio), below-target (+20),
    no-below bonuses (+40/+20), encompassing below/above (+20, shared
    parent/child +20), and the type rules for title/image/text blocks.

    Pair-form geometry over tuple boxes throughout (``geometry.pair_*``):
    one pair of boxes per test, the same arithmetic as the broadcast
    form."""
    tup, neighbors = cache.tup, cache.neighbors
    tblock = tup[block]
    ttarget = tup[target]
    max_d, min_d = cache.dist_range(block)

    attraction = 0

    if g.pair_intersects(tblock, ttarget, extend_vertical=True):
        direction = "above" if tblock[2] > ttarget[2] else "below"
    elif g.pair_intersects(tblock, ttarget, extend_horizontal=True):
        direction = "right" if tblock[0] < ttarget[0] else "left"
    elif g.pair_is_inside(ttarget, tblock):
        direction = "below"
    elif g.pair_is_inside(tblock, ttarget):
        direction = "above"
    elif ttarget[2] < tblock[2]:
        direction = "above"
    else:
        direction = "below"

    below_blocks = neighbors["below"][block]
    right_blocks = neighbors["right"][block]
    top_blocks = neighbors["above"][block]

    # unconditional direction bonus (the reference's disjunction covers all
    # four directions, ``:1558-1562``)
    attraction += 20

    border = {"above": "top", "below": "bottom", "left": "left", "right": "right"}[direction]
    distance = g.pair_distance_to(tblock, ttarget, border)
    rng = max_d - min_d
    distance = abs((distance - min_d) / rng) if rng > 0 else 0.0

    block_area = (tblock[1] - tblock[0]) * (tblock[3] - tblock[2])
    if below_blocks:
        leftmost = min(below_blocks, key=lambda b: tup[b][0])
        if leftmost == target:
            attraction += 10
        below_delims = [b for b in below_blocks if doc.b_type[b] == "delimiter"]
        if below_delims and block_area > 0:
            widest = max(below_delims,
                         key=lambda b: tup[b][1] - tup[b][0])
            inter_area = g.pair_inter_area(tup[widest], tblock, extend_vertical=True)
            if direction == "below" and inter_area > 0:
                attraction -= (inter_area / block_area) * 30
            elif direction != "below" and inter_area > 0:
                attraction += (inter_area / block_area) * 30

    if right_blocks:
        right_delims = [b for b in right_blocks if doc.b_type[b] == "delimiter"]
        if right_delims and block_area > 0:
            tallest = max(right_delims,
                          key=lambda b: tup[b][3] - tup[b][2])
            inter_area = g.pair_inter_area(tup[tallest], tblock, extend_horizontal=True)
            if direction == "right" and inter_area > 0:
                attraction -= (inter_area / block_area) * 30
            elif direction != "right" and inter_area > 0:
                attraction += (inter_area / block_area) * 30

    if below_blocks:
        attraction += round(20 * (1 - distance))

    # strip overlap ratio (``:1634-1650``)
    inter_area = g.pair_inter_area(ttarget, tblock,
                                extend_vertical=direction in ("above", "below"),
                                extend_horizontal=direction not in ("above", "below"))
    target_area = (ttarget[1] - ttarget[0]) * (ttarget[3] - ttarget[2])
    if target_area > 0:
        ratio = 1.0 if inter_area >= target_area else inter_area / target_area
        attraction += round(20 * ratio)

    if below_blocks:
        if target in below_blocks:
            attraction += 20
    else:
        if direction in ("right", "above"):
            attraction += 40
            if len(neighbors["above"][target]) == 0:
                attraction += 20

    if direction in ("below", "right"):
        if below_blocks:
            for bbk in below_blocks:
                tk = tup[bbk]
                if bbk != target and \
                        g.pair_within_horizontal(tk, tblock, rng=0.3, only_self=True) and \
                        g.pair_within_horizontal(tk, ttarget, rng=0.3, only_self=True):
                    attraction += 20
                    above_enc = neighbors["above"][bbk]
                    if above_enc and len([b for b in above_enc if b in (block, target)]) == 2:
                        attraction += 20
                    break
        if top_blocks:
            for tbk in top_blocks:
                tk = tup[tbk]
                if tbk != target and \
                        g.pair_within_horizontal(tk, tblock, rng=0.3, only_self=True) and \
                        g.pair_within_horizontal(tk, ttarget, rng=0.3, only_self=True):
                    attraction += 20
                    below_enc = neighbors["below"][tbk]
                    if below_enc and len([b for b in below_enc if b in (block, target)]) == 2:
                        attraction += 20
                    break

    btype = doc.b_type[block]
    ttype = doc.b_type[target]
    if btype == "title":
        if direction == "below":
            attraction += 20
        if ttype != "title":
            attraction += 20
            if ttype == "text" and direction == "below" and doc.b_start_text[target] is True:
                attraction += 10
    elif btype == "image":
        if ttype == "caption":
            attraction += 50
    elif btype == "text":
        keys, _, _ = doc.line_table(block)
        n_lines = len(keys)
        if ttype == "text":
            if n_lines > 1 and doc.b_end_text[block] is False and doc.b_start_text[target] is False:
                attraction += 50
            elif n_lines > 1 and doc.b_end_text[block] is True and doc.b_start_text[target] is True:
                attraction += 10
            if direction == "below":
                attraction += 20
            else:
                if below_blocks and not [b for b in below_blocks if doc.b_type[b] == "text"]:
                    attraction += 10
        elif n_lines > 1 and doc.b_end_text[block] is False and \
                (ttype != "text" or doc.b_start_text[target] is True):
            attraction -= 20
    return attraction


def topologic_order_context(doc: Document, block_idx: list[int]) -> DGraph | None:
    """Graph + attraction weights on every child and parent edge
    (``topologic_order_context``, ``ocr_tree_analyser.py:1458-1492``)."""
    graph = topologic_graph(doc, block_idx)
    if graph is None:
        return None
    cache = _AttractionCache(doc, block_idx)
    for s in graph.order:
        for t in graph.children[s]:
            # the reference computes the edge twice (child=True/False), but
            # ``child`` only gates its debug print (``:1496-1503``) — the
            # score is child/parent-agnostic, so one evaluation serves both
            graph.cw[(s, t)] = calculate_block_attraction(doc, s, t, cache)
    return graph


def sort_topologic_order(doc: Document, graph: DGraph, sort_weight: bool = False) -> list[int]:
    """Deterministic topological ordering (``sort_topologic_order``,
    ``ocr_tree_analyser.py:1347-1454``): candidates are the last node's
    unvisited children, else all unvisited; a candidate is valid when no
    other unvisited candidate reaches it; ties resolve by max edge weight
    (when ``sort_weight``) then by :func:`next_top_block`."""
    if sort_weight:
        graph.narrow_parents()

    order: list[int] = []
    in_order: set[int] = set()
    last: int | None = None
    n = len(graph.order)
    while len(order) < n:
        potential = []
        if last is not None:
            potential = [t for t in graph.children[last] if t not in in_order]
        if not potential:
            potential = [i for i in graph.order if i not in in_order]

        valid: list[int] = []
        for cand in potential:
            ok = True
            for other in potential:
                if other == cand or other in in_order:
                    continue
                if graph.reaches(other, cand):
                    ok = False
                    break
            if ok:
                valid.append(cand)

        if len(valid) > 1:
            chosen = None
            if sort_weight and last is not None:
                edges = [(graph.cw[(last, t)], t) for t in graph.children[last] if t in valid]
                if edges:
                    maxw = max(w for w, _ in edges)
                    tied = [t for w, t in edges if w == maxw]
                    chosen = tied[0] if len(tied) == 1 else next_top_block(doc, tied)
            if chosen is None:
                chosen = next_top_block(doc, valid)
        elif len(valid) == 1:
            chosen = valid[0]
        else:
            chosen = next_top_block(doc, potential)
        order.append(chosen)
        in_order.add(chosen)
        last = chosen
    return order


def graph_isolate_articles(doc: Document, order: list[int]) -> list[list[int]]:
    """Split the ordered block list into articles at title boundaries;
    consecutive titles stay together (``graph_isolate_articles``,
    ``ocr_tree_analyser.py:1793-1829``)."""
    articles: list[list[int]] = []
    current: list[int] = []
    has_title = False
    for i in order:
        if doc.b_type[i] == "title":
            if current and has_title:
                if doc.b_type[current[-1]] != "title":
                    articles.append(current)
                    current = []
                    has_title = True
            else:
                has_title = True
        current.append(i)
    if current:
        articles.append(current)
    return articles
