"""Axis-aligned box algebra: the reference's ``Box`` predicates
(``O/aux_utils/box.py:10-423``) over boxes laid out as ``[left, right, top,
bottom]`` (width/height are derived, never stored — ``box.py:30-35``).
Comparisons are closed intervals exactly as the reference's ``<=`` / ``>=``
chains.

This module owns every box predicate, each in two forms:

- **broadcast** (``is_inside``, ``intersects``, ``intersect_area_box``,
  ``within_vertical``/``within_horizontal``, ``distance_to``, ...): numpy
  over ``(N, 4)`` int64 arrays; ``a`` and ``b`` may each be ``(4,)`` or
  ``(N, 4)`` and the result is a mask or array.  Call it for one box
  against a table of boxes, or a table against a table.
- **pair** (``pair_<name>``, plus ``pair_inter_area`` and
  ``remove_box_area``): one box against one box, each a plain-int 4-tuple or
  list, returning a Python ``bool``/``int``/``float``.  Call it inside a
  per-pair loop (reading-order walks, the fix suite); it does the same
  arithmetic without a numpy call per test.

No function picks its form from its input's shape.

Known reference quirk deliberately not ported: ``Box.distance_to`` with
``border='closest'`` passes an unsupported ``range_type=`` kwarg into
``within_*_boxes`` (``box.py:382,388``) and would raise ``TypeError``; no
in-repo caller reaches it (SURVEY.md §2.3), so only the reachable border
modes are implemented.
"""

from __future__ import annotations

import math

import numpy as np

L, R, T, B = 0, 1, 2, 3

__all__ = [
    "L", "R", "T", "B", "box", "width", "height", "area", "center",
    "is_inside", "intersects", "intersect_area_box", "within_vertical",
    "within_horizontal", "distance_to",
    "pair_is_inside", "pair_intersects", "pair_intersect_area_box", "pair_inter_area",
    "pair_within_vertical", "pair_within_horizontal", "pair_distance_to",
    "remove_box_area",
]


def box(left, right, top, bottom) -> np.ndarray:
    """Build an int64 box array (coordinates coerced to int, ``box.py:30-35``)."""
    return np.array([int(left), int(right), int(top), int(bottom)], dtype=np.int64)


def width(b: np.ndarray) -> np.ndarray:
    return b[..., R] - b[..., L]


def height(b: np.ndarray) -> np.ndarray:
    return b[..., B] - b[..., T]


def area(b: np.ndarray) -> np.ndarray:
    """``Box.area`` (``box.py:127-128``) — width·height, no clamping."""
    return width(b) * height(b)


def center(b: np.ndarray) -> np.ndarray:
    """Center points ``(x, y)`` as float64 (``box.py:405-407``)."""
    return np.stack([(b[..., L] + b[..., R]) / 2.0, (b[..., T] + b[..., B]) / 2.0], axis=-1)


def is_inside(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``a`` fully inside ``b`` (closed; ``Box.is_inside_box``, ``box.py:166-170``)."""
    return (
        (a[..., L] >= b[..., L]) & (a[..., R] <= b[..., R])
        & (a[..., T] >= b[..., T]) & (a[..., B] <= b[..., B])
    )


def intersects(a: np.ndarray, b: np.ndarray,
               extend_vertical: bool = False, extend_horizontal: bool = False,
               inside: bool = False) -> np.ndarray:
    """Interval-overlap theta-join predicate (``Box.intersects_box``,
    ``box.py:173-196``).

    ``extend_vertical`` projects ``a`` to an infinite vertical strip
    (overlap on y always true); ``extend_horizontal`` likewise for x.
    ``inside=True`` additionally accepts containment either way (redundant
    with plain overlap but kept for signature parity).
    """
    iv = extend_vertical | (
        ((a[..., T] <= b[..., T]) & (a[..., B] >= b[..., T]))
        | ((b[..., T] <= a[..., T]) & (b[..., B] >= a[..., T]))
    )
    ih = extend_horizontal | ((a[..., L] <= b[..., R]) & (a[..., R] >= b[..., L]))
    hit = iv & ih
    if inside:
        hit = hit | is_inside(a, b) | is_inside(b, a)
    return hit


def intersect_area_box(a: np.ndarray, b: np.ndarray,
                       extend_vertical: bool = False,
                       extend_horizontal: bool = False) -> np.ndarray:
    """Overlap rectangle (``Box.intersect_area_box``, ``box.py:198-246``).

    Returns boxes clipped to the mutual overlap; where the boxes are
    disjoint the result has non-positive width/height and ``area() <= 0``
    — callers test the area like the reference does.
    """
    aa = np.array(a, dtype=np.int64)
    b = np.asarray(b)
    if extend_vertical:
        aa[..., T] = np.minimum(aa[..., T], b[..., T])
        aa[..., B] = np.maximum(aa[..., B], b[..., B])
    if extend_horizontal:
        aa[..., L] = np.minimum(aa[..., L], b[..., L])
        aa[..., R] = np.maximum(aa[..., R], b[..., R])
    out = np.empty(np.broadcast(aa, b).shape, dtype=np.int64)
    out[..., L] = np.maximum(aa[..., L], b[..., L])
    out[..., R] = np.minimum(aa[..., R], b[..., R])
    out[..., T] = np.maximum(aa[..., T], b[..., T])
    out[..., B] = np.minimum(aa[..., B], b[..., B])
    return out


def overlap_area(a: np.ndarray, b: np.ndarray,
                 extend_vertical: bool = False,
                 extend_horizontal: bool = False) -> np.ndarray:
    """Clamped overlap area (≥0) of :func:`intersect_area_box` results."""
    ib = intersect_area_box(a, b, extend_vertical, extend_horizontal)
    return np.maximum(width(ib), 0) * np.maximum(height(ib), 0)


def within_vertical(a: np.ndarray, b: np.ndarray, rng: float = 0.0,
                    only_self: bool = False) -> np.ndarray:
    """Tolerance-banded 1-D vertical containment
    (``Box.within_vertical_boxes``, ``box.py:130-142``): ``b`` within ``a``
    grown by ``rng·height(a)``, or (unless ``only_self``) ``a`` within ``b``
    grown by ``rng·height(b)``."""
    ha = height(a) * rng
    hit = (a[..., T] - ha <= b[..., T]) & (a[..., B] + ha >= b[..., B])
    if not only_self:
        hb = height(b) * rng
        hit = hit | ((b[..., T] - hb <= a[..., T]) & (b[..., B] + hb >= a[..., B]))
    return hit


def within_horizontal(a: np.ndarray, b: np.ndarray, rng: float = 0.0,
                      only_self: bool = False) -> np.ndarray:
    """Horizontal counterpart (``box.py:145-156``)."""
    wa = width(a) * rng
    hit = (a[..., L] - wa <= b[..., L]) & (a[..., R] + wa >= b[..., R])
    if not only_self:
        wb = width(b) * rng
        hit = hit | ((b[..., L] - wb <= a[..., L]) & (b[..., R] + wb >= a[..., R]))
    return hit


_BORDER_POINTS = {"left", "right", "top", "bottom"}


def _mid_point(b: np.ndarray, which: str) -> np.ndarray:
    cx = (b[..., L] + b[..., R]) / 2.0
    cy = (b[..., T] + b[..., B]) / 2.0
    if which == "center":
        return np.stack([cx, cy], axis=-1)
    if which == "left":
        return np.stack([b[..., L].astype(np.float64), cy], axis=-1)
    if which == "right":
        return np.stack([b[..., R].astype(np.float64), cy], axis=-1)
    if which == "top":
        return np.stack([cx, b[..., T].astype(np.float64)], axis=-1)
    return np.stack([cx, b[..., B].astype(np.float64)], axis=-1)


_OPPOSITE = {"left": "right", "right": "left", "top": "bottom", "bottom": "top"}


def distance_to(a: np.ndarray, b: np.ndarray, border: str | None = None) -> np.ndarray:
    """Euclidean distance between boxes (``Box.distance_to``, ``box.py:346-402``).

    ``border=None`` → center–center; ``border∈{left,right,top,bottom}`` →
    between that border's midpoint of ``a`` and the opposite border's
    midpoint of ``b`` (reference pairs e.g. ``a.left ↔ b.right``).
    """
    if border in _BORDER_POINTS:
        pa = _mid_point(np.asarray(a), border)
        pb = _mid_point(np.asarray(b), _OPPOSITE[border])
    else:
        pa = _mid_point(np.asarray(a), "center")
        pb = _mid_point(np.asarray(b), "center")
    d = pa - pb
    return np.hypot(d[..., 0], d[..., 1])


def distance_to_point(b: np.ndarray, x: float, y: float) -> float:
    """Point-to-box distance, 0 inside (``Box.distance_to_point``,
    ``box.py:425-430``)."""
    cx = (b[L] + b[R]) / 2.0
    cy = (b[T] + b[B]) / 2.0
    dx = abs(cx - x) - (b[R] - b[L]) * 0.5
    dy = abs(cy - y) - (b[B] - b[T]) * 0.5
    return math.hypot(dx if dx > 0 else 0.0, dy if dy > 0 else 0.0)


def closest_edge_point(b: np.ndarray, x: float, y: float) -> tuple[float, float]:
    """Nearest point on the box border to (x, y) (``Box.closest_edge_point``,
    ``box.py:443-480`` — clamp to the box, then project interior points to
    the nearest edge)."""
    px = min(max(float(x), float(b[L])), float(b[R]))
    py = min(max(float(y), float(b[T])), float(b[B]))
    if b[L] < px < b[R] and b[T] < py < b[B]:
        # inside: snap to the nearest of the four edges
        d = [(px - b[L], (float(b[L]), py)), (b[R] - px, (float(b[R]), py)),
             (py - b[T], (px, float(b[T]))), (b[B] - py, (px, float(b[B])))]
        return min(d, key=lambda t: t[0])[1]
    return px, py


# ---------------------------------------------------------------------------
# Pair form (module docstring): plain-int (L, R, T, B) tuples or lists.


def pair_is_inside(a, b) -> bool:
    """:func:`is_inside` for one pair: ``a`` fully inside ``b``."""
    return a[L] >= b[L] and a[R] <= b[R] and a[T] >= b[T] and a[B] <= b[B]


def pair_intersects(a, b, extend_vertical: bool = False,
                    extend_horizontal: bool = False, inside: bool = False) -> bool:
    """:func:`intersects` for one pair."""
    hit = ((extend_vertical or (a[T] <= b[T] and a[B] >= b[T])
            or (b[T] <= a[T] and b[B] >= a[T]))
           and (extend_horizontal or (a[L] <= b[R] and a[R] >= b[L])))
    if inside and not hit:
        hit = pair_is_inside(a, b) or pair_is_inside(b, a)
    return hit


def pair_intersect_area_box(a, b, extend_vertical: bool = False,
                       extend_horizontal: bool = False) -> list[int]:
    """:func:`intersect_area_box` for one pair, as an ``[l, r, t, b]`` list."""
    al, ar, at, ab = a
    if extend_vertical:
        at = min(at, b[T])
        ab = max(ab, b[B])
    if extend_horizontal:
        al = min(al, b[L])
        ar = max(ar, b[R])
    return [max(al, b[L]), min(ar, b[R]), max(at, b[T]), min(ab, b[B])]


def pair_inter_area(a, b, extend_vertical: bool = False,
                    extend_horizontal: bool = False) -> int:
    """``area(intersect_area_box(a, b, ...))`` for one pair — negative or
    zero for disjoint boxes, exactly the value callers test."""
    l, r, t, bt = pair_intersect_area_box(a, b, extend_vertical, extend_horizontal)
    return (r - l) * (bt - t)


def pair_within_vertical(a, b, rng: float = 0.0, only_self: bool = False) -> bool:
    """:func:`within_vertical` for one pair."""
    ha = (a[B] - a[T]) * rng
    if a[T] - ha <= b[T] and a[B] + ha >= b[B]:
        return True
    if only_self:
        return False
    hb = (b[B] - b[T]) * rng
    return b[T] - hb <= a[T] and b[B] + hb >= a[B]


def pair_within_horizontal(a, b, rng: float = 0.0, only_self: bool = False) -> bool:
    """:func:`within_horizontal` for one pair."""
    wa = (a[R] - a[L]) * rng
    if a[L] - wa <= b[L] and a[R] + wa >= b[R]:
        return True
    if only_self:
        return False
    wb = (b[R] - b[L]) * rng
    return b[L] - wb <= a[L] and b[R] + wb >= a[R]


def pair_distance_to(a, b, border: str | None = None) -> float:
    """:func:`distance_to` for one pair.  ``math.hypot`` here and
    ``np.hypot`` there may differ in the last ulp, so a caller keeps to one
    form for any value it compares or scores."""
    if border == "left":
        xa, ya, xb, yb = a[L], (a[T] + a[B]) / 2.0, b[R], (b[T] + b[B]) / 2.0
    elif border == "right":
        xa, ya, xb, yb = a[R], (a[T] + a[B]) / 2.0, b[L], (b[T] + b[B]) / 2.0
    elif border == "top":
        xa, ya, xb, yb = (a[L] + a[R]) / 2.0, a[T], (b[L] + b[R]) / 2.0, b[B]
    elif border == "bottom":
        xa, ya, xb, yb = (a[L] + a[R]) / 2.0, a[B], (b[L] + b[R]) / 2.0, b[T]
    else:
        xa, ya = (a[L] + a[R]) / 2.0, (a[T] + a[B]) / 2.0
        xb, yb = (b[L] + b[R]) / 2.0, (b[T] + b[B]) / 2.0
    return math.hypot(xa - xb, ya - yb)


def remove_box_area(b, cut) -> list[int]:
    """Shrink ``b`` until disjoint from ``cut``, repeatedly trimming the side
    that loses the least area (``Box.remove_box_area``, ``box.py:248-297``).
    Pair form only (≤4 iterations): every caller shrinks one box."""
    out = [int(v) for v in b]
    for _ in range(4):
        il, ir, it, ib = pair_intersect_area_box(out, cut)
        if ir - il <= 0 or ib - it <= 0:
            break
        w = out[R] - out[L]
        h = out[B] - out[T]
        # candidate trims: (lost_area, (side, new_value))
        cands = []
        if cut[B] >= out[B] and cut[T] > out[T]:  # cut hugs bottom → trim bottom
            cands.append(((out[B] - cut[T]) * w, (B, int(cut[T]))))
        if cut[T] <= out[T] and cut[B] < out[B]:  # cut hugs top → trim top
            cands.append(((cut[B] - out[T]) * w, (T, int(cut[B]))))
        if cut[R] >= out[R] and cut[L] > out[L]:  # trim right
            cands.append(((out[R] - cut[L]) * h, (R, int(cut[L]))))
        if cut[L] <= out[L] and cut[R] < out[R]:  # trim left
            cands.append(((cut[R] - out[L]) * h, (L, int(cut[R]))))
        if not cands:
            break
        cands.sort(key=lambda c: c[0])
        side, val = cands[0][1]
        out[side] = val
    return out
