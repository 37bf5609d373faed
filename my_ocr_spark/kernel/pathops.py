"""TextSnake decode kernels: disk merging and center-path ordering.

Clean-room reimplementations of the reference semantics:
* ``merge_disks`` (``mmocr/models/textdet/postprocess/wrapper.py:275-303``):
  greedy score-ordered merge of overlapping disks (x, y, r, score);
  a kept disk absorbs every remaining disk whose center distance is
  within (r_i + r_j)·overlap_thr, and the merged disk is the
  component-wise MEAN of the absorbed group. Divergence note: the
  reference's descending argsort is unstable on score ties; we break
  ties by input index (stable, documented).
* ``min_connect_path`` (``wrapper.py:690-741``): greedy two-ended
  nearest-neighbor chaining of component centers → traversal order of
  all points. Ties between extending the head vs the tail go to the
  head (the reference's ``key0 <= key1`` rule).

Both are per-document sequential algorithms — in Spark each runs once
per image inside a ``session.map_groups`` stage (bounded per-doc work,
the max_candidates skew cap applies upstream).
"""

from __future__ import annotations

import numpy as np


def merge_disks(disks, overlap_thr: float) -> np.ndarray:
    """disks: (n, 4) array-like of (x, y, radius, score) → (m, 4) merged.
    Greedy: take the highest-scored remaining disk, absorb all remaining
    disks overlapping it (dist <= (ri+rj)·thr), emit the group mean."""
    d = np.asarray(disks, dtype=np.float64).reshape(-1, 4)
    if len(d) == 0:
        return d
    # stable order: score desc, then input index asc (deterministic ties)
    order = sorted(range(len(d)), key=lambda i: (-d[i, 3], i))
    merged = []
    remaining = list(order)
    while remaining:
        i = remaining[0]
        rest = remaining[1:]
        if not rest:
            merged.append(d[i])
            break
        dist = np.sqrt(((d[rest, 0:2] - d[i, 0:2]) ** 2).sum(axis=1))
        thr = (d[i, 2] + d[np.array(rest), 2]) * overlap_thr
        absorb = [r for r, hit in zip(rest, dist <= thr) if hit]
        if absorb:
            # left-to-right accumulation (not numpy's pairwise mean):
            # the summation order is part of the contract — the SQL
            # oracle folds the same group in the same order, so the
            # emitted doubles agree bit-for-bit
            acc = d[i].copy()
            for j in absorb:
                acc += d[j]
            merged.append(acc / (1 + len(absorb)))
        else:
            merged.append(d[i])
        remaining = [r for r, hit in zip(rest, dist <= thr) if not hit]
    return np.vstack(merged)


def min_connect_path(points) -> list[int]:
    """Greedy two-ended chaining: start at points[0]; repeatedly attach
    the globally nearest remaining point to the head or the tail of the
    current path (head wins distance ties). Returns the traversal order
    as indices into ``points`` — the reference's shortest_path output."""
    pts = np.asarray(points, dtype=np.float64).reshape(-1, 2)
    n = len(pts)
    if n == 0:
        return []
    path = [0]
    remaining = list(range(1, n))
    while remaining:
        rpts = pts[remaining]
        d_head = np.sqrt(((rpts - pts[path[0]]) ** 2).sum(axis=1))
        d_tail = np.sqrt(((rpts - pts[path[-1]]) ** 2).sum(axis=1))
        # deterministic argmin: smallest distance, then smallest index
        h = int(np.lexsort((remaining, d_head))[0])
        t = int(np.lexsort((remaining, d_tail))[0])
        if d_head[h] <= d_tail[t]:
            path.insert(0, remaining[h])
            remaining.pop(h)
        else:
            path.append(remaining[t])
            remaining.pop(t)
    return path


def canonical_path_order(points) -> list[int]:
    """min_connect_path with a canonical direction: the endpoint with the
    lexicographically smaller (x, y) comes first — makes the traversal
    order comparable across engines/implementations."""
    path = min_connect_path(points)
    if len(path) >= 2:
        pts = np.asarray(points, dtype=np.float64).reshape(-1, 2)
        a, b = pts[path[0]], pts[path[-1]]
        if (b[0], b[1]) < (a[0], a[1]):
            path = path[::-1]
    return path
