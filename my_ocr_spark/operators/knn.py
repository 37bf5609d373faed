"""Per-group K-nearest-neighbor join — the DRRG local-graph analog.

Reference: ``mmocr/models/textdet/modules/local_graph.py:29-296`` builds
per-image KNN graphs over text-component features (sorted Euclidean
distance matrix → k-at-hop neighborhoods). Graphs never cross documents,
so the Spark shape is a grouped operator, not a global join: points are
shuffled once on the group key and each group's all-pairs distance matrix
is one numpy array.

Scale notes:
* groups are tiny (components per image), so launching one Python task
  per group would drown in per-group overhead — ``session.map_groups``
  streams each sorted partition through one Python stage and cuts its
  Arrow batches into groups (one task per group measured 4x slower in
  round 1 on 15k tiny groups).
* integer coordinates → integer squared distances → deterministic
  (dist2, neighbor_id) ordering, no float ties.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, types as T

from my_ocr_spark.session import map_groups

KNN_SCHEMA = T.StructType([
    T.StructField("img", T.LongType(), False),
    T.StructField("src_id", T.LongType(), False),
    T.StructField("neighbor_id", T.LongType(), False),
    T.StructField("dist2", T.LongType(), False),
    T.StructField("rnk", T.LongType(), False),
])


def knn_per_group(points: DataFrame, k: int = 4) -> DataFrame:
    """KNN within each ``img`` group of a (img, pid, x, y) DataFrame →
    (img, src_id, neighbor_id, dist2, rnk) with rnk in 1..k ordered by
    (squared distance, neighbor id) — the local_graph.py k-at-hop-1 set."""
    def local_knn(img, ids, x, y):
        n = len(ids)
        m = min(k, n - 1)
        xy = np.stack([x, y], axis=1).astype(np.int64)
        d = xy[:, None, :] - xy[None, :, :]
        dist2 = (d * d).sum(axis=2)  # (n, n) exact int64
        # ids arrive ascending, so a stable sort of each row orders by
        # (dist2, neighbor id); dropping self leaves n - 1 per row
        order = np.argsort(dist2, axis=1, kind="stable")
        order = order[order != np.arange(n)[:, None]].reshape(n, n - 1)
        order = order[:, :m]
        return (np.repeat(img, m), np.repeat(ids, m), ids[order].ravel(),
                np.take_along_axis(dist2, order, axis=1).ravel(),
                np.tile(np.arange(1, m + 1), n))

    return map_groups(points.select("img", "pid", "x", "y"), "img",
                      local_knn, KNN_SCHEMA, order=["pid"])
