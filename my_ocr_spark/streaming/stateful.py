"""Custom stateful streaming operator: first-seen URL dedup via
applyInPandasWithState (SURVEY.md §2.11 — the reference has no streaming
surface; this is the north-star web-crawl shape: emit each url's first
snapshot, drop re-crawls within the state horizon).

Scale design (round-3 rework of the round-2 unbounded version):

* State per url-hash group is (url_hash int64[], last_seen_ms int64[]) —
  8 B per url instead of the url string, numpy-friendly.
* EVENT-TIME BOUNDED: the stream carries a watermark, and every group
  invocation evicts entries whose last-seen time fell behind the
  watermark. State size per group is bounded by the number of distinct
  urls seen within the horizon window, not by crawl history. A url idle
  longer than the horizon re-emits on its next crawl — the documented
  semantics change vs. the unbounded version (which could never be run
  forever anyway).
* Idle groups expire wholesale via GroupStateTimeout.EventTimeTimeout.
* n_groups is a fixed parameter, not a function of the session's
  parallelism: it is part of the checkpointed state's key (see
  first_seen_urls).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("text", T.StringType(), True),
])

_STATE_SCHEMA = T.StructType([
    T.StructField("seen_h", T.ArrayType(T.LongType()), True),
    T.StructField("seen_ms", T.ArrayType(T.LongType()), True),
])


def _empty_out() -> pd.DataFrame:
    return pd.DataFrame({"url": pd.Series(dtype=object),
                         "warc_ts": pd.Series(dtype="datetime64[us]"),
                         "text": pd.Series(dtype=object)})


def _make_dedup_group(horizon_ms: int):
    def _dedup_group(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # no data for this group within the horizon → drop its state
            state.remove()
            yield _empty_out()
            return
        wm_ms = state.getCurrentWatermarkMs()
        if state.exists:
            seen_h, seen_ms = state.get
            seen = dict(zip(seen_h, seen_ms))
            # evict urls last seen before the watermark: a re-crawl of
            # one would be late data anyway, so the horizon is the
            # watermark delay. This is what bounds state size.
            if wm_ms > 0:
                seen = {h: ts for h, ts in seen.items() if ts >= wm_ms}
        else:
            seen = {}
        rows = {"url": [], "warc_ts": [], "text": []}
        max_ms = wm_ms
        for pdf in pdfs:
            pdf = pdf.sort_values(["warc_ts", "url"], kind="mergesort")
            ms = (pdf["warc_ts"].astype("datetime64[ms]")
                  .astype(np.int64).to_numpy())
            for url, ts_, text, h, t_ms in zip(
                    pdf["url"], pdf["warc_ts"], pdf["text"],
                    pdf["_uh"], ms):
                prev = seen.get(h)
                if prev is None:
                    rows["url"].append(url)
                    rows["warc_ts"].append(ts_)
                    rows["text"].append(text)
                    seen[h] = t_ms
                elif t_ms > prev:
                    seen[h] = t_ms  # refresh: hot urls never re-emit
                if t_ms > max_ms:
                    max_ms = t_ms
        # plain-int lists: the state tuple is JSON-serialized
        state.update(([int(h) for h in seen],
                      [int(v) for v in seen.values()]))
        # group expires when the watermark passes its newest activity
        # plus the horizon (must be strictly beyond the watermark)
        state.setTimeoutTimestamp(int(max(max_ms, wm_ms + 1) + horizon_ms))
        yield pd.DataFrame(rows) if rows["url"] else _empty_out()

    return _dedup_group


def first_seen_urls(stream: DataFrame, n_groups: int = 256,
                    horizon: str = "7 days") -> DataFrame:
    """Streaming first-seen-url filter with a bounded state horizon.

    Groups by xxhash64(url) bucket so state shards evenly across
    executors (same salting policy as the batch path); each group's
    state is its seen-url-hash map, evicted past the event-time
    ``horizon`` (also the stream's watermark delay). 64-bit hash
    collisions silently drop a distinct url — acceptable for dedup at
    crawl scale (~5e-20 per pair).

    ``n_groups`` is part of the CHECKPOINTED state's key: it must stay
    constant for the lifetime of a checkpoint (a restart with a
    different value remaps every url to a new group and orphans the old
    state), so it is a fixed explicit parameter — deliberately NOT
    derived from session parallelism like the stateless batch bucketing
    is. Size it once for the target cluster (it bounds stateful task
    parallelism). Batch mode keeps the exact semantics via
    latest_snapshot/first-seen window; this operator exists for the
    incremental path where a global window is impossible."""
    horizon_ms = int(pd.Timedelta(horizon).total_seconds() * 1000)
    keyed = (stream.withWatermark("warc_ts", horizon)
             .withColumn("_uh", F.xxhash64("url"))
             .withColumn("_g", F.pmod(F.col("_uh"),
                                      F.lit(n_groups)).cast("int")))
    return (keyed.groupBy("_g")
            .applyInPandasWithState(
                _make_dedup_group(horizon_ms),
                outputStructType=_OUT_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))
