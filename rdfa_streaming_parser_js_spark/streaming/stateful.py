"""Custom stateful streaming operator: cross-micro-batch first-seen
dedup via ``applyInPandasWithState``.

Common-Crawl dumps re-crawl URLs across snapshots; incremental ingestion
must keep only the first sighting of each url without re-reading the
triples sink.  Spark's ``dropDuplicates`` on a stream keeps unbounded
state with no expiry control; this operator owns its state explicitly:

- grouped by url-hash, per-key state = first-seen timestamp;
- a url row is emitted iff its key has no state yet (first sighting);
- processing-time timeout expires idle keys so state is bounded by the
  re-crawl horizon rather than corpus size (at 10^12 urls, unbounded
  exact state is impossible; the timeout IS the retention contract).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import (GroupState,
                                         GroupStateTimeout)

from ..worker import skip_unchanged_zip_rereads

DEDUP_OUT_SCHEMA = "url string, warc_ts timestamp, lang string"
_STATE_SCHEMA = "seen_count long"


def _make_first_seen(ttl_ms: int | None):
    def _first_seen(key: Any, pdfs: Iterator[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        if state.hasTimedOut:
            state.remove()
            return
        batches = [pdf for pdf in pdfs]
        if not batches:
            return
        df = pd.concat(batches, ignore_index=True).sort_values("warc_ts")
        (seen,) = state.get if state.exists else (0,)
        if seen == 0:
            yield df.iloc[[0]][["url", "warc_ts", "lang"]]
        state.update((seen + len(df),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
    return _first_seen


def stream_dedup_first_seen(pages: DataFrame,
                            state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming pages → first sighting of each url only.

    Grouping key is the url itself (url-hash bucketing happens in the
    shuffle); output carries (url, warc_ts, lang) of the first crawl.

    ``state_ttl_ms`` bounds state to the re-crawl horizon on a
    continuously-running deployment (ProcessingTimeTimeout).  Leave it
    None for ``Trigger.AvailableNow`` batch-drain runs: pending timeouts
    keep scheduling empty micro-batches, so an available-now query with
    timeouts never terminates.
    """
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if state_ttl_ms is not None else GroupStateTimeout.NoTimeout)
    return (pages
            .select("url", "warc_ts", "lang")
            .groupBy("url")
            .applyInPandasWithState(
                _make_first_seen(state_ttl_ms), DEDUP_OUT_SCHEMA,
                _STATE_SCHEMA, "append", timeout))
