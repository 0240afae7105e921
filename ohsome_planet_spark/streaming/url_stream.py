"""Streaming latest-wins crawl dedup per canonical URL.

The streaming twin of `operators.urls.dedup_latest_per_url` for a
continuously-ingested crawl feed: pages group by their CANONICAL url (the
same zero-UDF canonicalization expression as batch), and per key the
stateful operator maintains (latest_ts, latest_raw_url, n_captures) across
micro-batches, emitting the UPDATED winner row whenever a batch touches
the key. Ties on the second-granularity WARC timestamp break on the raw
url string — the same (ts, url) composite order as the batch `max_by`, so
stream and batch elect identical winners.

State is one tiny row per canonical url seen within the state-retention
horizon (ProcessingTimeTimeout evicts idle keys), which is what bounds it
on an unbounded feed; the periodic batch `dedup_latest_per_url` compaction
over the sink remains the global guarantee, and the two compose because
both keep the same deterministic winner.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.urls import canonical_url_col
from ..session import drop_spark_zip_finders

OUTPUT_SCHEMA = StructType([
    StructField("canonical_url", StringType()),
    StructField("latest_url", StringType()),
    StructField("latest_ts", TimestampType()),
    StructField("n_captures", LongType()),
])

STATE_SCHEMA = StructType([
    StructField("ts_us", LongType()),
    StructField("url", StringType()),
    StructField("n", LongType()),
])


def make_url_deduper(idle_timeout_ms: int = 0):
    def fn(key, pdf_iter, state: GroupState):
        drop_spark_zip_finders()
        canon = key[0]
        if state.exists:
            best_us, best_url, n = state.get
        else:
            best_us, best_url, n = None, None, 0
        touched = False
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            touched = True
            ts_us = (pdf["warc_ts"].astype("int64") // 1000).tolist()
            urls = pdf["url"].tolist()
            n += len(urls)
            for t, u in zip(ts_us, urls):
                # (ts, url) composite order — identical to the batch max_by
                if best_us is None or (t, u) > (best_us, best_url):
                    best_us, best_url = t, u
        state.update((best_us, best_url, n))
        if idle_timeout_ms > 0:
            state.setTimeoutDuration(idle_timeout_ms)
        if touched:
            yield pd.DataFrame({
                "canonical_url": [canon],
                "latest_url": [best_url],
                "latest_ts": pd.to_datetime([best_us], unit="us"),
                "n_captures": [n],
            })

    return fn


def streaming_url_dedup(
    pages_stream: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    idle_timeout_ms: int = 0,
) -> DataFrame:
    """pages readStream → one UPDATED winner row per touched canonical url
    per micro-batch (output mode 'update')."""
    canon = pages_stream.select(
        canonical_url_col(F.col(url_col)).alias("canonical_url"),
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("warc_ts"),
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms > 0 else GroupStateTimeout.NoTimeout
    )
    return canon.groupBy("canonical_url").applyInPandasWithState(
        make_url_deduper(idle_timeout_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )
