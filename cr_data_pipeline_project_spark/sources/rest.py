"""REST ingestion layer (S1-S5, /root/reference/src/api_extract.py).

The reference loops ``requests.get`` per entity with a 0.1 s sleep
(api_extract.py:56,125,200). Spark-native re-expression offers two
paths:

- :func:`fetch_small` — driver-side fetch for small id sets (the
  reference's regime: 10²-10³ entities) → ``session.local_frame``
  with an explicit schema. Simple, debuggable, rate-limit friendly.
- :func:`fetch_distributed` — ``mapInPandas`` over an id DataFrame
  for large id sets: each partition fetches its slice with its own
  rate limiter, so aggregate throughput = partitions × per-partition
  budget. This is how a 10⁸-player crawl would run on a cluster.

HTTP itself is injectable (``fetcher: id -> dict | None``) — tests
and this offline environment plug in fakes; production plugs in a
requests session. Failed ids surface as null-payload rows, mirroring
the reference's failed-player capture (api_extract.py:52-54 →
etl_pipeline_script.py:63-70) instead of aborting the run.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import local_frame

Fetcher = Callable[[str], dict | None]


class RateLimiter:
    """Token-bucket pacing — the distributed analog of the
    reference's ``time.sleep(0.1)`` between requests."""

    def __init__(self, per_second: float = 10.0):
        self.min_interval = 1.0 / per_second
        self._last = 0.0

    def wait(self) -> None:
        now = time.monotonic()
        delta = now - self._last
        if delta < self.min_interval:
            time.sleep(self.min_interval - delta)
        self._last = time.monotonic()


def fetch_small(
    spark: SparkSession,
    ids: list[str],
    fetcher: Fetcher,
    schema: T.StructType,
    rate: RateLimiter | None = None,
) -> tuple[DataFrame, list[str]]:
    """Driver-side fetch loop → (rows DataFrame, failed ids)."""
    rows, failed = [], []
    for i in ids:
        if rate:
            rate.wait()
        try:
            doc = fetcher(i)
        except Exception:
            doc = None
        if doc is None:
            failed.append(i)
        else:
            rows.append(doc)
    return local_frame(spark, rows, schema), failed


def fetch_distributed(
    id_df: DataFrame,
    id_col: str,
    fetcher: Fetcher,
    result_schema: str,
    per_partition_rate: float = 10.0,
) -> DataFrame:
    """Partition-parallel fetch. ``result_schema`` must include a
    nullable ``fetch_ok boolean`` column; rows for failed ids carry
    fetch_ok=false so downstream can route them to the blacklist."""
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    # resolved driver-side, closed over: batches where every fetch
    # failed must still carry all schema columns (as nulls)
    out_cols = [f.name for f in _parse_datatype_string(result_schema).fields]

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        rate = RateLimiter(per_partition_rate)
        for pdf in batches:
            out = []
            for i in pdf[id_col]:
                rate.wait()
                try:
                    doc = fetcher(i)
                except Exception:
                    doc = None
                if doc is None:
                    out.append({id_col: i, "fetch_ok": False})
                else:
                    out.append({**doc, id_col: i, "fetch_ok": True})
            yield pd.DataFrame(out).reindex(columns=out_cols)

    return id_df.mapInPandas(run, result_schema)
