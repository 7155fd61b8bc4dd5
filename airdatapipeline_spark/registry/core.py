"""Registry core: the QUERIES/ORACLES dicts and the @register decorator
every family module feeds (split out of the monolithic registry.py in r6;
behavior unchanged).
"""

from __future__ import annotations

import functools
import gc
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
ORACLES: dict[str, str] = {}
# query -> registry module basename ("text", "simsearch", ...): the seam
# tools/quick_gate.py uses to map a changed file to the parity subset it
# must re-prove (VERDICT-r11 item 8)
QUERY_MODULE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Enter `fn` in QUERIES as `name`, behind a full Python collection
    that runs before each build. A DataFrame's py4j proxy (`_jdf`) sits in
    a reference cycle with the method proxies py4j caches on it, so only
    the cyclic collector frees it, and while it lives the JVM keeps that
    query's Dataset with its executed plan and broadcast relations. A
    proxy promoted to the oldest generation before its query ends can
    otherwise outlive the query for the rest of a short session (a 10 MB
    broadcast of text_lm_perplexity_filter was still held two queries
    later). Collecting here frees what earlier queries left, so the JVM
    drops it at its next full GC; it costs about 15 ms a query. The
    module-level function stays undecorated."""

    def deco(fn: SparkQuery) -> SparkQuery:
        @functools.wraps(fn)
        def query(spark: SparkSession, sf_dir: str, *args, **kwargs) -> DataFrame:
            gc.collect()
            return fn(spark, sf_dir, *args, **kwargs)

        QUERIES[name] = query
        if oracle is not None:
            ORACLES[name] = oracle
        QUERY_MODULE[name] = fn.__module__.rsplit(".", 1)[-1]
        return fn

    return deco
