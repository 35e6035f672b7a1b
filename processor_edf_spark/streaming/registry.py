"""Streaming channel registry: append-mode get-or-create as a stateful
streaming operator (reference mode='append', timeseries/base.py:129-221).

State key is the normalized (name, type) pair — the band (±2% rate) match
resolves INSIDE the state function, because a fuzzy match can't be a shuffle
key (SURVEY.md §7.3).  Each micro-batch of incoming signal headers either
matches an existing registered channel (within the rate band) or registers
a new one; state carries the registry forward.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from processor_edf_spark.operators.channels import RATE_BAND

REGISTRY_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("name_key", T.StringType(), False),
        T.StructField("type_key", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("rate", T.DoubleType(), False),
        T.StructField("channel_id", T.StringType(), False),
        T.StructField("is_new", T.BooleanType(), False),
    ]
)

REGISTRY_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.StringType()), True),
        T.StructField("rates", T.ArrayType(T.DoubleType()), True),
    ]
)


def _make_resolve(ttl_ms: int | None):
    """Build the state function, optionally TTL-aware (see
    :func:`streaming_channel_registry`)."""

    def _resolve(
        key: Tuple[str, str],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        return _resolve_impl(key, pdfs, state, ttl_ms)

    return _resolve


def _resolve_impl(
    key: Tuple[str, str],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    ttl_ms: int | None = None,
) -> Iterator[pd.DataFrame]:
    """State function: fuzzy-match each incoming (name, rate) against the
    channels already registered under this (name_key, type_key); register
    novel rates (outside the ±2% band of every existing one)."""
    name_key, type_key = key
    if ttl_ms is not None and state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        ids, rates = state.get
        ids, rates = list(ids), list(rates)
    else:
        ids, rates = [], []

    out = {"name_key": [], "type_key": [], "name": [], "rate": [], "channel_id": [], "is_new": []}
    for pdf in pdfs:
        for name, rate in zip(pdf["name"], pdf["rate"]):
            match = None
            for cid, existing_rate in zip(ids, rates):
                if abs(1.0 - rate / existing_rate) < RATE_BAND:
                    match = cid
                    break
            is_new = match is None
            if is_new:
                match = f"{name_key}/{type_key}#{len(ids)}"
                ids.append(match)
                rates.append(float(rate))
            out["name_key"].append(name_key)
            out["type_key"].append(type_key)
            out["name"].append(name)
            out["rate"].append(float(rate))
            out["channel_id"].append(match)
            out["is_new"].append(is_new)

    state.update((ids, rates))
    if ttl_ms is not None:
        state.setTimeoutDuration(ttl_ms)
    yield pd.DataFrame(out)


def streaming_channel_registry(
    incoming: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """Apply the stateful registry to a stream (or batch) of signal headers
    with columns (name, rate, type).

    ``ttl_ms`` bounds the registry under key churn with a
    processing-time idle timeout (signal headers carry no event time):
    a (name, type) group seeing no headers for ``ttl_ms`` is evicted,
    so state tracks the channels still being written.  The reference's
    channel domain is finite so the default keeps every key forever;
    on an unbounded domain the trade mirrors ``stream_gaps``'s: an
    evicted group that reappears re-registers from channel_id ``#0``."""
    keyed = incoming.select(
        F.lower(F.trim("name")).alias("name_key"),
        F.upper(F.trim("type")).alias("type_key"),
        "name",
        "rate",
    )
    return keyed.groupBy("name_key", "type_key").applyInPandasWithState(
        _make_resolve(ttl_ms),
        outputStructType=REGISTRY_OUTPUT_SCHEMA,
        stateStructType=REGISTRY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
