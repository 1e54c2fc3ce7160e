"""Custom stateful streaming operator: cross-batch URL dedup.

The crawl engine's seen-set (crawl/seen.py — the reference's
``filepath.exists()`` check, ``__main__.py:218-220``) re-expressed as a
Structured Streaming operator with ``applyInPandasWithState``: the stream
of discovered URLs is grouped by host, each group keeps a sorted-uint64
hash set as its GroupState (the SAME blob codec the batch seen-set
snapshots use), and only first-ever-seen rows are emitted. State lives in
the streaming state store → survives micro-batches and restarts via the
checkpoint, the streaming analogue of the engine's snapshot resume.

Scale shape: state is per-HOST (the politeness/locality key), so state
size distributes with the host distribution; a mega-host's set is one
group but stays a compact binary blob of 8 bytes/URL — the batch shards'
key arithmetic (SURVEY §4.3). It carries no Bloom filter: the state is
only ever probed exactly, by binary search over its sorted keys.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cinescrapers_spark.crawl.seen import decode_shard, encode_shard, exact_member

OUT_SCHEMA = "host string, url string, url_hash long"
STATE_SCHEMA = "data binary"


def _dedup_group(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        (blob,) = state.get
        keys, _bloom = decode_shard(bytes(blob))
    else:
        keys = np.empty(0, dtype=np.uint64)
    host = key[0]
    for pdf in pdfs:
        if not len(pdf):
            continue
        # within-batch dedup keeps the lexicographically-first raw url,
        # like init_frontier / the reference model's min(url) rule
        pdf = pdf.sort_values(["url_hash", "url"]).drop_duplicates(
            subset=["url_hash"]
        )
        h = pdf["url_hash"].to_numpy().astype(np.uint64)
        seen = exact_member(keys, h)
        fresh = pdf[~seen]
        if len(fresh):
            keys = np.union1d(keys, h[~seen])
            yield pd.DataFrame(
                {
                    "host": host,
                    "url": fresh["url"].to_numpy(),
                    "url_hash": fresh["url_hash"].to_numpy(),
                }
            )
    state.update((bytearray(encode_shard(keys, np.empty(0, dtype=np.uint8))),))


def dedup_url_stream(url_stream: DataFrame) -> DataFrame:
    """urls stream(host, url, url_hash) → first-seen rows only, state kept
    per host across micro-batches (and restarts, via the checkpoint)."""
    return url_stream.groupBy("host").applyInPandasWithState(
        _dedup_group,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
