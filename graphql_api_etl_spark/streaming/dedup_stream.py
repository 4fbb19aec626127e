"""Streaming first-seen deduplication via ``applyInPandasWithState``
(SURVEY §2.10 — the reference has no streaming).

``first_seen`` is the streaming form of exact dedup: per content hash,
emit the payload the FIRST time the hash appears and drop every later
occurrence — across micro-batches, forever. ``dropDuplicates`` on a
stream needs a watermark and forgets keys when it expires; unbounded
first-seen semantics need user state, which is exactly what the
arbitrary-state API provides.

Scale design: state is one boolean per distinct key, hash-partitioned
with the groupBy shuffle and checkpointed by the engine. Each
micro-batch touches only the keys present in that batch, Arrow-batched
per group.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

OUT_SCHEMA = "content_hash string, doc_id string"


def first_seen(stream: DataFrame) -> DataFrame:
    """Emit exactly the first (``content_hash``, ``doc_id``) row seen
    per ``content_hash``; drop all later ones. The payload is the
    first row of the first batch containing the key (within-batch
    order = arrival order in the Arrow batch)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        if state.exists:
            return
        first = None
        for pdf in pdfs:
            if len(pdf):
                first = pdf.iloc[0]
                break
        if first is None:
            return
        state.update((True,))
        yield pd.DataFrame({"content_hash": [str(key[0])], "doc_id": [str(first["doc_id"])]})

    return stream.groupBy("content_hash").applyInPandasWithState(
        fn, OUT_SCHEMA, "seen boolean", "append", GroupStateTimeout.NoTimeout
    )
