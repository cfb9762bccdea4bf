"""Custom stateful streaming operator: first-writer-wins dedup.

The batch pipeline dedups by content hash with a window (A2). On a
stream, the same semantics need state across micro-batches:
`streaming_dedup` keeps, per content_hash group, a flag "already seen"
in Spark state store via ``applyInPandasWithState`` and emits only the
first row of each hash (plus a `dup_rank` for observability).

State schema: (seen_count long). GroupStateTimeout: none (hash space
is bounded by the corpus; at 10^12 scale use a TTL timeout +
fingerprint rotation — parameterized here via `state_ttl`).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUP_OUTPUT_DDL = (
    "content_hash long, doc_id string, title string, dup_rank int"
)
_STATE_DDL = "seen_count long"


def _dedup_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (content_hash,) = key
    if state.hasTimedOut:
        # TTL expiry delivers an EMPTY iterator: drop the state, emit
        # nothing (a re-seen hash later counts as new — documented TTL
        # semantics)
        state.remove()
        yield pd.DataFrame(
            {"content_hash": [], "doc_id": [], "title": [], "dup_rank": []}
        )
        return
    seen = state.get[0] if state.exists else 0
    out = {"content_hash": [], "doc_id": [], "title": [], "dup_rank": []}
    # applyInPandasWithState delivers large groups as MULTIPLE Arrow
    # chunks; concatenate before sorting so "first" means min doc_id
    # over the whole batch, not per chunk. A group is one content hash
    # — its batch rows are few, so materializing them is safe. Guard
    # the empty iterator (timed-out/empty groups): pd.concat([]) raises.
    chunks = list(pdfs)
    pdf = (
        pd.concat(chunks, ignore_index=True)
        if chunks
        else pd.DataFrame({"content_hash": [], "doc_id": [], "title": []})
    )
    if len(pdf):
        pdf = pdf.sort_values("doc_id")
    for _, row in pdf.iterrows():
        seen += 1
        if seen == 1:  # first writer wins; later rows are duplicates
            out["content_hash"].append(content_hash)
            out["doc_id"].append(row["doc_id"])
            out["title"].append(row["title"])
            out["dup_rank"].append(1)
    state.update((seen,))
    yield pd.DataFrame(out)


def streaming_dedup(
    extracted: DataFrame, state_ttl: str | None = None
) -> DataFrame:
    """Streaming first-writer-wins dedup over content_hash.

    Input: a *streaming* DataFrame with (content_hash, doc_id, title).
    Output: only the first-ever row per hash across all micro-batches.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl
        else GroupStateTimeout.NoTimeout
    )
    fn = _dedup_fn
    if state_ttl:
        # r7 (advice): ProcessingTimeTimeout was configured but no
        # duration was ever registered, so TTL expiry never fired (and
        # the expiry path would have crashed on the empty iterator —
        # both fixed in _dedup_fn)
        def fn(key, pdfs, state):  # noqa: F811 - deliberate TTL wrapper
            yield from _dedup_fn(key, pdfs, state)
            if state.exists:
                state.setTimeoutDuration(state_ttl)

    return (
        extracted.where("content_hash IS NOT NULL")
        .select("content_hash", "doc_id", "title")
        .groupBy("content_hash")
        .applyInPandasWithState(
            fn,
            outputStructType=DEDUP_OUTPUT_DDL,
            stateStructType=_STATE_DDL,
            outputMode="append",
            timeoutConf=timeout,
        )
    )

