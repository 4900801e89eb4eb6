"""Custom stateful streaming operator: incremental per-conversation
triple extraction with applyInPandasWithState.

The batch pipeline's 2-turn window becomes keyed streaming state: for
each conv_id, the state holds (last turn_idx, last entity set), so
triples emit incrementally as turns arrive — the Structured-Streaming
twin of the fused map-side batch path (linking.link_and_extract). Each
state group's turns go through the same kernel: the linker built by
linking._broadcast_linker (tokenize → linking._link_tokens over the
executor's cached KB view) and linking.emit_window_triples,
seeded with the group's state as the window carry — so a turn that
is not the stored turn + 1 starts a new window, exactly as in the
batch paths."""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from grisp_spark.kg import linking

STATE_SCHEMA = "last_turn int, ents array<long>"


def make_processor(gaz_bc, evec_bc, canon_bc):
    """Returns the applyInPandasWithState function closed over the
    broadcast KB structures."""
    link = linking._broadcast_linker(gaz_bc, evec_bc, "centroid", None)

    def process(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        batches = list(pdfs)
        if not batches:  # timeout-only invocation: nothing to emit
            yield pd.DataFrame(
                {"conv_id": [], "turn_idx": [], "subj": [], "pred": [], "obj": []}
            )
            return
        (conv_id,) = key
        if state.exists:
            last_turn, prev_list = state.get
            carry = (conv_id, last_turn, set(prev_list))
        else:
            carry = linking.NO_WINDOW
        rows = pd.concat(batches, ignore_index=True).sort_values("turn_idx")
        picked_by_row = link(rows["text"].tolist())
        out, (_conv, last_turn, prev_set) = linking.emit_window_triples(
            ([p[3] for p in picked] for picked in picked_by_row),
            rows["conv_id"].tolist(), rows["turn_idx"].tolist(),
            rows["role"].tolist(), rows["tool"].tolist(), canon_bc.value, carry,
        )
        state.update((last_turn, sorted(prev_set)))
        yield out

    return process


def streaming_triples(stream_conv, gaz_bc, evec_bc, canon_bc):
    """conversations stream → incremental triples stream."""
    return (
        stream_conv.groupBy("conv_id")
        .applyInPandasWithState(
            make_processor(gaz_bc, evec_bc, canon_bc),
            outputStructType=linking.TRIPLES_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            # NoTimeout keeps the drained stream quiescent (a timeout
            # conf schedules perpetual cleanup micro-batches, which
            # never lets processAllAvailable() return in tests). In a
            # 24/7 deployment use EventTimeTimeout + a watermark to
            # expire conversations idle past the lateness bound.
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
