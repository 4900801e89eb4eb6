"""Per-turn-window (subj, pred, obj) triples for the staged pipeline,
shaped like the reference's explicit triple extractor
(ProcessInfoBoxes.java:117-151: subject / property / value).

The rule is linking.emit_window_triples, the one the fused and
streaming kernels run; this stage lays linked mentions out as one row
per turn, turn-ordered per conversation. The groupBy reuses the
conv_id hash partitioning (one Exchange) and merges duplicate
(conv_id, turn_idx) rows. A turn without mentions has no row, so the
next turn's turn_idx − 1 check resets its window, as an empty set
would. The ids are already canonical (canonicalize.rewrite_linked),
so the emitter gets no canonical map."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grisp_spark.kg import linking


def extract_triples(linked: DataFrame) -> DataFrame:
    """linked mentions (conv_id, turn_idx, role, tool, canonical_id)
    → triples (conv_id, turn_idx, subj, pred, obj)."""
    turns = (
        linked.repartition("conv_id")
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.collect_set("canonical_id").alias("ents"),
            F.first("role").alias("role"),
            F.first("tool").alias("tool"),
        )
        .sortWithinPartitions("conv_id", "turn_idx")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = linking.NO_WINDOW
        for pdf in batches:
            out, carry = linking.emit_window_triples(
                (ents.tolist() for ents in pdf["ents"]),
                pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(),
                pdf["role"].tolist(), pdf["tool"].tolist(), {}, carry,
            )
            yield out

    return turns.mapInPandas(run, schema=linking.TRIPLES_SCHEMA)
