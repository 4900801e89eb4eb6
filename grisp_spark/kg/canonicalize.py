"""Canonicalization: surface-form equivalence → connected components
→ rewrite linked mentions to canonical entity ids.

grisp resolves redirects inline during extraction
(LabelSensesStep.java:288,355 via RedirectCache); we materialize the
equivalence relation once as a component map and broadcast-join it —
one tiny join instead of per-probe pointer chasing, and trivially
resumable."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grisp_spark.operators.closure import connected_components


def equivalence_edges(entities: DataFrame) -> DataFrame:
    """Redirect pairs (entity_id → redirect_to). Extend here with other
    equivalence sources (case/underscore variant surfaces resolve at
    gazetteer level already — normalize_title keys)."""
    return entities.filter(F.col("redirect_to").isNotNull()).select(
        F.col("entity_id").alias("src"), F.col("redirect_to").alias("dst")
    )


def canonical_map(entities: DataFrame) -> DataFrame:
    """(entity_id, canonical_id); identity for entities with no
    equivalence edges. Min-id convention (cycle-safe: a redirect cycle
    is one component — deviation from grisp's -1, SURVEY.md §7)."""
    comp = connected_components(equivalence_edges(entities))
    return (
        entities.select("entity_id")
        .join(comp, entities.entity_id == comp.id, "left")
        .select(
            "entity_id",
            F.coalesce("component", "entity_id").alias("canonical_id"),
        )
    )


def union_find_mapping(entity_ids, redirect_pairs) -> dict[int, int]:
    """Driver-side twin of canonical_map over ALREADY-COLLECTED rows:
    min-id union-find over the redirect pairs (the shared
    closure.union_find_pairs core — one implementation for both
    regimes), identity elsewhere. Used by linking.build_kb_broadcasts
    to derive the canonical map from the single entities collection
    it already holds."""
    from grisp_spark.operators.closure import union_find_pairs

    comp = union_find_pairs(redirect_pairs)
    return {int(e): comp.get(int(e), int(e)) for e in entity_ids}


def rewrite_linked(linked: DataFrame, canon: DataFrame) -> DataFrame:
    """Broadcast-join the canonical map onto linked mentions — the map
    is |entities|-sized (small side by construction)."""
    return (
        linked.join(F.broadcast(canon), "entity_id", "left")
        .withColumn("canonical_id", F.coalesce("canonical_id", "entity_id"))
    )
