"""Training-corpus assembly operators: near-dup survivor selection,
deterministic stratified sampling, and greedy sequence packing.

These are the steps a large-scale LLM training-data pipeline runs
AFTER candidate generation (dedup.py / similarity.py) and scoring
(textstats.py): collapse near-duplicate clusters to one kept document,
rebalance the language/domain mix, and pack documents into
context-length budgets.

Scale notes (100 TB):
- ``dedup_survivors``: the pair set is orders of magnitude smaller
  than the corpus (it comes out of a bucketed candidate generator),
  so components are computed on the pairs only
  (``operators/closure.py`` — driver union-find up to 2M edges,
  distributed large-star/small-star above), and the survivor
  window runs ONLY on documents that appear in some pair
  (left-semi); the untouched majority of the corpus never enters a
  shuffle wider than the broadcast component map.
- ``stratified_sample``: pure map-side filter on a salted md5
  threshold — no shuffle, no RNG state, deterministic across
  engines, retries, and cluster sizes; the per-stratum rate lookup
  is a literal CASE, so Catalyst folds it and pushes the scan
  columns down.
- ``pack_sequences``: the sequential pack decision is per-shard
  state, so shards are the unit of parallelism (a real pipeline
  shards by source/path; ``doc_id % n_shards`` here). One shuffle to
  co-locate a shard, then a linear pass via applyInPandas —
  identical shape to the reference's per-reducer streaming passes
  (e.g. LabelSensesStep's grouped iteration).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from grisp_spark.operators import closure


def dedup_survivors(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Collapse near-duplicate clusters to one survivor each.

    ``pairs`` is any (doc_a, doc_b) near-dup edge set (exact, MinHash,
    SimHash or embedding based). Clusters are connected components of
    the pair graph; the survivor is the longest document (``n_chars``)
    in the cluster, ties broken by smallest ``doc_id``. Documents in
    no pair survive trivially as their own singleton cluster.

    Returns (doc_id, component, survivor_id, is_survivor), one row per
    document. The reference's analogue is redirect collapse onto a
    canonical page (RedirectStep.java:60-171) — same
    edges → components → canonical-representative shape."""
    # the pair frame is typically the query's heaviest stage (e.g. the
    # n-gram Jaccard pipeline) and is read by the size probe below and
    # again by connected_components (its regime collect, plus the
    # rounds above the threshold) — persist so it computes once; safe
    # to unpersist right after because both CC paths materialize their
    # result before returning
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).persist()
    try:
        # the same threshold connected_components reads, at call time,
        # so the broadcast decision stays in step with its
        # driver-vs-distributed choice
        n = closure.DRIVER_CC_THRESHOLD
        small = edges.limit(n + 1).count() <= n
        comp = closure.connected_components(edges)
    finally:
        edges.unpersist()
    slim = docs.select("doc_id", "n_chars")
    # broadcast hint, but only in the driver-union-find regime: comp
    # reaches Spark as a stats-less createDataFrame, so without the
    # hint the anti-join below sort-merges — shuffling the ENTIRE
    # corpus to subtract a tiny id set. Above the threshold the
    # component map may no longer fit the driver (that is exactly why
    # the distributed CC path exists), so the hint must not be forced.
    comp_keyed = comp.select(F.col("id").alias("doc_id"), "component")
    if small:
        comp_keyed = F.broadcast(comp_keyed)
    dup = slim.join(comp_keyed, "doc_id")
    w = W.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    dup = dup.withColumn(
        "survivor_id", F.first("doc_id").over(w)
    ).select("doc_id", "component", "survivor_id")
    comp_ids = comp.select(F.col("id").alias("doc_id"))
    if small:
        comp_ids = F.broadcast(comp_ids)
    solo = slim.join(
        comp_ids,
        "doc_id",
        "left_anti",
    ).select(
        "doc_id",
        F.col("doc_id").alias("component"),
        F.col("doc_id").alias("survivor_id"),
    )
    return (
        dup.unionByName(solo)
        .withColumn("is_survivor", F.col("doc_id") == F.col("survivor_id"))
        .orderBy("doc_id")
    )


def _rate_threshold_hex(rate: float) -> str:
    """First-8-hex-chars threshold for a keep rate: a row is kept iff
    substr(md5, 1, 8) < this string. Hex strings of equal length
    compare like the integers they encode, in every engine. rate=1.0
    returns 'g' — lexicographically above every hex string — so a
    full-keep stratum really keeps EVERYTHING (clamping to 'ffffffff'
    would drop a doc whose bucket is exactly that, p=2^-32 per doc:
    real at billions of rows)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate >= 1.0:
        return "g"
    return format(int(rate * 16**8), "08x")


def stratified_sample(
    docs: DataFrame, rates: dict[str, float], default_rate: float, salt: str
) -> DataFrame:
    """Deterministic per-stratum downsampling for corpus mix control
    (e.g. cap the head language while keeping the tail).

    A document is kept iff the first 8 hex chars of
    md5(salt || ':' || doc_id) are lexicographically below the
    stratum's rate threshold — no RNG, so the sample is reproducible
    across engines, retries, partitionings and cluster sizes, and a
    changed ``salt`` draws an independent sample."""
    bucket = F.substring(
        F.md5(F.concat(F.lit(salt), F.lit(":"), F.col("doc_id").cast("string"))),
        1,
        8,
    )
    thresh = F.lit(_rate_threshold_hex(default_rate))
    for lang, rate in sorted(rates.items()):
        thresh = F.when(
            F.col("lang") == lang, F.lit(_rate_threshold_hex(rate))
        ).otherwise(thresh)
    return (
        docs.select("doc_id", "lang", "source", bucket.alias("bucket"))
        .filter(F.col("bucket") < thresh)
        .orderBy("doc_id")
    )


def build_training_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    min_tokens: int,
    rates: dict[str, float],
    default_rate: float,
    salt: str,
    budget: int,
    n_shards: int,
    benchmark: DataFrame | None = None,
) -> DataFrame:
    """End-to-end corpus build: near-dup survivor selection →
    [optional] benchmark decontamination → minimum token-count filter
    → deterministic stratified sampling → greedy sequence packing.
    Every stage is semi-joined on doc_id so the document payload is
    scanned once, at the end, by pack_sequences.

    ``benchmark`` plugs the evaluation-set hygiene step into the
    build: documents sharing any verbatim 8-token n-gram with it are
    dropped (dedup.decontaminate_flags — broadcast eval-set probe, a
    map-side anti-join at corpus scale).

    The length gate is an integer token count rather than the float
    quality score (textstats.quality_score) on purpose: a hard filter
    threshold on a float computed independently by two engines is a
    correctness knife-edge (a row landing within one ulp of the
    threshold flips between engines), while integer comparisons are
    exact everywhere."""
    surv = (
        dedup_survivors(docs, pairs)
        .filter(F.col("is_survivor"))
        .select("doc_id")
    )
    # the length gate is a plain filter, not a join — it rides the
    # same scan as the survivor semi-join probe side
    kept = docs.filter(
        F.size(F.split(F.col("text"), " ")) >= min_tokens
    ).join(surv, "doc_id", "left_semi")
    if benchmark is not None:
        from grisp_spark.operators.dedup import decontaminate_flags

        flagged = decontaminate_flags(docs, benchmark).select("doc_id")
        kept = kept.join(flagged, "doc_id", "left_anti")
    sampled = stratified_sample(kept, rates, default_rate, salt).select(
        "doc_id"
    )
    return pack_sequences(
        docs.join(sampled, "doc_id", "left_semi"), budget=budget,
        n_shards=n_shards,
    )


PACK_SCHEMA = "shard long, doc_id long, n_tokens long, pack_id long"


def _pack_one_shard(pdf: pd.DataFrame, budget: int) -> pd.DataFrame:
    """Greedy first-fit-sequential packing of one shard, in doc_id
    order: open a new pack whenever adding the document would exceed
    the budget (an oversized document gets a pack of its own).
    Integer arithmetic only — bit-identical to the recursive-CTE
    oracle by construction."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    packs = []
    pack_id, running = 0, 0
    for n in pdf["n_tokens"]:
        if running > 0 and running + n > budget:
            pack_id += 1
            running = 0
        packs.append(pack_id)
        running += n
    pdf["pack_id"] = packs
    return pdf[["shard", "doc_id", "n_tokens", "pack_id"]]


def pack_sequences(
    docs: DataFrame, budget: int = 100, n_shards: int = 8
) -> DataFrame:
    """Pack documents into token-budget bins (LLM context windows),
    greedily and in deterministic doc_id order within each shard.

    Token counts are whitespace counts (textstats.token_counts's
    ``n_ws_tokens`` column); the packing itself is the stateful
    sequential pass, one shard per group."""
    toks = docs.select(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("long").alias("shard"),
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return (
        toks.groupBy("shard")
        .applyInPandas(
            lambda pdf: _pack_one_shard(pdf, budget), schema=PACK_SCHEMA
        )
        .orderBy("shard", "doc_id")
    )
