"""Shuffle-join mention linking — the oversized-gazetteer path.

``linking.link_mentions`` broadcasts the gazetteer dict, the Spark
analogue of grisp's executor-local LMDB caches (LabelCache.java:46
holds ~64M labels ≈ 10-15 GB as a python dict) — at and beyond that
scale the broadcast is the bottleneck. This module produces the SAME
linked-mention rows with the KB kept DISTRIBUTED end to end:

1. tokenize turns JVM-side (``regexp_extract_all`` on the shared
   spec.BOUNDARY_PATTERN);
2. join token positions against a DERIVED first-token index table
   (first token → max surface length, the distributed twin of
   spec.build_first_token_index) — only positions that can start a
   surface survive, so candidate inflation is bounded by real matches,
   not by MAX_LABEL_TOKENS;
3. expand candidate ngrams JVM-side (``transform``/``slice``) and
   equi-join them against the per-label sense table (sort-merge at
   scale — uniform string keys, AQE handles residual skew);
4. re-group matched spans per turn; one Arrow kernel turns the
   batch's spans into a {surface: senses} slice (plus an
   entity-vector pack) and runs the broadcast path's own detection
   (``linking._detect_all``) and scorer (``linking._pick_batch``)
   over it. The slice holds every gazetteer n-gram occurring in the
   batch (the JVM already dropped F6 apostrophe skips and over-long
   surfaces), so each probe of the greedy scan answers as the full
   gazetteer would: parity is structural, not re-implemented.

Entity context vectors are computed distributed too (mapInPandas over
the entities table) and ride the sense table as float32 arrays, so no
stage ever collects KB rows to the driver. Scale shape: two KB-sized
shuffles (index agg + sense agg, both O(|labels|)) plus corpus-side
equi-joins keyed by token/surface/turn — every join is hash-partition
colocatable; nothing is O(corpus × labels).

Reference: the stage replaces LabelSensesStep.java:190-328's
map-side LMDB probes with joins when the dictionary outgrows
executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grisp_spark.kg import linking, spec
from grisp_spark.kg.linking import LINKED_SCHEMA

# above this many labels the broadcast dict stops being the right
# plan (~1-2 GB of python dict); adaptive_linker flips to the shuffle
# path
BROADCAST_LABEL_LIMIT = 5_000_000


def _ngram_key_sql(col):
    """spec.ngram_key as a JVM expression (first char upper-cased)."""
    return F.concat(
        F.upper(F.substring(col, 1, 1)), col.substr(F.lit(2), F.length(col))
    )


def first_token_index_table(labels: DataFrame) -> DataFrame:
    """(first_tok, max_len): distributed spec.build_first_token_index."""
    return (
        labels.select(
            F.lower(F.substring_index("label", " ", 1)).alias("first_tok"),
            F.size(F.split("label", " ")).alias("ln"),
        )
        .groupBy("first_tok")
        .agg(F.max("ln").alias("max_len"))
    )


def entity_vectors_table(entities: DataFrame, wvec_bc=None) -> DataFrame:
    """(entity_id, vec float32[]) computed DISTRIBUTED — the same
    spec.centroid(context_vocab) the driver-side
    linking.build_kb_broadcasts runs, as a mapInPandas over the
    entities table."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vec_fn = spec.store_vec_fn(wvec_bc.value) if wvec_bc is not None else None
        for pdf in batches:
            vecs = [
                spec.centroid(list(vocab), vec_fn)
                for vocab in pdf["context_vocab"]
            ]
            yield pd.DataFrame({"entity_id": pdf["entity_id"], "vec": vecs})

    return entities.select("entity_id", "context_vocab").mapInPandas(
        run, schema="entity_id long, vec array<float>"
    )


def _candidate_spans(conv_tok: DataFrame, idx: DataFrame) -> DataFrame:
    """Token positions that can start a surface (join vs the index),
    expanded into candidate (begin, end, surface) ngrams JVM-side.
    The F6 apostrophe rule and the MAX_LABEL_CHARS guard apply here,
    exactly where detect_mentions applies them."""
    positions = conv_tok.select(
        "conv_id",
        "turn_idx",
        F.posexplode("tokens").alias("pos", "tok"),
    ).select(
        "conv_id", "turn_idx", "pos", F.lower("tok").alias("first_tok")
    )
    starts = (
        positions.join(idx, "first_tok")
        .groupBy("conv_id", "turn_idx")
        .agg(F.collect_list(F.struct("pos", "max_len")).alias("starts"))
    )
    with_tokens = conv_tok.join(starts, ["conv_id", "turn_idx"])
    expanded = with_tokens.select(
        "conv_id",
        "turn_idx",
        "tokens",
        F.explode("starts").alias("s"),
    ).select(
        "conv_id",
        "turn_idx",
        "tokens",
        F.col("s.pos").alias("pos"),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.col("s.max_len"),
                        F.lit(spec.MAX_LABEL_TOKENS),
                        F.size("tokens") - F.col("s.pos"),
                    ),
                ),
                lambda ln: F.struct(
                    ln.alias("ln"),
                    _ngram_key_sql(
                        F.concat_ws(
                            " ", F.slice("tokens", F.col("s.pos") + 1, ln)
                        )
                    ).alias("surface"),
                ),
            )
        ).alias("g"),
    )
    prev_tok = F.element_at("tokens", F.col("pos"))  # 1-based: pos-1 (0-based)
    this_tok = F.element_at("tokens", F.col("pos") + 1)
    # element_at index 0 is invalid in Spark — guard the pos==0 case
    # with when() so the access can never be evaluated, rather than
    # relying on And short-circuit order surviving predicate rewrites
    prev_ends_apos = F.when(
        F.col("pos") > 0, prev_tok.endswith("'")
    ).otherwise(F.lit(False))
    return expanded.select(
        "conv_id",
        "turn_idx",
        F.col("pos").alias("begin"),
        (F.col("pos") + F.col("g.ln")).alias("end"),
        F.col("g.surface").alias("surface"),
        (
            (F.col("g.ln") == 1)
            & (F.length(this_tok) == 1)
            & prev_ends_apos
        ).alias("apos_skip"),
    ).filter(~F.col("apos_skip") & (F.length("surface") < spec.MAX_LABEL_CHARS))


def link_mentions_shuffle(
    conv: DataFrame,
    kb: dict[str, DataFrame],
    n_partitions: int | None = None,
    score_mode: str = "centroid",
    wvec_bc=None,
) -> DataFrame:
    """conversations → linked mentions, KB distributed (no broadcast
    dict, no driver collect). Row-identical to
    ``linking.link_mentions`` over the same KB (parity test:
    tests/test_linking_shuffle.py)."""
    if score_mode not in spec.SCORE_MODES:
        raise ValueError(f"unknown score_mode {score_mode!r} (see spec.SCORE_MODES)")
    spark = conv.sparkSession
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism

    labels = kb["label_stats"].filter(
        F.length("label") < spec.MAX_LABEL_CHARS
    ).select("label", "entity_id", "link_occ", "link_doc")

    sense_fields = [
        F.col("entity_id"),
        F.col("link_occ"),
        F.col("link_doc"),
    ]
    if score_mode == "prior":
        senses_src = labels
        sense_struct = F.struct(*sense_fields)
    else:
        evecs = entity_vectors_table(kb["entities"], wvec_bc)
        # LEFT join: a label_stats row whose entity_id has no entities
        # row must keep its sense (the broadcast path keeps it and
        # scores it with the zero vector, spec.centroid's empty-vocab
        # result) — an inner join would silently drop it and the
        # greedy region parse would diverge between the two paths
        zero_vec = F.array_repeat(
            F.lit(0.0).cast("float"), spec.EMBED_DIM
        )
        senses_src = labels.join(evecs, "entity_id", "left").withColumn(
            "vec", F.coalesce(F.col("vec"), zero_vec)
        )
        sense_struct = F.struct(*sense_fields, F.col("vec"))
    senses = senses_src.groupBy("label").agg(
        F.collect_list(sense_struct).alias("senses")
    )

    conv_tok = conv.repartition(n_partitions, "conv_id").select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        F.regexp_extract_all(
            F.coalesce("text", F.lit("")), F.lit(spec.BOUNDARY_PATTERN), 0
        ).alias("tokens"),
    )

    cands = _candidate_spans(conv_tok, first_token_index_table(labels))
    matched = cands.join(senses, cands.surface == senses.label).select(
        "conv_id", "turn_idx", "begin", "end", "surface", "senses"
    )
    spans_per_turn = matched.groupBy("conv_id", "turn_idx").agg(
        F.collect_list(F.struct("begin", "end", "surface", "senses")).alias(
            "spans"
        )
    )
    turn_frame = conv_tok.join(spans_per_turn, ["conv_id", "turn_idx"])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vec_fn = spec.store_vec_fn(wvec_bc.value) if wvec_bc is not None else None
        for pdf in batches:
            tokens_by_row = [list(t) for t in pdf["tokens"].tolist()]
            # batch-local KB slice: the senses (and entity vectors) of
            # every surface that matched in this batch — exactly the
            # entries of the broadcast gazetteer the scan can probe
            gaz: dict[str, list] = {}
            evecs: dict[int, np.ndarray] = {}
            for spans in pdf["spans"].tolist():
                for sp in spans:
                    surface = sp["surface"]
                    if surface in gaz:
                        continue
                    gaz[surface] = [
                        (int(s["entity_id"]), int(s["link_occ"]), int(s["link_doc"]))
                        for s in sp["senses"]
                    ]
                    if score_mode != "prior":
                        for s in sp["senses"]:
                            evecs[int(s["entity_id"])] = np.asarray(
                                s["vec"], dtype=np.float32
                            )
            interned = linking._intern_tokens(tokens_by_row)
            found_by_row = linking._detect_all(
                tokens_by_row, gaz, spec.build_first_token_index(gaz), interned
            )
            picked_by_row = linking._pick_batch(
                tokens_by_row, found_by_row, gaz, evecs,
                linking._build_evec_pack(evecs), score_mode, vec_fn, interned,
            )
            yield linking.linked_frame(picked_by_row, pdf)

    return turn_frame.mapInPandas(run, schema=LINKED_SCHEMA)


def adaptive_linker(
    kb: dict[str, DataFrame],
    n_partitions: int | None = None,
    score_mode: str = "centroid",
    wvec_bc=None,
    broadcast_label_limit: int = BROADCAST_LABEL_LIMIT,
):
    """The one broadcast-vs-shuffle plan decision, made once per KB;
    returns ``conv → linked mentions``. Up to ``broadcast_label_limit``
    labels the KB is broadcast once and every call links map-side
    (linking.link_mentions); beyond, nothing is collected and every
    call takes the shuffle-join plan (LabelCache.java:46 scale)."""
    if kb["label_stats"].count() > broadcast_label_limit:
        return lambda conv: link_mentions_shuffle(
            conv, kb, n_partitions, score_mode, wvec_bc
        )
    gaz_bc, evec_bc, _canon_bc = linking.build_kb_broadcasts(
        kb["label_stats"].sparkSession, kb, wvec_bc
    )
    return lambda conv: linking.link_mentions(
        conv, gaz_bc, evec_bc, n_partitions, score_mode, wvec_bc
    )
