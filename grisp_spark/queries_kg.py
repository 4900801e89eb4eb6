"""KG-construction queries over the derived transcript table, each
mirroring a grisp aggregate with a DuckDB oracle over the same
deterministic derivation (sources/testdata.DERIVE_CONVERSATIONS_SQL).

kg01  label text-statistics (A3: LabelOccurrencesStep.java:153-239)
kg02  label→sense statistics with O1 ordering (A2 + DumpExtractor.java:930-944)
kg03  isPrimary + per-sense label inversion (W1/A7: PageLabelStep.java:80-134)
kg04  co-occurrence edge extraction per turn (LabelSensesStep.java:305-310)
kg05  capped adjacency summaries (A5/O4: PageLinkSummaryStep.java:78-119)
kg06  full KG pipeline flagship over derived transcripts — HASH-
      certified: centroid scoring replayed in DuckDB via md5-nibble
      word vectors + pinned sequential folds (see spec.word_vec /
      spec.seq_segment_sums and the generated oracle below)
kg08  the flagship's linked mentions WITH scores — float-level
      certification of the centroid/cosine kernels

"Label" here is a unigram from the corpus's own vocabulary (the
self-bootstrapped gazetteer, SURVEY.md §7 stage 3); "sense" is the
role context it links into — small stand-ins with the identical
aggregation shapes."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from grisp_spark.kg.spec import BOUNDARY_PATTERN
from grisp_spark.kg.stats import occ_doc_agg
from grisp_spark.sources.testdata import DERIVE_CONVERSATIONS_SQL, derive_conversations

MIN_OCC = 10
ADJ_CAP = 5

# the tokenizer pattern as a DuckDB string literal (' doubled)
_TOKEN_PAT_SQL = BOUNDARY_PATTERN.replace("'", "''")


def _turn_tokens(conv: DataFrame) -> DataFrame:
    return conv.select(
        "conv_id",
        "turn_idx",
        "role",
        F.posexplode(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "pos", "token"
        ),
    )


def kg01_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_occ / text_doc per label over 1- and 2-grams (A3: count per
    doc then sum ≡ count + count_distinct(conv))."""
    conv = derive_conversations(spark, sf_dir)
    toks = conv.select(
        "conv_id", F.filter(F.split("text", " "), lambda t: t != "").alias("w")
    )
    # ONE explode of unigrams ++ bigrams instead of a two-branch union:
    # union branches re-evaluate the shared derive/tokenize subtree
    # once per branch (the r1 gotcha), so the concat halves the
    # pre-shuffle work; row multiset (and the aggregation) unchanged
    bigram_arr = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("w") - 2),
            lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks.select(
        "conv_id", F.explode(F.concat(F.col("w"), bigram_arr)).alias("label")
    )
    return (
        occ_doc_agg(grams, ["label"], "text_occ", "text_doc")
        .filter(F.col("text_occ") >= MIN_OCC)
        .orderBy("label")
    )


def kg02_label_senses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (label, sense) link counts with the O1 sense ordering rank
    (link_occ desc, link_doc desc, sense asc)."""
    conv = derive_conversations(spark, sf_dir)
    toks = _turn_tokens(conv)
    senses = occ_doc_agg(
        toks.select(
            F.col("token").alias("label"), F.col("role").alias("sense"), "conv_id"
        ),
        ["label", "sense"], "link_occ", "link_doc",
    )
    w = W.partitionBy("label").orderBy(
        F.col("link_occ").desc(), F.col("link_doc").desc(), F.col("sense").asc()
    )
    return (
        senses.withColumn("sense_rank", F.row_number().over(w))
        .filter(F.col("link_occ") >= MIN_OCC)
        .orderBy("label", "sense_rank")
    )


def kg03_entity_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 inversion with W1 isPrimary: per sense, its top-10 labels by
    (link_occ desc, label asc); is_primary marks labels whose top sense
    is this one."""
    conv = derive_conversations(spark, sf_dir)
    toks = _turn_tokens(conv)
    senses = toks.groupBy(F.col("token").alias("label"), F.col("role").alias("sense")).agg(
        F.count("*").alias("link_occ")
    )
    w_label = W.partitionBy("label").orderBy(
        F.col("link_occ").desc(), F.col("sense").asc()
    )
    flagged = senses.withColumn("is_primary", F.row_number().over(w_label) == 1)
    w_sense = W.partitionBy("sense").orderBy(
        F.col("link_occ").desc(), F.col("label").asc()
    )
    return (
        flagged.withColumn("rn", F.row_number().over(w_sense))
        .filter(F.col("rn") <= 10)
        .select("sense", "label", "link_occ", "is_primary", "rn")
        .orderBy("sense", "rn")
    )


def kg04_cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct directed co-occurrence edges (a < b) between long
    tokens (≥6 chars) within a turn + global support counts — the
    page-link edge build (LabelSensesStep.java:305-310, A9 distinct)."""
    conv = derive_conversations(spark, sf_dir)
    toks = _turn_tokens(conv).filter(F.length("token") >= 6)
    per_turn = toks.groupBy("conv_id", "turn_idx").agg(
        F.array_sort(F.collect_set("token")).alias("ents")
    )
    pairs = (
        per_turn.select(
            "conv_id", F.explode("ents").alias("src"), F.col("ents").alias("e2")
        )
        .select("conv_id", "src", F.explode("e2").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
    )
    return (
        occ_doc_agg(pairs, ["src", "dst"], "support", "n_convs")
        .filter(F.col("support") >= 5)
        .orderBy("src", "dst")
    )


def kg05_adjacency_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/O4: per-node sorted out-neighbor list with a deterministic
    cap + exact degree."""
    edges = kg04_cooccurrence_edges(spark, sf_dir)
    # one collect_set feeds both outputs (countDistinct alongside
    # would force a second exchange); out_adj '|'-joined so the
    # driver's canonicalizer can hash it (scalar columns only)
    return (
        edges.groupBy("src")
        .agg(F.array_sort(F.collect_set("dst")).alias("adj"))
        .select(
            "src",
            F.array_join(F.slice("adj", 1, ADJ_CAP), "|").alias("out_adj"),
            F.size("adj").cast("long").alias("degree"),
        )
        .orderBy("src")
    )


def _dense_ids(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    group_min: tuple[str, str] | None = None,
) -> DataFrame:
    """Two-phase deterministic dense ids — the 1-based global rank by
    ``order_cols`` (rows unique on the keys) computed WITHOUT an
    unpartitioned window (the VERDICT r5 scale fix: `row_number()
    OVER (ORDER BY ...)` funnels the whole table through one task).

    True distributed zipWithIndex (VERDICT r6 #2 — replaces the
    2-char-prefix grouping, whose parallelism was bounded by the
    prefix alphabet and whose per-task rows by the hottest prefix,
    Zipfian for natural-language vocabularies). Phase 1
    ``repartitionByRange(order_cols)``: partitions are range-balanced
    by Spark's sampled boundaries — every partition gets ~n/P rows no
    matter how skewed the key distribution — and ordering-consistent
    (all rows of partition i precede all rows of partition i+1 in
    ``order_cols`` order), with the partition id stamped and the frame
    persisted so every later job sees the one materialized layout
    (range boundaries are sampled per-shuffle; unpersisted, the count
    job and the ranking job could each draw different boundaries).
    Phase 2 collects the tiny per-partition count vector (P rows, the
    same driver-size class as ta09's 1-row N — this count job doubles
    as the cache materialization) and assigns
    rank-within-partition + cumulative-offset == the global
    row_number, so the DuckDB oracles keep their `row_number() OVER
    (ORDER BY ...)` replay byte-for-byte unchanged. NULL major keys
    (ADVICE r6: the prefix join silently dropped them) now survive —
    range partitioning orders them nulls-first, exactly like the old
    global row_number; note DuckDB's default is nulls-LAST, so an
    oracle over null-keyed rows would need explicit NULLS FIRST
    (today's callers have non-null keys).

    SINGLE-shuffle since late r7: the first range-balanced shape
    ranked within _pid via a row_number window, and Catalyst — unable
    to know rangepartitioning(order_cols) already clusters by _pid —
    inserted a second full exchange (hashpartitioning(_pid)) plus a
    sort for it. Phase 2 is now a stateful Arrow pass over the
    persisted, locally-sorted range layout instead: a running counter
    seeded with the partition's cumulative offset (carried in the
    task closure — P entries, the same driver-size class as before).
    Ranks are identical — same total order, same offsets — so the
    DuckDB `row_number() OVER (ORDER BY ...)` oracle replay is
    untouched; the second shuffle and the window sort are gone. This
    is the narrow per-partition-state case the repo's no-Python rule
    carves out (mapInPandas, vectorized np.arange per batch — no
    per-row work), and the only DataFrame-level way to express
    zipWithIndex without re-shuffling: a window on _pid cannot reuse
    the range exchange's clustering.

    Measured (scripts/dense_id_scale_ab.py, clean 6.9-CPU-s-steal
    run, min of warm passes): sf0.1 bootstrap 0.320 s vs 0.332 for
    the window shape, synthetic 2M senses 0.655 vs 0.673, 8M 2.27 vs
    2.00 — on local[32] the shapes are near-parity because a local
    shuffle is a memory copy; the +13% at 8M is the Arrow
    serialization the rank pass pays. The shape is chosen on the
    cluster cost model, where the prices flip: the removed exchange
    is a full network+disk pass (plus sort) over a 10^8-row sense
    table on a real cluster, the Arrow pass is node-local CPU. The
    local evidence that matters is the driver workload: kg06's clean
    floor moved 5.70 → 5.195 s on the switch. The blocking
    per-partition count job (doubles as the cache materialization)
    remains, constant in corpus size. In-plan cumulative-sum offsets
    (no collect) were measured WORSE in r6 (the un-materialized base
    is read twice inside one job) and stay rejected.

    ``group_min=(group_col, min_col)`` (group_col MUST equal
    order_cols[0]) additionally emits ``min_col`` = the group's
    minimum ``out_col`` — i.e. exactly
    ``min(out_col) OVER (PARTITION BY group_col)`` — inside the SAME
    Arrow pass, removing that window's full `hashpartitioning(
    group_col)` exchange too (the same Catalyst blindness: it cannot
    know the range layout already clusters the groups). Within a
    partition the group min is the id of the group's first row
    (rows are sorted); the only correction needed is for groups that
    SPAN a range-partition boundary, and a group spans into
    partition k iff it is both partition k's first key and partition
    k-1's last key. The driver walk below resolves those spans from
    two P-row statistics (first/last key per partition and the
    last-key group's local start position) collected from the cached
    layout — the same driver-size class as the offsets. group_min
    additionally requires NON-NULL group keys: the spill statistics
    use min/max(gcol), which ignore nulls, so a null group spanning a
    boundary would be mis-fixed (rank assignment itself still
    handles nulls; today's callers have non-null keys either way)."""
    # OWNERSHIP NOTE (ADVICE r7): this persist intentionally escapes
    # the helper — the returned frame is lazy over the cached layout,
    # so unpersisting here would force recomputation (and re-sampled
    # range boundaries) in every consumer job. Callers that cache the
    # mapInPandas result themselves (the KB builders cache `ent`) may
    # release it after materializing; LRU eviction bounds the leak.
    base = (
        df.repartitionByRange(*[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    gcol, mcol = group_min if group_min is not None else (None, None)
    if gcol is not None and gcol != order_cols[0]:
        raise ValueError("group_min key must be the major order column")
    stats = {}  # pid -> (n, first_key, last_key)
    aggs = [F.count("*").alias("n")]
    if gcol is not None:
        # partition-local sort by (gcol, ...) makes min/max the
        # first/last keys of the partition. count(gcol) vs count(*)
        # rides the same agg as the NULL-key guard (ADVICE r7): the
        # spill statistics IGNORE nulls, so a null group spanning a
        # range boundary would silently corrupt min values — fail
        # loudly instead (rank-only callers still handle nulls).
        aggs += [
            F.min(gcol).alias("fk"),
            F.max(gcol).alias("lk"),
            F.count(gcol).alias("nk"),
        ]
    for r in base.groupBy("_pid").agg(*aggs).orderBy("_pid").collect():
        if gcol is not None and int(r["nk"]) != int(r["n"]):
            raise ValueError(
                f"_dense_ids group_min requires non-null {gcol!r} keys: "
                f"partition {r['_pid']} has {int(r['n']) - int(r['nk'])} "
                "null group keys (boundary-spill statistics ignore "
                "nulls and would mis-assign min ids)"
            )
        stats[int(r["_pid"])] = (
            int(r["n"]),
            r["fk"] if gcol is not None else None,
            r["lk"] if gcol is not None else None,
        )
    spill = {}  # pid -> (spilled-in key, its true global min id)
    if gcol is not None:
        # local start position of each partition's LAST key group =
        # rows before it = count(key < last_key); one P-row agg over
        # the cached layout
        lk_field = base.schema[gcol]
        # pandas input → Arrow conversion on the driver; the plain
        # list overload builds a PythonRDD whose tasks spawn
        # pickle-mode python workers (a fork storm serialized on the
        # SparkEnv monitor — see operators/closure.py)
        lk_df = df.sparkSession.createDataFrame(
            pd.DataFrame(
                [(p, v[2]) for p, v in stats.items() if v[0]],
                columns=["_pid", "_lk"],
            ),
            T.StructType(
                [
                    T.StructField("_pid", T.IntegerType()),
                    T.StructField("_lk", lk_field.dataType),
                ]
            ),
        )
        before_last = {
            int(r["_pid"]): int(r["bl"])
            for r in base.join(F.broadcast(lk_df), "_pid")
            .groupBy("_pid")
            .agg(
                F.sum(
                    F.when(F.col(gcol) < F.col("_lk"), 1).otherwise(0)
                ).alias("bl")
            )
            .collect()
        }
    offs, acc = {}, 0
    open_key, open_min = None, None
    for pid in sorted(stats):
        n, fk, lk = stats[pid]
        offs[pid] = acc
        if n and gcol is not None:
            if open_key is not None and fk == open_key:
                spill[pid] = (open_key, open_min)
                if lk != open_key:
                    open_key, open_min = lk, acc + before_last[pid] + 1
                # else: the whole partition is the open group — its
                # min stays where the group started
            else:
                open_key, open_min = lk, acc + before_last[pid] + 1
        acc += n
    # StructType.add MUTATES self — build a copy so the persisted
    # frame's cached schema stays intact
    fields = list(base.schema.fields) + [T.StructField(out_col, T.LongType())]
    if gcol is not None:
        fields.append(T.StructField(mcol, T.LongType()))
    schema = T.StructType(fields)

    def _assign(batches):
        # one task == one cached range partition; batches arrive in
        # the partition's stored (sorted) order, so a running counter
        # over np.arange IS the within-partition row_number
        pos = None
        fix_key = fix_min = None  # boundary-spanning group, if any
        cur_key = cur_min = None  # carry the open group across batches
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            if pos is None:
                pid = int(pdf["_pid"].iloc[0])
                pos = offs[pid]
                if pid in spill:
                    fix_key, fix_min = spill[pid]
            pdf = pdf.copy()
            eids = np.arange(pos + 1, pos + n + 1, dtype="int64")
            pdf[out_col] = eids
            if gcol is not None:
                keys = pdf[gcol].to_numpy()
                change = np.empty(n, dtype=bool)
                change[1:] = keys[1:] != keys[:-1]
                change[0] = cur_key is None or keys[0] != cur_key
                # group min = id at the group's last start position
                starts = np.where(change, np.arange(n), 0)
                np.maximum.accumulate(starts, out=starts)
                vals = np.where(change, eids, 0)
                if not change[0]:
                    vals[0] = cur_min  # group continues a prior batch
                mins = vals[starts]
                if fix_key is not None:
                    mins = np.where(keys == fix_key, fix_min, mins)
                pdf[mcol] = mins
                cur_key, cur_min = keys[-1], int(mins[-1])
            pos += n
            yield pdf

    return base.mapInPandas(_assign, schema).drop("_pid")


def _centroid_corpus_kb(spark: SparkSession, sf_dir: str):
    """The kg06/kg08 shared setup: derived transcripts + the
    self-bootstrapped centroid-mode KB (gazetteer = frequent long
    space-split tokens, entities with context_vocab = [token] so the
    entity vector is the renormalized word vector).

    Senses are per (token, role) — up to one per speaker role sharing
    the token's label — so the centroid/prior scoring genuinely
    DECIDES every pick among competing candidates (a one-sense-per-
    label KB would leave the argmax path oracle-unexercised: priors
    are 1.0 and any cosine wins). context_vocab = [token, role] also
    exercises the multi-word entity-centroid fold.

    Entity ids are dense ranks over the AGGREGATED sense table,
    assigned by the two-phase _dense_ids (partitioned window + prefix
    offsets — no single-partition funnel even at a 10^8-row
    multilingual vocabulary). xxhash64 ids were dropped because the
    DuckDB replay has no xxhash64, and dense ids are what let the
    flagship carry a hash oracle at all."""
    conv = derive_conversations(spark, sf_dir)
    toks = _turn_tokens(conv).filter(F.length("token") >= 6)
    senses = occ_doc_agg(
        toks.select("token", "role", "conv_id"), ["token", "role"], "occ", "doc"
    )
    labs = (
        senses.groupBy("token")
        .agg(F.sum("occ").alias("tot"))
        .filter(F.col("tot") >= MIN_OCC)
        .select("token")
    )
    # no cache here: _dense_ids persists its range-partitioned frame
    # internally, so the token agg runs exactly once (its count job is
    # the materialization); ent stays cached for its 2-3 consumers
    base = senses.join(labs, "token")
    ent = _dense_ids(base, ["token", "role"], "entity_id").cache()
    entities = ent.select(
        "entity_id",
        F.initcap("token").alias("canonical_name"),
        F.lit("article").alias("entity_type"),
        F.array(F.col("token"), F.col("role")).alias("context_vocab"),
        F.lit(None).cast("long").alias("redirect_to"),
        F.col("occ"),
        F.col("doc"),
    )
    label_stats = ent.select(
        F.initcap("token").alias("label"),
        "entity_id",
        F.col("occ").alias("link_occ"),
        F.col("doc").alias("link_doc"),
        F.lit(True).alias("from_title"),
        F.lit(False).alias("from_redirect"),
    )
    return conv, {"entities": entities, "label_stats": label_stats}


def kg06_triples_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full KG pipeline over derived transcripts with a
    self-bootstrapped KB: gazetteer = frequent long tokens, priors
    from corpus counts, centroid context scoring + canonicalization +
    turn-window triples. HASH-CERTIFIED against a full DuckDB replay:
    spec.word_vec's md5-nibble vectors and the pinned sequential
    summation order (spec.seq_segment_sums) make every float in the
    centroid/cosine path reproducible in SQL — see the generated
    oracle below. kg08 additionally certifies the raw linked-mention
    scores (this query's triples certify detection + linking picks +
    the turn-window extraction)."""
    from grisp_spark.kg import linking

    conv, kb = _centroid_corpus_kb(spark, sf_dir)
    gaz_bc, evec_bc, canon_bc = linking.build_kb_broadcasts(spark, kb)
    return linking.link_and_extract(conv, gaz_bc, evec_bc, canon_bc).orderBy(
        "conv_id", "turn_idx", "pred", "subj", "obj"
    )


def kg08_linked_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship's linking stage with its SCORES in the output:
    every centroid cosine + prior + argmax pick is hash-checked
    against the DuckDB replay (float-level certification of the
    context-scoring kernel, kg/linking.py::_centroid_cosines —
    triples alone would only certify the picks)."""
    from grisp_spark.kg import linking

    conv, kb = _centroid_corpus_kb(spark, sf_dir)
    gaz_bc, evec_bc, _canon_bc = linking.build_kb_broadcasts(spark, kb)
    linked = linking.link_mentions(conv, gaz_bc, evec_bc)
    return linked.select(
        "conv_id", "turn_idx", "begin", "end", "surface", "entity_id", "score"
    ).orderBy("conv_id", "turn_idx", "begin")


def kg07_triples_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline, oracle-checked end-to-end: detection →
    prior-only linking (spec score_mode='prior', pure SQL: argmax of
    occ/total with the min-entity-id tie-break) → CC canonicalization
    over surface-equivalence redirects → turn-window triples, hashed
    against a DuckDB replay. kg06 stays as the full context-scored run
    (numpy scoring isn't SQL-expressible).

    Portability choices vs kg06: the real boundary tokenizer
    (spec.BOUNDARY_PATTERN) on both engines, and dense rank entity
    ids instead of xxhash64 (DuckDB lacks xxhash64) — assigned by
    the two-phase _dense_ids, so no unpartitioned window even when
    the vocabulary×role sense table is huge. Redirect rule:
    a label's 'tool'-role sense redirects to the label's min-id
    sense — one-level star components exercising the CC machinery
    (deep chains are covered by q13/test_closure)."""
    from grisp_spark.kg import canonicalize, linking

    conv, kb = _prior_corpus_kb(spark, sf_dir)
    gaz_bc, evec_bc, canon_bc = linking.build_kb_broadcasts(spark, kb)
    return linking.link_and_extract(
        conv, gaz_bc, evec_bc, canon_bc, score_mode="prior"
    ).orderBy("conv_id", "turn_idx", "pred", "subj", "obj")


def _prior_corpus_kb(spark: SparkSession, sf_dir: str):
    """The kg07/q39 shared setup: derived transcripts + the
    self-bootstrapped prior-mode KB (dense ids, tool-role redirect
    stars) — see kg07_triples_prior for the semantics notes."""
    from grisp_spark.kg import spec

    conv = derive_conversations(spark, sf_dir)
    toks = conv.select(
        "conv_id",
        "role",
        F.explode(
            F.regexp_extract_all("text", F.lit(spec.BOUNDARY_PATTERN), 0)
        ).alias("token"),
    ).filter(F.length("token") >= 6)
    keyed = toks.withColumn(
        "label",
        F.concat(F.upper(F.substring("token", 1, 1)), F.expr("substring(token, 2)")),
    )
    senses = occ_doc_agg(keyed, ["label", "role"], "occ", "doc")
    labs = (
        senses.groupBy("label")
        .agg(F.sum("occ").alias("tot"))
        .filter(F.col("tot") >= MIN_OCC)
        .select("label")
    )
    # no cache here: _dense_ids persists its range-partitioned frame
    # internally (the count job is the materialization)
    base = senses.join(labs, "label")
    # ent cached like _centroid_corpus_kb's: it feeds entities,
    # label_stats AND (via entities) the canonical map, so without the
    # cache the ranking pass recomputes once per consumer (the kg06
    # A/B in _dense_ids' docstring measured the no-ent-cache shape
    # strictly worse). min_eid — min(entity_id) per label, the
    # redirect-star target — rides the SAME Arrow pass via group_min
    # instead of a min() window, whose hashpartitioning(label)
    # exchange re-shuffled the whole sense table Catalyst-blindly
    # (the range layout already clusters labels).
    ent = _dense_ids(
        base, ["label", "role"], "entity_id", group_min=("label", "min_eid")
    ).cache()
    entities = ent.select(
        "entity_id",
        F.col("label").alias("canonical_name"),
        F.lit("article").alias("entity_type"),
        F.array().cast("array<string>").alias("context_vocab"),
        F.when(
            (F.col("role") == "tool") & (F.col("entity_id") != F.col("min_eid")),
            F.col("min_eid"),
        ).alias("redirect_to"),
        "occ",
        "doc",
    )
    label_stats = ent.select(
        "label",
        "entity_id",
        F.col("occ").alias("link_occ"),
        F.col("doc").alias("link_doc"),
        F.lit(True).alias("from_title"),
        F.lit(False).alias("from_redirect"),
    )
    return conv, {"entities": entities, "label_stats": label_stats}


def q43_linked_centroid_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kg08's exact query through the oversized-gazetteer SHUFFLE-JOIN
    linking path (kg/linking_shuffle — KB stays distributed, no
    broadcast dict, no driver collect), checked against the SAME
    DuckDB oracle: the scale path's centroid/cosine float math is
    hash-certified end to end, closing the last (linking-plan ×
    score-mode) cell — q39 certifies the shuffle plan in prior mode,
    q42 the broadcast plan in centroid mode."""
    from grisp_spark.kg import linking_shuffle

    conv, kb = _centroid_corpus_kb(spark, sf_dir)
    linked = linking_shuffle.link_mentions_shuffle(conv, kb, score_mode="centroid")
    return linked.select(
        "conv_id", "turn_idx", "begin", "end", "surface", "entity_id", "score"
    ).orderBy("conv_id", "turn_idx", "begin")


def q39_triples_prior_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kg07's exact pipeline with the linking stage swapped to the
    oversized-gazetteer SHUFFLE-JOIN path (kg/linking_shuffle — no
    broadcast dict, no driver collect of the KB) feeding the staged
    canonicalize → extract_triples stages; checked against the SAME
    DuckDB oracle as kg07, so the distributed-KB plan is
    driver-certified end to end."""
    from grisp_spark.kg import canonicalize, linking_shuffle
    from grisp_spark.kg.triples import extract_triples

    conv, kb = _prior_corpus_kb(spark, sf_dir)
    linked = linking_shuffle.link_mentions_shuffle(conv, kb, score_mode="prior")
    canon = canonicalize.canonical_map(kb["entities"])
    trips = extract_triples(canonicalize.rewrite_linked(linked, canon))
    return trips.select("conv_id", "turn_idx", "subj", "pred", "obj").orderBy(
        "conv_id", "turn_idx", "pred", "subj", "obj"
    )


def _staged_triples(
    spark: SparkSession, sf_dir: str, tag: str, **pipeline_kwargs
) -> DataFrame:
    """Shared body of q44/q45: stage the derived corpus + bootstrap KB
    to a scratch dataset, run the resumable KGPipeline over it, return
    the flagship-shaped triples. Scratch lives under the REPO's .data
    (anchored to this module's directory, ADVICE r6 — a relative
    '.data' would scatter scratch wherever the evaluator's cwd is)."""
    import os
    import shutil

    from grisp_spark.kg.pipeline import KGPipeline

    conv, kb = _centroid_corpus_kb(spark, sf_dir)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scratch = os.path.join(
        repo_root,
        ".data",
        f"{tag}_staged_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    data_dir, out_dir = os.path.join(scratch, "in"), os.path.join(scratch, "out")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(data_dir, exist_ok=True)
    conv.write.mode("overwrite").parquet(os.path.join(data_dir, "conversations.parquet"))
    for name, df in kb.items():
        df.write.mode("overwrite").parquet(os.path.join(data_dir, f"{name}.parquet"))
    result = KGPipeline(
        spark, data_dir, out_dir, n_buckets=4, **pipeline_kwargs
    ).run(resume=False)
    return (
        result["triples"]
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .orderBy("conv_id", "turn_idx", "pred", "subj", "obj")
    )


def q44_triples_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kg06's flagship semantics run through the STAGED, resumable
    KGPipeline path (kg/pipeline.py) instead of the fused in-memory
    one, checked against kg06's existing hash oracle (VERDICT r5 #5:
    the stage-granular resume machinery was pytest-only — this turns
    its evidence into a driver row). The derived corpus + bootstrap
    KB are written to a `.data/` scratch dataset exactly as a real
    deployment would stage them, then the per-bucket Arrow linking
    stage, lineage sidecars, dynamic-partition-overwrite writes, and
    the canonicalize → extract stages all execute for real
    (resume=False: a fresh, deterministic run — resume identity
    itself is pinned by tests/test_kg_pipeline.py). Bit-equality with
    the fused path holds because linked-mention floats are
    partition-count-invariant (pinned) and the batch kernels are
    composition-independent (spec batch/row identity)."""
    return _staged_triples(spark, sf_dir, "q44")


def q46_entity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 driver row (VERDICT r6 #6): materialize.entity_edges — the
    typed, distinct entity↔entity edge table of grisp's graph
    materialization step (PageLinkSummaryStep.java:78-119 input side)
    — over the prior-mode flagship triples (kg07, the pure-SQL
    replayable KB). Previously this cell's only evidence was the
    pipeline pytest; the DuckDB oracle replays the distinct +
    type-tag over the same triple CTE."""
    from grisp_spark.kg import materialize

    trips = kg07_triples_prior(spark, sf_dir)
    return materialize.entity_edges(trips).orderBy("src", "dst")


def q45_triples_staged_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q44's staged pipeline forced into its SHUFFLE-LINKING regime
    (VERDICT r6 #4): ``broadcast_label_limit=0`` makes the adaptive
    probe in kg/pipeline.py::stage_linked choose the distributed
    kg/linking_shuffle plan for every bucket — the 64M-label regime of
    the reference (util/LabelCache.java:46), where the gazetteer is
    never collected to the driver — and the result is checked against
    the SAME flagship hash oracle as kg06/q44. Regime parity was
    previously pytest-only (test_pipeline_shuffle_regime); this makes
    it a hard driver row. Bit-equality across regimes holds because
    both linking paths score through the same spec batch kernels with
    partition-count-invariant floats."""
    return _staged_triples(spark, sf_dir, "q45", broadcast_label_limit=0)


_BASE = f"WITH conv AS ({DERIVE_CONVERSATIONS_SQL})"

_TURN_TOKENS = """
    toks AS (
        SELECT conv_id, turn_idx, role, token
        FROM (SELECT conv_id, turn_idx, role,
                     unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS token
              FROM conv)
    )
"""

ORACLES: dict[str, str] = {
    "kg01_label_stats": f"""
        {_BASE},
        w AS (SELECT conv_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
              FROM conv),
        grams AS (
            SELECT conv_id, unnest(w) AS label FROM w
            UNION ALL
            SELECT conv_id, array_to_string(w[i : i + 1], ' ') AS label
            FROM w, UNNEST(generate_series(1, len(w) - 1)) t(i)
            WHERE len(w) >= 2
        )
        SELECT label, count(*) AS text_occ, count(DISTINCT conv_id) AS text_doc
        FROM grams GROUP BY label HAVING count(*) >= {MIN_OCC} ORDER BY label
    """,
    "kg02_label_senses": f"""
        {_BASE}, {_TURN_TOKENS},
        senses AS (
            SELECT token AS label, role AS sense, count(*) AS link_occ,
                   count(DISTINCT conv_id) AS link_doc
            FROM toks GROUP BY token, role
        )
        SELECT label, sense, link_occ, link_doc,
               CAST(row_number() OVER (PARTITION BY label
                    ORDER BY link_occ DESC, link_doc DESC, sense ASC) AS INTEGER)
                 AS sense_rank
        FROM senses QUALIFY link_occ >= {MIN_OCC}
        ORDER BY label, sense_rank
    """,
    "kg03_entity_labels": f"""
        {_BASE}, {_TURN_TOKENS},
        senses AS (
            SELECT token AS label, role AS sense, count(*) AS link_occ
            FROM toks GROUP BY token, role
        ), flagged AS (
            SELECT *, (row_number() OVER (PARTITION BY label
                       ORDER BY link_occ DESC, sense ASC) = 1) AS is_primary
            FROM senses
        )
        SELECT sense, label, link_occ, is_primary,
               CAST(rn AS INTEGER) AS rn
        FROM (SELECT *, row_number() OVER (PARTITION BY sense
                        ORDER BY link_occ DESC, label ASC) AS rn
              FROM flagged)
        WHERE rn <= 10 ORDER BY sense, rn
    """,
    "kg04_cooccurrence_edges": f"""
        {_BASE}, {_TURN_TOKENS},
        per_turn AS (
            SELECT conv_id, turn_idx, list_sort(list_distinct(list(token))) AS ents
            FROM toks WHERE length(token) >= 6 GROUP BY conv_id, turn_idx
        ), pairs AS (
            SELECT conv_id, a AS src, b AS dst
            FROM per_turn, UNNEST(ents) t1(a), UNNEST(ents) t2(b)
            WHERE a < b
        )
        SELECT src, dst, count(*) AS support,
               count(DISTINCT conv_id) AS n_convs
        FROM pairs GROUP BY src, dst HAVING count(*) >= 5 ORDER BY src, dst
    """,
    "kg05_adjacency_capped": f"""
        {_BASE}, {_TURN_TOKENS},
        per_turn AS (
            SELECT conv_id, turn_idx, list_sort(list_distinct(list(token))) AS ents
            FROM toks WHERE length(token) >= 6 GROUP BY conv_id, turn_idx
        ), pairs AS (
            SELECT conv_id, a AS src, b AS dst
            FROM per_turn, UNNEST(ents) t1(a), UNNEST(ents) t2(b)
            WHERE a < b
        ), edges AS (
            SELECT src, dst FROM pairs GROUP BY src, dst HAVING count(*) >= 5
        )
        SELECT src,
               array_to_string(list_sort(list_distinct(list(dst)))[1 : {ADJ_CAP}], '|')
                 AS out_adj,
               count(DISTINCT dst) AS degree
        FROM edges GROUP BY src ORDER BY src
    """,
}

ORACLES["kg07_triples_prior"] = f"""
    {_BASE},
    tok AS (
        SELECT conv_id, turn_idx, role, t.token AS token
        FROM conv, UNNEST(regexp_extract_all(text, '{_TOKEN_PAT_SQL}')) t(token)
        WHERE length(t.token) >= 6
    ),
    keyed AS (
        SELECT conv_id, turn_idx, role,
               upper(token[1]) || token[2:] AS label
        FROM tok
    ),
    senses AS (
        SELECT label, role, count(*) AS occ
        FROM keyed GROUP BY label, role
    ),
    labs AS (
        SELECT label FROM senses GROUP BY label HAVING sum(occ) >= {MIN_OCC}
    ),
    ent AS (
        SELECT label, role, occ,
               row_number() OVER (ORDER BY label, role) AS entity_id
        FROM senses JOIN labs USING (label)
    ),
    -- prior-only linking: argmax occ/total ≡ argmax occ (same positive
    -- divisor), tie-break min entity_id; canonicalization closed form:
    -- a picked 'tool' sense rewrites to the label's min-id sense (the
    -- component min of the one-level redirect star)
    pick AS (
        SELECT label,
               CASE WHEN role = 'tool'
                    THEN min(entity_id) OVER (PARTITION BY label)
                    ELSE entity_id END AS canon_eid,
               row_number() OVER (PARTITION BY label
                                  ORDER BY occ DESC, entity_id ASC) AS rn
        FROM ent
    ),
    picked AS MATERIALIZED (SELECT label, canon_eid FROM pick WHERE rn = 1),
    matched AS (
        SELECT k.conv_id, k.turn_idx, p.canon_eid AS eid
        FROM keyed k JOIN picked p USING (label)
    ),
    turn_sets AS (
        SELECT conv_id, turn_idx, list_sort(list_distinct(list(eid))) AS cur
        FROM matched GROUP BY conv_id, turn_idx
    ),
    allt AS (
        SELECT c.conv_id, c.turn_idx, c.role, c.tool,
               coalesce(t.cur, CAST([] AS BIGINT[])) AS cur
        FROM conv c LEFT JOIN turn_sets t USING (conv_id, turn_idx)
    ),
    w AS (
        SELECT conv_id, turn_idx, role, tool, cur,
               coalesce(lag(cur) OVER (PARTITION BY conv_id ORDER BY turn_idx),
                        CAST([] AS BIGINT[])) AS prev
        FROM allt
    ),
    trip AS (
        SELECT conv_id, turn_idx, t.e AS subj, 'mentioned_by' AS pred, role AS obj
        FROM w, UNNEST(cur) t(e)
        UNION ALL
        SELECT conv_id, turn_idx, t.e AS subj, 'used_with_tool' AS pred, tool AS obj
        FROM w, UNNEST(cur) t(e) WHERE tool IS NOT NULL
        UNION ALL
        SELECT conv_id, turn_idx, a.e AS subj, 'co_occurs_with' AS pred,
               CAST(b.e AS VARCHAR) AS obj
        FROM w,
             UNNEST(list_sort(list_distinct(cur || prev))) a(e),
             UNNEST(list_sort(list_distinct(cur || prev))) b(e)
        WHERE a.e < b.e AND (list_contains(cur, a.e) OR list_contains(cur, b.e))
    )
    SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
           CAST(subj AS BIGINT) AS subj, pred, obj
    FROM trip ORDER BY conv_id, turn_idx, pred, subj, obj
"""

ORACLES["q39_triples_prior_shuffle"] = ORACLES["kg07_triples_prior"]


# --- centroid-mode flagship oracle (kg06 / kg08) ----------------------------
# Full SQL replay of the centroid scoring path. Reproducibility rests
# on three pinned contracts (each with its own test in test_spec):
#   1. spec.word_vec = md5-nibble vectors: dim d is
#      (strpos(hex, substr(md5(lower(w)), d, 1)) - 8.5)/8, normalized
#      by the dimension-sequential norm chain, rounded once to float32
#      (CAST AS FLOAT) — bit-identical in DuckDB and numpy.
#   2. spec.seq_segment_sums = sequential left-assoc fold per segment,
#      exactly DuckDB's list_reduce(ctx, (a,b) -> a+b).
#   3. All dot/norm chains accumulate dimension-sequentially
#      (spec.seq_dot_rows) = flat left-assoc SQL chains, the same
#      technique as ss01's oracle (queries_traindata.py).


def _wordvec_ctes(inner: str, keep: str, tokcol: str = "tok") -> str:
    """Subquery chain: ``inner`` (a SELECT providing column ``tokcol``
    + the ``keep`` passthrough columns) -> DOUBLE[] column ``vec``
    holding spec.word_vec's float32 values: one md5 per row, nibble
    list via an indexed transform, the dim-sequential norm fold, one
    float32 rounding (CAST FLOAT) widened back to DOUBLE so downstream
    folds accumulate in float64 like the numpy kernels."""
    k = f"{keep}, " if keep else ""
    return f"""(
        SELECT {k}
               list_transform(raw, x -> CAST(CAST(
                   CASE WHEN wn > 0 THEN x / wn ELSE x END
                   AS FLOAT) AS DOUBLE)) AS vec
        FROM (
            SELECT {k} raw,
                   sqrt(list_reduce(list_transform(raw, x -> x * x),
                                    (a, b) -> a + b)) AS wn
            FROM (
                SELECT {k}
                       list_transform(generate_series(1, 32),
                           d -> (strpos('0123456789abcdef',
                                        substr(h, d, 1)) - 8.5) / 8) AS raw
                FROM (SELECT {k} md5(lower({tokcol})) AS h FROM {inner})
            )
        )
    )"""


_SEQ_NORM = (
    "sqrt(list_reduce(list_transform({v}, x -> x * x), (a, b) -> a + b))"
)


def _centroid_linking_ctes() -> str:
    """Shared CTE block: corpus KB -> entity vectors -> per-turn word
    vector lists -> mention context centroids -> scored candidates ->
    picked links (mirrors _centroid_corpus_kb + link_mentions in
    centroid mode, stage for stage). Everything vector-valued is a
    DOUBLE[] list column and every accumulation is an ordered
    list_reduce left fold — the exact association of
    spec.seq_segment_sums / spec.seq_dot_rows (wide per-dim columns
    were abandoned: DuckDB inlines single-use CTEs, and 32 columns
    each embedding the md5+norm chain re-evaluated the whole vector
    build per dimension)."""
    wv_ent = _wordvec_ctes("ent0", "entity_id, label, occ")
    wv_role = _wordvec_ctes("ent0", "entity_id", tokcol="role")
    wv_tok = _wordvec_ctes("(SELECT DISTINCT tok FROM tp)", "tok")
    e_nrm = _SEQ_NORM.format(v="m")
    c_nrm = _SEQ_NORM.format(v="m")
    return f"""
    sp AS (
        SELECT conv_id, role, t.tok AS tok
        FROM conv, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) t(tok)
        WHERE length(t.tok) >= 6
    ),
    senses AS (
        SELECT tok, role, count(*) AS occ
        FROM sp GROUP BY tok, role
    ),
    labs AS (
        SELECT tok FROM senses GROUP BY tok HAVING sum(occ) >= {MIN_OCC}
    ),
    ent0 AS (
        SELECT tok, role, occ,
               CAST(row_number() OVER (ORDER BY tok, role) AS BIGINT)
                 AS entity_id,
               upper(tok[1]) || lower(tok[2:]) AS label
        FROM senses JOIN labs USING (tok)
    ),
    tot AS (SELECT label, sum(occ) AS tot FROM ent0 GROUP BY label),
    wtok AS ({wv_ent.strip()[1:-1]}),
    wrole AS ({wv_role.strip()[1:-1]}),
    evec AS (
        -- centroid([token, role]): sequential 2-vector sum (the fold
        -- v_tok + v_role), mean /2, the dim-sequential norm, one
        -- float32 rounding; nb is cosine_batch's norm of that
        -- float32 evec
        SELECT entity_id, label, occ,
               list_transform(m, x -> CAST(CAST(
                   CASE WHEN {e_nrm} > 0 THEN x / {e_nrm} ELSE x END
                   AS FLOAT) AS DOUBLE)) AS evec
        FROM (
            SELECT w.entity_id, w.label, w.occ,
                   list_transform(list_zip(w.vec, r.vec),
                                  z -> (z[1] + z[2]) / 2) AS m
            FROM wtok w JOIN wrole r USING (entity_id)
        )
    ),
    evn AS (SELECT entity_id, label, occ, evec,
                   {_SEQ_NORM.format(v="evec")} AS nb
            FROM evec),
    bt AS (
        SELECT conv_id, turn_idx, role, tool,
               regexp_extract_all(text, '{_TOKEN_PAT_SQL}') AS toks
        FROM conv
    ),
    tp AS (
        SELECT conv_id, turn_idx, g.p AS p, toks[g.p] AS tok
        FROM bt, UNNEST(generate_series(1, len(toks))) g(p)
    ),
    wv AS ({wv_tok.strip()[1:-1]}),
    tv AS (
        SELECT conv_id, turn_idx, list(vec ORDER BY p) AS vs
        FROM tp JOIN wv USING (tok) GROUP BY conv_id, turn_idx
    ),
    ment AS (
        SELECT tp.conv_id, tp.turn_idx, tp.p,
               upper(tp.tok[1]) || tp.tok[2:] AS label
        FROM tp JOIN (SELECT DISTINCT label FROM ent0) lab
          ON upper(tp.tok[1]) || tp.tok[2:] = lab.label
    ),
    mc AS (
        SELECT m.conv_id, m.turn_idx, m.p, m.label,
               list_concat(t.vs[1 : m.p - 1], t.vs[m.p + 1 : len(t.vs)]) AS ctx
        FROM ment m JOIN tv t
          ON m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
    ),
    -- context centroid: sequential vector fold over the in-order
    -- context (= the kernel's per-segment fold over the gathered
    -- rows), mean, dim-sequential norm, one float32 rounding; an
    -- empty context (cnt = 0) keeps cvec NULL -> cosine 0, the
    -- kernel's zero-centroid path
    csum AS (
        SELECT conv_id, turn_idx, p, label, len(ctx) AS cnt,
               CASE WHEN len(ctx) = 0 THEN NULL
                    ELSE list_reduce(ctx, (a, b) ->
                         list_transform(list_zip(a, b), z -> z[1] + z[2]))
               END AS s
        FROM mc
    ),
    cmean AS (
        SELECT conv_id, turn_idx, p, label, cnt,
               CASE WHEN cnt = 0 THEN NULL
                    ELSE list_transform(s, x -> x / cnt) END AS m
        FROM csum
    ),
    cent AS (
        SELECT conv_id, turn_idx, p, label, cnt,
               CASE WHEN cnt = 0 THEN NULL
                    ELSE list_transform(m, x -> CAST(CAST(
                         CASE WHEN {c_nrm} > 0 THEN x / {c_nrm} ELSE x END
                         AS FLOAT) AS DOUBLE)) END AS cvec
        FROM cmean
    ),
    cna AS (SELECT conv_id, turn_idx, p, label, cvec,
                   CASE WHEN cvec IS NULL THEN 0
                        ELSE {_SEQ_NORM.format(v="cvec")} END AS na
            FROM cent),
    scored AS (
        SELECT c.conv_id, c.turn_idx, c.p, c.label, e.entity_id,
               (0.6 * (e.occ / t.tot)) +
               (0.4 * (CASE WHEN c.na * e.nb > 0
                            THEN list_reduce(
                                     list_transform(list_zip(c.cvec, e.evec),
                                                    z -> z[1] * z[2]),
                                     (a, b) -> a + b) / (c.na * e.nb)
                            ELSE 0 END)) AS score
        FROM cna c JOIN evn e USING (label) JOIN tot t ON t.label = c.label
    ),
    picked AS (
        SELECT conv_id, turn_idx, p, label, entity_id, score,
               row_number() OVER (PARTITION BY conv_id, turn_idx, p
                                  ORDER BY score DESC, entity_id ASC) AS rn
        FROM scored
    )"""


ORACLES["kg08_linked_centroid"] = f"""
    {_BASE}, {_centroid_linking_ctes()}
    SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
           CAST(p - 1 AS INTEGER) AS "begin", CAST(p AS INTEGER) AS "end",
           label AS surface, entity_id, score
    FROM picked WHERE rn = 1
    ORDER BY conv_id, turn_idx, "begin"
"""

ORACLES["kg06_triples_flagship"] = f"""
    {_BASE}, {_centroid_linking_ctes()},
    matched AS (SELECT conv_id, turn_idx, entity_id AS eid
                FROM picked WHERE rn = 1),
    turn_sets AS (
        SELECT conv_id, turn_idx, list_sort(list_distinct(list(eid))) AS cur
        FROM matched GROUP BY conv_id, turn_idx
    ),
    allt AS (
        SELECT c.conv_id, c.turn_idx, c.role, c.tool,
               coalesce(t.cur, CAST([] AS BIGINT[])) AS cur
        FROM conv c LEFT JOIN turn_sets t USING (conv_id, turn_idx)
    ),
    w AS (
        SELECT conv_id, turn_idx, role, tool, cur,
               coalesce(lag(cur) OVER (PARTITION BY conv_id ORDER BY turn_idx),
                        CAST([] AS BIGINT[])) AS prev
        FROM allt
    ),
    trip AS (
        SELECT conv_id, turn_idx, t.e AS subj, 'mentioned_by' AS pred, role AS obj
        FROM w, UNNEST(cur) t(e)
        UNION ALL
        SELECT conv_id, turn_idx, t.e AS subj, 'used_with_tool' AS pred, tool AS obj
        FROM w, UNNEST(cur) t(e) WHERE tool IS NOT NULL
        UNION ALL
        SELECT conv_id, turn_idx, a.e AS subj, 'co_occurs_with' AS pred,
               CAST(b.e AS VARCHAR) AS obj
        FROM w,
             UNNEST(list_sort(list_distinct(cur || prev))) a(e),
             UNNEST(list_sort(list_distinct(cur || prev))) b(e)
        WHERE a.e < b.e AND (list_contains(cur, a.e) OR list_contains(cur, b.e))
    )
    SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
           CAST(subj AS BIGINT) AS subj, pred, obj
    FROM trip ORDER BY conv_id, turn_idx, pred, subj, obj
"""

QUERIES = {
    name: fn
    for name, fn in list(globals().items())
    if callable(fn) and name.startswith("kg0")
}
QUERIES["q39_triples_prior_shuffle"] = q39_triples_prior_shuffle
QUERIES["q43_linked_centroid_shuffle"] = q43_linked_centroid_shuffle
QUERIES["q44_triples_staged"] = q44_triples_staged
QUERIES["q45_triples_staged_shuffle"] = q45_triples_staged_shuffle
QUERIES["q46_entity_edges"] = q46_entity_edges
# same output contract as kg08 — the shuffle path must match the
# broadcast path bit-for-bit, so they share one oracle
ORACLES["q43_linked_centroid_shuffle"] = ORACLES["kg08_linked_centroid"]
# the staged pipeline must emit the flagship's exact triple set —
# same oracle as kg06 (fused/staged parity is also pinned by
# tests/test_kg_pipeline.py::test_fused_matches_staged_and_oracle);
# q45 is the same staged run in the forced shuffle-linking regime
ORACLES["q44_triples_staged"] = ORACLES["kg06_triples_flagship"]
ORACLES["q45_triples_staged_shuffle"] = ORACLES["kg06_triples_flagship"]

# A6 edge materialization replayed over the kg07 triple CTE
ORACLES["q46_entity_edges"] = f"""
    WITH trips AS ({ORACLES["kg07_triples_prior"]})
    SELECT DISTINCT subj AS src, CAST(obj AS BIGINT) AS dst,
           'co_occurs' AS edge_type
    FROM trips WHERE pred = 'co_occurs_with'
    ORDER BY src, dst
"""

# Driver-visible aliases: the driver's correctness gate only evaluates
# q/dd/ss/ta/mm-prefixed names (CORRECTNESS_r02 had no row for any kg*
# query), so the KG spine is registered under qNN names too. The kg*
# names stay for the local mirror / bench; the alias and the original
# are the SAME callable and SAME oracle SQL, and the local contract
# test dedupes on DRIVER_ALIASES so each oracle runs once.
DRIVER_ALIASES: dict[str, str] = {
    "q32_kg_label_stats": "kg01_label_stats",
    "q33_kg_label_senses": "kg02_label_senses",
    "q34_kg_entity_labels": "kg03_entity_labels",
    "q35_kg_cooccurrence_edges": "kg04_cooccurrence_edges",
    "q36_kg_adjacency_capped": "kg05_adjacency_capped",
    "q37_kg_triples_flagship": "kg06_triples_flagship",
    "q38_kg_triples_prior": "kg07_triples_prior",
    "q42_kg_linked_centroid": "kg08_linked_centroid",
}
for _alias, _target in DRIVER_ALIASES.items():
    QUERIES[_alias] = QUERIES[_target]
    if _target in ORACLES:
        ORACLES[_alias] = ORACLES[_target]
