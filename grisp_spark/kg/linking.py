"""Fused mention-detection + candidate-generation + link-scoring stage.

One Arrow-batched ``mapInPandas`` pass per conversation partition does
what grisp's map-side LMDB lookups do (PagesByTitleCache /
LabelCache / RedirectCache probed from LabelSensesStep.java:190-328):
gazetteer scan → candidate senses with anchor priors → context
centroid scoring → argmax link. Everything the stage needs is
broadcast (gazetteer dict + entity vectors) so the stage is
shuffle-free — at 1000 executors it scales linearly with input
partitions, exactly like the reference's "LMDB to avoid distributed
data" design (/root/reference/README.md:9) but with Spark broadcast
instead of local LMDB files.

Every linking path takes one route from the KB tables to the picked
spans, and this module holds each step once: the KB builder
(build_kb_broadcasts), the greedy detection loop (_detect_all over
spec.detect_mentions_pruned), the linking core (_pick_batch, every
score mode) and the turn-window emitter (emit_window_triples). The
broadcast, fused, shuffle (kg/linking_shuffle.py, over a batch-local
gazetteer slice) and streaming (streaming/stateful.py) kernels all
detect and score through them; linking_shuffle.adaptive_linker is the
one broadcast-vs-shuffle decision. Only the oracle keeps its own copy.

Scale notes (100 TB): the broadcast gazetteer is the working-set
bound (reference sizes: ~64M labels, LabelCache.java:46). A python
dict of 64M surfaces is ~10-15 GB — at that scale swap the dict for a
pyarrow hash table / marisa-trie per executor; the stage contract
(batch in → linked mentions out) is unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grisp_spark.kg import spec

LINKED_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, "
    "begin int, end int, surface string, entity_id long, score double"
)

# Executor-local memo for word vectors (deterministic → cache-safe).
_WORD_VEC_CACHE: dict[str, np.ndarray] = {}

# Executor-local first-token index cache, keyed by the BROADCAST id
# (stable and unique per broadcast). Never key by id(obj): a reused
# python worker can see a new gazetteer allocated at a freed object's
# address, and the stale index silently matches nothing.
_IDX_CACHE: dict[int, dict[str, int]] = {}


def _first_token_index(gaz: dict, cache_key: int) -> dict[str, int]:
    idx = _IDX_CACHE.get(cache_key)
    if idx is None:
        idx = spec.build_first_token_index(gaz)
        _IDX_CACHE.clear()
        _IDX_CACHE[cache_key] = idx
    return idx


def _cached_word_vec(w: str) -> np.ndarray:
    v = _WORD_VEC_CACHE.get(w)
    if v is None:
        v = spec.word_vec(w)
        if len(_WORD_VEC_CACHE) < 2_000_000:
            _WORD_VEC_CACHE[w] = v
    return v


def load_word_vectors(spark: SparkSession, vectors: DataFrame):
    """(word, vec array<float>) table → broadcast {word: np.float32
    vector} — the file-backed replacement for the md5 pseudo-vectors,
    matching the reference's quantized word2vec consumption shape
    (Word2VecCompress.java:45-96). Pass the result as ``wvec_bc`` to
    build_kb_broadcasts / link_mentions / link_and_extract /
    linking_shuffle.adaptive_linker; words missing from the table are
    OOV and skipped in context scoring."""
    pdf = vectors.toPandas()
    wv = {
        r.word: np.asarray(list(r.vec), dtype=np.float32)
        for r in pdf.itertuples(index=False)
    }
    return spark.sparkContext.broadcast(wv)


def _collect_gazetteer(kb: dict[str, DataFrame]) -> dict:
    """label_stats → {surface: ordered senses}: the gazetteer half of
    build_kb_broadcasts, the one KB builder. Surfaces of
    MAX_LABEL_CHARS or more are dropped here, as LabelCache.java:122
    drops them on load."""
    stats = (
        kb["label_stats"]
        .filter(F.length("label") < spec.MAX_LABEL_CHARS)
        .select("label", "entity_id", "link_occ", "link_doc")
        .toPandas()
    )
    gaz: dict[str, list[tuple[int, int, int]]] = {}
    for r in stats.itertuples(index=False):
        gaz.setdefault(r.label, []).append(
            (int(r.entity_id), int(r.link_occ), int(r.link_doc))
        )
    return {k: spec.order_senses(v) for k, v in gaz.items()}


def _evecs_from_ents(ents: pd.DataFrame, wvec_bc=None) -> dict:
    """(entity_id, context_vocab) pandas frame → {id: centroid vector}
    for build_kb_broadcasts. The pseudo-embedding goes
    through the kernels' word-vector memo, so repeated KB builds in
    one driver reuse it."""
    vec_fn = (
        spec.store_vec_fn(wvec_bc.value) if wvec_bc is not None else _cached_word_vec
    )
    return {
        int(r.entity_id): spec.centroid(list(r.context_vocab), vec_fn)
        for r in ents.itertuples(index=False)
    }


def build_kb_broadcasts(spark: SparkSession, kb: dict[str, DataFrame], wvec_bc=None):
    """The one KB builder: (gaz_bc, evec_bc, canon_bc) from ONE
    collection per KB table — the reference driver likewise builds all
    its LMDB caches in one pass (DumpExtractor.java:253-344). Entities
    ride to the driver once — (entity_id, context_vocab, redirect_to)
    — feeding both the vector build and a driver-side min-id
    union-find for the canonical map (the driver twin of
    canonicalize.canonical_map). Callers without a use for it ignore
    ``canon_bc``. Broadcast regime only: past BROADCAST_LABEL_LIMIT,
    linking_shuffle.adaptive_linker never calls it."""
    from concurrent.futures import ThreadPoolExecutor

    from grisp_spark.kg import canonicalize

    # redirect_to rides to the driver as STRING: a nullable long
    # column materializes in pandas as float64, and int(float) rounds
    # ids above 2^53 (the xxhash64-style ids kg06 KBs use) — the
    # string round-trip is lossless. entity_id itself is non-null and
    # stays exact int64.
    #
    # The two KB collections are independent driver jobs; submitting
    # them from two threads overlaps their scheduling + fetch latency
    # (guide §2.6) — the KB bootstrap path runs them back-to-back per
    # flagship invocation otherwise.
    def _ents_pdf():
        return kb["entities"].select(
            "entity_id",
            "context_vocab",
            F.col("redirect_to").cast("string").alias("redirect_to"),
        ).toPandas()

    with ThreadPoolExecutor(max_workers=2) as pool:
        gaz_f = pool.submit(_collect_gazetteer, kb)
        ents_f = pool.submit(_ents_pdf)
        gaz, ents = gaz_f.result(), ents_f.result()
    evecs = _evecs_from_ents(ents, wvec_bc)
    redirect_pairs = [
        (int(e), int(t))
        for e, t in zip(ents["entity_id"], ents["redirect_to"])
        if t is not None
    ]
    canon = canonicalize.union_find_mapping(ents["entity_id"], redirect_pairs)
    sc = spark.sparkContext
    return sc.broadcast(gaz), sc.broadcast(evecs), sc.broadcast(canon)


# the name the traced benchmark run still patches; same builder
build_broadcasts = build_kb_broadcasts


# Executor-local packed entity-vector matrix, keyed by the evec
# broadcast id (same rationale as _IDX_CACHE).
_EVEC_PACK_CACHE: dict[int, tuple] = {}


def _build_evec_pack(evecs: dict):
    """{entity_id: vector} → ({entity_id: row}, float64 matrix).
    Stored float64 (exact embedding of the float32 vectors) so the
    per-candidate gather feeds cosine_batch conversion-free. Trailing
    ZERO row: a sense whose entity_id has no entities row
    (referential-integrity violation in the KB) scores with the zero
    vector — spec.centroid's empty-vocab result and the shuffle path's
    left-join default — instead of KeyError-ing."""
    eids = sorted(evecs)
    rows = [evecs[e] for e in eids]
    rows.append(np.zeros(spec.EMBED_DIM, dtype=np.float64))
    return {e: i for i, e in enumerate(eids)}, np.stack(rows, dtype=np.float64)


def _evec_pack(evecs: dict, cache_key: int):
    pack = _EVEC_PACK_CACHE.get(cache_key)
    if pack is None:
        _EVEC_PACK_CACHE.clear()
        _EVEC_PACK_CACHE[cache_key] = pack = _build_evec_pack(evecs)
    return pack


# memory budget for one scoring chunk: flattened context vectors are
# COPIED by np.stack (the per-word arrays themselves are cache refs),
# so cap the copy at ~2M 32-dim rows (~512 MB stacked directly as f64)
MAX_CTX_ROWS_PER_CHUNK = 2_000_000


def _pick_batch(
    tokens_by_row, found_by_row, gaz, evecs, evec_pack, score_mode, vec_fn,
    interned=None,
):
    """The one Python linking core: candidate scoring + argmax for
    every detected span of a WHOLE batch, in every spec.SCORE_MODES
    mode. The broadcast, fused, shuffle and streaming kernels all pick
    through it; only the oracle scores independently.

    Each distinct surface gets one candidate template (eidx row,
    entity id, prior) per batch — hot surfaces repeat constantly, and
    the prior division is identical whichever mention triggers it.
    Context scores then come per mode: ``prior`` needs none;
    ``lr`` builds spec.lr_context_matrix once per mention and scores
    each candidate with spec.lr_score_from_matrix (the oracle's
    np.sum/BLAS order); ``centroid`` runs the batched
    _centroid_cosines. One spec.score_candidates_batch and one
    spec.pick_batch lexsort pick every mention's sense.
    Returns picked_by_row: per row, (begin, end, surface, entity_id,
    score) in span order."""
    if score_mode not in spec.SCORE_MODES:
        raise ValueError(f"unknown score_mode {score_mode!r} (see spec.SCORE_MODES)")
    picked_by_row: list[list] = [[] for _ in tokens_by_row]
    eidx, E = evec_pack
    zero_row = len(eidx)  # missing entity → the trailing zero row of E
    surf_tmpl: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    eidx_parts: list[np.ndarray] = []
    eid_parts: list[np.ndarray] = []
    prior_parts: list[np.ndarray] = []
    cand_counts: list[int] = []
    meta: list[tuple[int, int, int, str]] = []  # (row_i, begin, end, surface)
    for row_i, found in enumerate(found_by_row):
        for begin, end, surface in found:
            tmpl = surf_tmpl.get(surface)
            if tmpl is None:
                senses = gaz[surface]
                total = sum(s[1] for s in senses)
                tmpl = (
                    np.asarray(
                        [eidx.get(s[0], zero_row) for s in senses],
                        dtype=np.int64,
                    ),
                    np.asarray([s[0] for s in senses], dtype=np.int64),
                    np.asarray(
                        [s[1] / total if total else 0.0 for s in senses],
                        dtype=np.float64,
                    ),
                )
                surf_tmpl[surface] = tmpl
            eidx_parts.append(tmpl[0])
            eid_parts.append(tmpl[1])
            prior_parts.append(tmpl[2])
            cand_counts.append(len(tmpl[1]))
            meta.append((row_i, begin, end, surface))
    if not meta:
        return picked_by_row
    mid_a = np.repeat(
        np.arange(len(meta), dtype=np.int64),
        np.asarray(cand_counts, dtype=np.int64),
    )
    eid_a = np.concatenate(eid_parts)
    prior_a = np.concatenate(prior_parts)
    vf = vec_fn or _cached_word_vec
    if score_mode == "centroid":
        if interned is None:
            interned = _intern_tokens(tokens_by_row)
        ctx_a = _centroid_cosines(
            found_by_row, meta, mid_a, np.concatenate(eidx_parts), E, vf,
            interned,
        )
    elif score_mode == "lr":
        ctx_a = np.empty(len(eid_a), dtype=np.float64)
        c = 0
        for (row_i, begin, end, _surface), n_cand in zip(meta, cand_counts):
            tokens = tokens_by_row[row_i]
            mat = spec.lr_context_matrix(tokens[:begin] + tokens[end:], vf)
            for k in range(c, c + n_cand):
                ctx_a[k] = spec.lr_score_from_matrix(
                    mat, spec.entity_vec(evecs, int(eid_a[k]))
                )
            c += n_cand
    else:
        ctx_a = None  # prior mode scores by the anchor prior alone
    scores = spec.score_candidates_batch(prior_a, ctx_a, score_mode)
    for pos in spec.pick_batch(mid_a, eid_a, scores):
        row_i, begin, end, surface = meta[mid_a[pos]]
        picked_by_row[row_i].append(
            (begin, end, surface, int(eid_a[pos]), float(scores[pos]))
        )
    return picked_by_row


def _centroid_cosines(found_by_row, meta, mid_a, eidx_a, E, vf, interned):
    """Centroid-mode context score of every (mention, candidate) pair
    in a few numpy ops instead of 3-4 small numpy calls per mention:
    intern the batch's distinct context words into one small float64
    matrix, GATHER the per-mention context rows by integer index
    (C-speed — stacking ~1M tiny arrays was 2s/100k rows), one
    sequential segment-fold (spec.seq_segment_sums) per chunk for the
    centroids, one row-wise cosine for all pairs.
    Bit-identical to the oracle's per-row spec.centroid/cosine because
    those are single-segment wrappers of the same batch primitives,
    gathered rows are the exact float32 word vectors (float64 embedding
    is exact), and chunking is per-mention (segment math is
    unaffected). Chunks bound worker memory on long texts."""
    # one C-speed factorize over the batch (shared with detection when
    # the caller passes it in — a python dict.get per word occurrence
    # was ~0.4 s/100k rows)
    codes, uniques, offsets = interned
    # per-batch word interning: unique word → row in the vector matrix
    # (−1 = OOV under a file-backed store); the float64 conversion and
    # the vf() call run once per DISTINCT word — and only for words
    # reachable from mention-bearing rows, so a sparse-mention batch
    # doesn't vectorize its whole vocabulary (matters for file-backed
    # stores with no process-wide cache)
    act_rows = np.asarray(
        [i for i, found in enumerate(found_by_row) if found], dtype=np.int64
    )
    a_start = offsets[act_rows]
    a_len = offsets[act_rows + 1] - a_start
    a_total = int(a_len.sum())
    if a_total:
        a_pos = np.repeat(
            a_start - (np.cumsum(a_len) - a_len), a_len
        ) + np.arange(a_total, dtype=np.int64)
        used = np.unique(codes[a_pos])
    else:
        used = np.zeros(0, dtype=np.int64)
    wvecs: list[np.ndarray] = []
    umap = np.full(len(uniques), -1, dtype=np.int64)
    for j in used:
        v = vf(uniques[j])
        if v is not None:
            umap[j] = len(wvecs)
            wvecs.append(v)
    idx_flat = umap[codes]
    n_mentions = len(meta)
    # vectorized context assembly: every mention's context is two
    # slices of its row's interned-token array ([row start, mention
    # begin) and [mention end, row end)); expand all segments to flat
    # positions with repeat/arange arithmetic, gather, drop OOV (−1),
    # and keep per-mention valid counts — zero per-mention numpy calls
    # (both a python-list and a tiny-ndarray-per-mention variant of
    # this loop measured ~2 s/100k rows in small-op overhead)
    rbe = np.asarray([m[:3] for m in meta], dtype=np.int64)
    o0 = offsets[rbe[:, 0]]
    sb = np.empty((2 * n_mentions, 2), dtype=np.int64)
    sb[0::2, 0] = o0
    sb[0::2, 1] = o0 + rbe[:, 1]
    sb[1::2, 0] = o0 + rbe[:, 2]
    sb[1::2, 1] = offsets[rbe[:, 0] + 1]
    seg_lens = sb[:, 1] - sb[:, 0]
    seg_cum = np.cumsum(seg_lens)
    total_ctx = int(seg_cum[-1])
    if total_ctx:
        flat_pos = np.repeat(
            sb[:, 0] - (seg_cum - seg_lens), seg_lens
        ) + np.arange(total_ctx, dtype=np.int64)
        ctx_idx = idx_flat[flat_pos]
        valid = ctx_idx >= 0
        ctx_valid = ctx_idx[valid]
        vcum = np.concatenate(([0], np.cumsum(valid, dtype=np.int64)))
        # mention m covers segments 2m, 2m+1 → context positions
        # [seg_cum[2m]−len[2m], seg_cum[2m+1])
        ment_end_pos = seg_cum[1::2]
        ment_start_pos = ment_end_pos - seg_lens[1::2] - seg_lens[0::2]
        ctx_counts = vcum[ment_end_pos] - vcum[ment_start_pos]
    else:
        ctx_valid = np.zeros(0, dtype=np.int64)
        ctx_counts = np.zeros(n_mentions, dtype=np.int64)
    M = (
        np.stack(wvecs, dtype=np.float64)
        if wvecs
        else np.zeros((0, spec.EMBED_DIM), dtype=np.float64)
    )
    cos = np.empty(len(mid_a), dtype=np.float64)
    vstarts = np.concatenate(([0], np.cumsum(ctx_counts)))
    start = 0
    while start < n_mentions:
        # maximal chunk whose valid-context rows fit the memory bound
        # (an oversized single mention still gets its own chunk)
        end = max(
            start + 1,
            int(
                np.searchsorted(
                    vstarts,
                    vstarts[start] + MAX_CTX_ROWS_PER_CHUNK,
                    side="right",
                )
            )
            - 1,
        )
        counts_c = ctx_counts[start:end]
        rows = int(vstarts[end] - vstarts[start])
        cents = np.zeros((end - start, spec.EMBED_DIM), dtype=np.float32)
        mask = counts_c > 0
        if rows:
            W = M[ctx_valid[vstarts[start] : vstarts[end]]]
            starts_c = vstarts[start:end] - vstarts[start]
            cents[mask] = spec.centroid_batch(W, starts_c[mask], counts_c[mask])
        # candidates of this mention chunk (mid_a is nondecreasing)
        c0 = int(np.searchsorted(mid_a, start, side="left"))
        c1 = int(np.searchsorted(mid_a, end, side="left"))
        cos[c0:c1] = spec.cosine_batch(cents[mid_a[c0:c1] - start], E[eidx_a[c0:c1]])
        start = end
    return cos


def _pick_all(
    tokens_by_row, found_by_row, gaz, evecs, score_mode, vec_fn, evec_key,
    interned=None,
):
    """_pick_batch over the broadcast KB (entity-vector pack cached
    per executor by the evec broadcast id)."""
    return _pick_batch(
        tokens_by_row, found_by_row, gaz, evecs, _evec_pack(evecs, evec_key),
        score_mode, vec_fn, interned,
    )


def _intern_tokens(tokens_by_row):
    """One C-speed factorize over the batch's tokens: (codes, uniques,
    row offsets). Shared by detection (per-distinct-token prune
    lengths) and the centroid scorer (per-distinct-word vectors)."""
    flat: list[str] = []
    lengths = np.empty(len(tokens_by_row), dtype=np.int64)
    for i, t in enumerate(tokens_by_row):
        flat.extend(t)
        lengths[i] = len(t)
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    return codes, uniques, offsets


def _detect_all(tokens_by_row, gaz, idx, interned):
    """Batch detection: the first-token prune value is computed once
    per DISTINCT token (factorize + gather) instead of one .lower()
    + dict probe per occurrence; rows whose positions are all pruned
    skip the scan loop entirely. Probe semantics live in
    spec.detect_mentions_pruned (identical to spec.detect_mentions)."""
    codes, uniques, offsets = interned
    if len(uniques):
        maxln_u = np.asarray(
            [idx.get(u.lower(), 0) for u in uniques], dtype=np.int64
        )
        maxln_flat = maxln_u[codes]
    else:
        maxln_flat = np.zeros(0, dtype=np.int64)
    hit_cum = np.concatenate(
        ([0], np.cumsum(maxln_flat > 0, dtype=np.int64))
    )
    found_by_row: list[list] = []
    for r, tokens in enumerate(tokens_by_row):
        o0, o1 = offsets[r], offsets[r + 1]
        if hit_cum[o1] == hit_cum[o0]:
            found_by_row.append([])
        else:
            found_by_row.append(
                spec.detect_mentions_pruned(tokens, gaz, maxln_flat[o0:o1])
            )
    return found_by_row


def _link_rows(texts, gaz, evecs, idx, score_mode, vec_fn, evec_key):
    """Shared kernel prelude: tokenize → batch-interned detection →
    batch scoring. ``texts`` is a plain list of strings (guide §4: the
    kernels iterate bare column lists, not itertuples rows — pandas
    row tuples materialize every cell, Timestamps included, at ~1 µs
    per row·column). Returns picked_by_row."""
    tokens_by_row = [spec.tokenize(t or "") for t in texts]
    interned = _intern_tokens(tokens_by_row)
    found_by_row = _detect_all(tokens_by_row, gaz, idx, interned)
    return _pick_all(
        tokens_by_row, found_by_row, gaz, evecs, score_mode, vec_fn,
        evec_key, interned,
    )


def linked_frame(picked_by_row, pdf: pd.DataFrame) -> pd.DataFrame:
    """picked_by_row + the batch's (conv_id, turn_idx, role, tool)
    columns → one LINKED_SCHEMA frame — the output step shared by the
    broadcast and shuffle linking kernels."""
    conv_ids = pdf["conv_id"].tolist()
    turn_idxs = pdf["turn_idx"].tolist()
    roles = pdf["role"].tolist()
    tools = pdf["tool"].tolist()
    out: dict[str, list] = {
        "conv_id": [], "turn_idx": [], "role": [], "tool": [],
        "begin": [], "end": [], "surface": [], "entity_id": [],
        "score": [],
    }
    for i, picked in enumerate(picked_by_row):
        for begin, end, surface, eid, score in picked:
            out["conv_id"].append(conv_ids[i])
            out["turn_idx"].append(turn_idxs[i])
            out["role"].append(roles[i])
            out["tool"].append(tools[i])
            out["begin"].append(begin)
            out["end"].append(end)
            out["surface"].append(surface)
            out["entity_id"].append(eid)
            out["score"].append(score)
    return pd.DataFrame(out)


def _conv_layout(conv: DataFrame, n_partitions: int | None) -> DataFrame:
    """The layout both broadcast kernels run on: only the columns the
    kernel reads (guide §4 — mapInPandas is opaque to Catalyst's
    pruning, so without the select unused columns like ts cross the
    Arrow boundary on every row), repartitioned by conv_id and sorted
    by (conv_id, turn_idx) inside each partition. The session is read
    only when ``n_partitions`` is not given, so a stand-in frame that
    implements just these calls can be laid out too."""
    n_partitions = n_partitions or conv.sparkSession.sparkContext.defaultParallelism
    return conv.select(
        "conv_id", "turn_idx", "role", "tool", "text"
    ).repartition(n_partitions, "conv_id").sortWithinPartitions(
        "conv_id", "turn_idx"
    )


def link_mentions(
    conv: DataFrame,
    gaz_bc,
    evec_bc,
    n_partitions: int | None = None,
    score_mode: str = "centroid",
    wvec_bc=None,
) -> DataFrame:
    """conversations → linked mentions.

    Repartitions by conv_id with a secondary sort on turn_idx (the
    north-rule layout: each conversation contiguous and ordered inside
    a partition, mirroring grisp's one-page-per-map-call atomicity,
    LabelSensesStep.java:199-311)."""
    # driver-side stable broadcast ids, captured into the closure
    cache_key = gaz_bc._jbroadcast.id()
    evec_key = evec_bc._jbroadcast.id()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz = gaz_bc.value
        evecs = evec_bc.value
        vec_fn = spec.store_vec_fn(wvec_bc.value) if wvec_bc is not None else None
        idx = _first_token_index(gaz, cache_key)
        for pdf in batches:
            picked_by_row = _link_rows(
                pdf["text"].tolist(), gaz, evecs, idx, score_mode, vec_fn,
                evec_key,
            )
            yield linked_frame(picked_by_row, pdf)

    return _conv_layout(conv, n_partitions).mapInPandas(run, schema=LINKED_SCHEMA)


TRIPLES_SCHEMA = "conv_id string, turn_idx int, subj long, pred string, obj string"

# the window carry before a partition's or a conversation's first turn
NO_WINDOW = (None, None, frozenset())


def emit_window_triples(
    picked_by_row, conv_ids, turn_idxs, roles, tools, canon, carry
):
    """The one turn-window triple rule of the Python kernels
    (link_and_extract and the streaming processor; the staged path's
    JVM twin is triples.extract_triples, the oracle's own copy is
    oracle.run_oracle). Rows arrive turn-ordered per conversation; per
    turn t with canonical entity set E_t:

    - (e, 'mentioned_by', role) and, on tool turns,
      (e, 'used_with_tool', tool) for every e in E_t;
    - (a, 'co_occurs_with', b), a < b, over W_t = E_{t-1} ∪ E_t when
      a or b is in E_t.

    E_{t-1} is the previous row's set only when that row is turn t−1
    of the same conversation; a new conversation or a turn_idx gap
    resets the window. ``carry`` = (conv_id, turn_idx, entity set) of
    the last row seen, so the window survives Arrow-batch and
    micro-batch boundaries. Returns (TRIPLES_SCHEMA frame, carry)."""
    prev_conv, prev_turn, prev_set = carry
    # bound-method locals: the emit path appends ~3 triples per turn ×
    # 5 columns — a closure call + dict lookup per emit was ~25% of
    # kernel time in the r8 profile
    o_conv: list = []
    o_turn: list = []
    o_subj: list = []
    o_pred: list = []
    o_obj: list = []
    ap_c, ap_t, ap_s = o_conv.append, o_turn.append, o_subj.append
    ap_p, ap_o = o_pred.append, o_obj.append
    canon_get = canon.get
    for i, picked in enumerate(picked_by_row):
        cid = conv_ids[i]
        tix = turn_idxs[i]
        if cid != prev_conv or tix - 1 != prev_turn:
            prev_set = frozenset()
        cur = {canon_get(p[3], p[3]) for p in picked}
        tool = tools[i]
        if tool is not None and tool != tool:  # NaN guard
            tool = None
        role = roles[i]
        for e in sorted(cur):
            ap_c(cid), ap_t(tix), ap_s(e)
            ap_p("mentioned_by"), ap_o(role)
            if tool is not None:
                ap_c(cid), ap_t(tix), ap_s(e)
                ap_p("used_with_tool"), ap_o(tool)
        window = sorted(cur | prev_set)
        for j, a in enumerate(window):
            for b in window[j + 1 :]:
                if a in cur or b in cur:
                    ap_c(cid), ap_t(tix), ap_s(a)
                    ap_p("co_occurs_with"), ap_o(str(b))
        prev_conv, prev_turn, prev_set = cid, tix, cur
    out = pd.DataFrame(
        {"conv_id": o_conv, "turn_idx": o_turn, "subj": o_subj,
         "pred": o_pred, "obj": o_obj}
    )
    return out, (prev_conv, prev_turn, prev_set)


def link_and_extract(
    conv: DataFrame,
    gaz_bc,
    evec_bc,
    canon_bc,
    n_partitions: int | None = None,
    score_mode: str = "centroid",
    wvec_bc=None,
) -> DataFrame:
    """Fused map-side pipeline: detection + linking + canonicalization
    + per-turn-window triple extraction in ONE Arrow pass.

    The repartition(conv_id) + sortWithinPartitions(turn_idx) layout
    guarantees each conversation arrives contiguous and turn-ordered
    inside its partition, so the 2-turn window is a running carry
    (emit_window_triples) held ACROSS pandas batches of the same
    partition — no groupBy, no window shuffle, no explode. After the
    single layout shuffle, triple extraction is embarrassingly
    parallel, which is grisp's own architecture (everything map-side
    against broadcast caches, README.md:9) and the reason the job
    scales linearly at 10^12 turns.

    Semantics are identical to the staged path
    (link_mentions → canonicalize.rewrite_linked →
    triples.extract_triples); tests assert all three agree with the
    reference oracle. ``canon_bc`` broadcasts {entity_id:
    canonical_id} (build_kb_broadcasts)."""
    # driver-side stable broadcast ids, captured into the closure
    cache_key = gaz_bc._jbroadcast.id()
    evec_key = evec_bc._jbroadcast.id()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz = gaz_bc.value
        evecs = evec_bc.value
        canon = canon_bc.value
        vec_fn = spec.store_vec_fn(wvec_bc.value) if wvec_bc is not None else None
        idx = _first_token_index(gaz, cache_key)
        carry = NO_WINDOW
        for pdf in batches:
            picked_by_row = _link_rows(
                pdf["text"].tolist(), gaz, evecs, idx, score_mode, vec_fn,
                evec_key,
            )
            out, carry = emit_window_triples(
                picked_by_row, pdf["conv_id"].tolist(),
                pdf["turn_idx"].tolist(), pdf["role"].tolist(),
                pdf["tool"].tolist(), canon, carry,
            )
            yield out

    return _conv_layout(conv, n_partitions).mapInPandas(run, schema=TRIPLES_SCHEMA)

