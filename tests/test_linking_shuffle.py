"""Shuffle-join linking parity: the oversized-gazetteer path must be
row-identical to the broadcast path on the planted synthetic corpus
(every score mode), and its plan must contain no broadcast of the KB
when broadcasting is disabled."""

import pytest

from grisp_spark.kg import canonicalize, datagen, linking, linking_shuffle
from grisp_spark.plans import physical_plan as _plan

DATA = "/root/repo/.data/shuffle_parity"


@pytest.fixture(scope="module")
def corpus(spark):
    datagen.write_dataset(DATA, seed=11, n_convs=120)
    conv = spark.read.parquet(f"{DATA}/conversations.parquet")
    kb = {
        n: spark.read.parquet(f"{DATA}/{n}.parquet")
        for n in ("entities", "aliases", "label_stats")
    }
    return conv, kb


def _rows(df):
    return sorted(
        tuple(r) for r in df.select(
            "conv_id", "turn_idx", "role", "begin", "end", "surface",
            "entity_id", "score",
        ).collect()
    )


@pytest.mark.parametrize("score_mode", ["centroid", "prior", "lr"])
def test_shuffle_matches_broadcast(spark, corpus, score_mode):
    conv, kb = corpus
    gaz_bc, evec_bc = linking.build_broadcasts(spark, kb)
    broadcast_rows = _rows(
        linking.link_mentions(conv, gaz_bc, evec_bc, 8, score_mode)
    )
    shuffle_rows = _rows(
        linking_shuffle.link_mentions_shuffle(conv, kb, 8, score_mode)
    )
    assert broadcast_rows, "parity test needs non-empty linked output"
    assert shuffle_rows == broadcast_rows


def test_adaptive_picks_shuffle_above_threshold(spark, corpus):
    conv, kb = corpus
    small = linking_shuffle.link_mentions_adaptive(
        conv, kb, 8, "prior", broadcast_label_limit=10**9
    )
    big = linking_shuffle.link_mentions_adaptive(
        conv, kb, 8, "prior", broadcast_label_limit=0
    )
    assert _rows(small) == _rows(big)


def _canonical_dict(entities):
    """{entity_id: canonical_id} collected from the distributed
    connected components (canonicalize.canonical_map)."""
    return {
        int(r.entity_id): int(r.canonical_id)
        for r in canonicalize.canonical_map(entities).collect()
    }


def test_fused_builder_matches_separate(spark, corpus):
    """build_kb_broadcasts (one entities collection + driver-side
    union-find) must produce the same gazetteer and vectors as
    build_broadcasts, and the same canonical map as the distributed
    canonicalize.canonical_map — including over the datagen corpus's
    2-3-hop redirect chains."""
    conv, kb = corpus
    gaz_bc, evec_bc = linking.build_broadcasts(spark, kb)
    g2, e2, c2 = linking.build_kb_broadcasts(spark, kb)
    assert g2.value == gaz_bc.value
    assert set(e2.value) == set(evec_bc.value)
    assert all((e2.value[k] == evec_bc.value[k]).all() for k in e2.value)
    assert c2.value == _canonical_dict(kb["entities"])
    assert any(k != v for k, v in c2.value.items()), (
        "corpus must exercise non-identity canonicalization"
    )


def test_adaptive_flip_actually_routes(spark, corpus, monkeypatch):
    """The threshold must really pick the implementation — a silent
    always-broadcast bug would still pass a rows-only comparison
    (VERDICT r3 #5). Record which path each call takes, and check the
    rows agree across the flip in a vector-scoring mode."""
    conv, kb = corpus
    calls: list[str] = []
    orig_bc, orig_sh = linking.link_mentions, linking_shuffle.link_mentions_shuffle
    monkeypatch.setattr(
        linking, "link_mentions",
        lambda *a, **k: calls.append("broadcast") or orig_bc(*a, **k),
    )
    monkeypatch.setattr(
        linking_shuffle, "link_mentions_shuffle",
        lambda *a, **k: calls.append("shuffle") or orig_sh(*a, **k),
    )
    below = linking_shuffle.link_mentions_adaptive(
        conv, kb, 8, "centroid", broadcast_label_limit=10**9
    )
    assert calls == ["broadcast"]
    above = linking_shuffle.link_mentions_adaptive(
        conv, kb, 8, "centroid", broadcast_label_limit=0
    )
    assert calls == ["broadcast", "shuffle"]
    assert _rows(below) == _rows(above)


@pytest.mark.parametrize("score_mode", ["centroid", "lr"])
def test_dangling_entity_parity(spark, corpus, score_mode):
    """A label_stats sense whose entity_id has no entities row must
    survive BOTH paths and score with the zero vector (spec.centroid's
    empty-vocab result) — previously the shuffle path's inner join
    silently dropped it while the broadcast path KeyError-ed
    (ADVICE r3 linking_shuffle.py:188)."""
    conv, kb = corpus
    # entity 0 is the planted hot entity (~30% of turns) — dropping it
    # from `entities` guarantees dangling senses that actually match
    ents = kb["entities"].filter("entity_id != 0")
    dirty = {**kb, "entities": ents}
    gaz_bc, evec_bc = linking.build_broadcasts(spark, dirty)
    broadcast_rows = _rows(
        linking.link_mentions(conv, gaz_bc, evec_bc, 8, score_mode)
    )
    shuffle_rows = _rows(
        linking_shuffle.link_mentions_shuffle(conv, dirty, 8, score_mode)
    )
    assert broadcast_rows, "dangling-entity test needs non-empty output"
    # the dangling senses must still be linkable (zero-vec score, not
    # dropped): entity 0 must appear if it wins any mention
    assert shuffle_rows == broadcast_rows
    # the ORACLE (intended-semantics definition) must agree as well:
    # spec.entity_vec is the one zero-vector default shared by all
    # scoring paths (ADVICE r4 — oracle previously KeyError-ed here)
    from grisp_spark.kg import oracle

    kb_pdf = {n: df.toPandas() for n, df in dirty.items()}
    ora = oracle.run_oracle(conv.toPandas(), kb_pdf, score_mode)
    oracle_rows = sorted(
        (r.conv_id, int(r.turn_idx), int(r.begin), int(r.end), r.surface,
         int(r.entity_id), float(r.score))
        for r in ora["linked"].itertuples(index=False)
    )
    spark_reduced = sorted(
        (t[0], t[1], t[3], t[4], t[5], t[6], t[7]) for t in broadcast_rows
    )
    assert spark_reduced == oracle_rows


def test_kb_broadcasts_ids_above_2_53(spark):
    """Redirect ids above 2^53: a nullable long column materializes in
    pandas as float64, and int(float) silently rounds — the canonical
    map must come back exact (ADVICE r4 linking.py:144; the string-cast
    collect is the lossless path)."""
    big = (1 << 60) + 1  # not float64-representable (rounds to 2^60)
    ents = spark.createDataFrame(
        [
            (big + 3, ["alpha"], big + 1),
            (big + 1, ["beta"], None),
            (7, ["gamma"], None),
        ],
        "entity_id long, context_vocab array<string>, redirect_to long",
    )
    stats = spark.createDataFrame(
        [("Gamma", 7, 3, 2)],
        "label string, entity_id long, link_occ long, link_doc long",
    )
    kb = {"entities": ents, "label_stats": stats}
    _g, e2, c2 = linking.build_kb_broadcasts(spark, kb)
    assert c2.value[big + 3] == big + 1
    assert c2.value[big + 1] == big + 1
    assert c2.value[7] == 7
    assert set(e2.value) == {big + 3, big + 1, 7}
    # exact agreement with the Spark-side (never-float) canonical map
    assert c2.value == _canonical_dict(ents)


def test_adaptive_flip_triples_parity(spark, corpus):
    """Both sides of the flip threshold through the FULL downstream
    pipeline: canonicalize → triples identical whichever linking plan
    the adaptive picker routes to (r3 VERDICT #5 / r4 #6 — the KB
    forced over the limit must take the shuffle path and still produce
    the same triples)."""
    from grisp_spark.kg.triples import extract_triples

    conv, kb = corpus
    canon = canonicalize.canonical_map(kb["entities"])

    def triples(limit):
        linked = linking_shuffle.link_mentions_adaptive(
            conv, kb, 8, "centroid", broadcast_label_limit=limit
        )
        return sorted(
            tuple(r)
            for r in extract_triples(canonicalize.rewrite_linked(linked, canon))
            .select("conv_id", "turn_idx", "subj", "pred", "obj")
            .collect()
        )

    below, above = triples(10**9), triples(0)
    assert below, "flip parity needs non-empty triples"
    assert below == above


def test_no_broadcast_of_kb_above_threshold(spark, corpus):
    """With auto-broadcast off (the stand-in for 'KB too big to
    broadcast'), every KB join in the shuffle path must be a shuffle
    join (SortMergeJoin/ShuffledHashJoin) — the whole point of the
    variant. The broadcast path would still do a driver toPandas; this
    one never touches the driver."""
    conv, kb = corpus
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        df = linking_shuffle.link_mentions_shuffle(conv, kb, 8, "centroid")
        plan = _plan(df)
        assert "BroadcastHashJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        # still produces the rows under the degraded-broadcast config
        assert df.count() > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_shuffle_path_feeds_staged_pipeline(spark, corpus):
    """Linked mentions from the shuffle path drive the same downstream
    canonicalize→triples stages: the triple sets agree with the
    broadcast-path fused extraction."""
    from grisp_spark.kg.triples import extract_triples

    conv, kb = corpus
    gaz_bc, evec_bc, canon_bc = linking.build_kb_broadcasts(spark, kb)
    fused = linking.link_and_extract(conv, gaz_bc, evec_bc, canon_bc, 8)

    linked = linking_shuffle.link_mentions_shuffle(conv, kb, 8)
    canon = canonicalize.canonical_map(kb["entities"])
    staged = extract_triples(
        canonicalize.rewrite_linked(linked, canon)
    ).select("conv_id", "turn_idx", "subj", "pred", "obj")

    a = sorted(tuple(r) for r in fused.collect())
    b = sorted(tuple(r) for r in staged.collect())
    assert a == b


def test_centroid_chunking_invariance(spark, corpus, monkeypatch):
    """Scoring-chunk boundaries (the worker-memory cap in
    linking._centroid_cosines) must not change a single float: chunking is
    per-mention, each mention is one contiguous segment, and
    spec.seq_segment_sums' fold is segment-local. Force pathologically
    tiny chunks and require row identity with the default."""
    conv, kb = corpus
    gaz_bc, evec_bc = linking.build_broadcasts(spark, kb)
    baseline = _rows(linking.link_mentions(conv, gaz_bc, evec_bc, 8, "centroid"))
    monkeypatch.setattr(linking, "MAX_CTX_ROWS_PER_CHUNK", 7)
    tiny = _rows(linking.link_mentions(conv, gaz_bc, evec_bc, 8, "centroid"))
    assert baseline, "invariance test needs non-empty output"
    assert tiny == baseline


def test_oracle_refuses_rounded_redirect_ids():
    """The oracle must not silently diverge on the 2^53 float boundary
    the Spark collect path was hardened against: an Int64/object frame
    canonicalizes exactly; a float64 frame that has already lost the
    id raises instead of returning a rounded neighbour."""
    import pandas as pd
    import pytest as _pytest

    from grisp_spark.kg import oracle

    big = (1 << 60) + 1
    exact = pd.DataFrame(
        {
            "entity_id": pd.array([big + 3, big + 1, 7], dtype="Int64"),
            "redirect_to": pd.array([big + 1, None, None], dtype="Int64"),
        }
    )
    canon = oracle.canonical_map({"entities": exact})
    assert canon[big + 3] == big + 1

    lossy = pd.DataFrame(
        {
            "entity_id": pd.array([big + 3, big + 1, 7], dtype="Int64"),
            "redirect_to": [float(big + 1), None, None],  # float64: rounded
        }
    )
    with _pytest.raises(ValueError, match="2\\^53"):
        oracle.canonical_map({"entities": lossy})


def test_linking_partition_count_invariance(spark, corpus):
    """Linked-mention floats must not depend on the layout partition
    count (the driver runs local[32], the mirror local[8]; a
    partition-sensitive kernel would be locally green and
    driver-red). Per-mention math is partition-independent by design
    — pin it across a 6x partitioning spread."""
    conv, kb = corpus
    gaz_bc, evec_bc = linking.build_broadcasts(spark, kb)
    a = _rows(linking.link_mentions(conv, gaz_bc, evec_bc, 3, "centroid"))
    b = _rows(linking.link_mentions(conv, gaz_bc, evec_bc, 18, "centroid"))
    assert a, "invariance test needs non-empty output"
    assert a == b
