"""Edge-semantics tests for the corpus-assembly operators (the oracle
hash parity at sf0.01 is covered by test_entry_contract)."""

from __future__ import annotations

from pyspark.sql import functions as F

from grisp_spark.operators import closure, corpus


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_survivors_longest_wins_ties_by_min_id(spark, monkeypatch):
    docs = _docs(
        spark,
        [
            (1, "a", "en", "s", 10),
            (2, "b", "en", "s", 30),
            (3, "c", "en", "s", 30),
            (9, "d", "en", "s", 5),
        ],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    # both CC regimes: driver union-find + broadcast hint, then (with
    # the threshold at 0) distributed CC without the hint
    for threshold in (closure.DRIVER_CC_THRESHOLD, 0):
        monkeypatch.setattr(closure, "DRIVER_CC_THRESHOLD", threshold)
        out = {
            r["doc_id"]: (r["component"], r["survivor_id"], r["is_survivor"])
            for r in corpus.dedup_survivors(docs, pairs).collect()
        }
        # cluster {1,2,3}: longest are 2 and 3 (30 chars), tie → min id 2
        assert out[1] == (1, 2, False)
        assert out[2] == (1, 2, True)
        assert out[3] == (1, 2, False)
        # untouched doc survives as its own singleton
        assert out[9] == (9, 9, True)


def test_pack_sequences_greedy_and_oversized(spark):
    # one shard (n_shards=1); budget 10; token counts 4, 4, 4, 12, 2
    rows = [
        (0, "w " * 3 + "w", "en", "s", 0),   # 4 tokens
        (1, "w " * 3 + "w", "en", "s", 0),   # 4 → pack 0 (8 ≤ 10)
        (2, "w " * 3 + "w", "en", "s", 0),   # 4 → pack 1 (would be 12)
        (3, "w " * 11 + "w", "en", "s", 0),  # 12 > budget → own pack 2
        (4, "w w", "en", "s", 0),            # 2 → pack 3 (12+2 > 10)
    ]
    out = corpus.pack_sequences(
        _docs(spark, rows), budget=10, n_shards=1
    ).collect()
    packs = {r["doc_id"]: r["pack_id"] for r in out}
    assert packs == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3}
    assert all(r["shard"] == 0 for r in out)


def test_pack_sequences_shards_are_independent(spark):
    rows = [(i, "w " * 5 + "w", "en", "s", 0) for i in range(8)]  # 6 tokens
    out = corpus.pack_sequences(
        _docs(spark, rows), budget=10, n_shards=4
    ).collect()
    # each shard gets docs {i, i+4}: 6+6 > 10 → packs 0 and 1
    by_doc = {r["doc_id"]: (r["shard"], r["pack_id"]) for r in out}
    for i in range(4):
        assert by_doc[i] == (i, 0)
        assert by_doc[i + 4] == (i, 1)


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    from grisp_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = corpus.stratified_sample(
        docs, rates={"en": 0.0}, default_rate=1.0, salt="s1"
    )
    langs = dict(out.groupBy("lang").count().collect())
    assert "en" not in langs  # rate 0 drops the stratum entirely
    totals = dict(docs.groupBy("lang").count().collect())
    for lang, n in totals.items():
        if lang != "en":
            assert langs[lang] == n  # rate 1 keeps everything
    # same salt → identical sample; different salt → different draw
    a = corpus.stratified_sample(docs, {}, 0.5, "s1").count()
    b = corpus.stratified_sample(docs, {}, 0.5, "s1").count()
    c = corpus.stratified_sample(docs, {}, 0.5, "s2")
    assert a == b
    assert 0 < a < docs.count()
    ids_a = {
        r["doc_id"]
        for r in corpus.stratified_sample(docs, {}, 0.5, "s1").collect()
    }
    ids_c = {r["doc_id"] for r in c.collect()}
    assert ids_a != ids_c


def test_sample_pushdown_no_shuffle(spark, sf_dir):
    """The sample filter must reach the scan side untouched — a pure
    map-side plan (the orderBy is the only exchange)."""
    from grisp_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        corpus.stratified_sample(docs, {"en": 0.5}, 0.7, "s")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly one exchange: the final global sort; no aggregate/join
    assert plan.count("Exchange") <= 2  # rangepartitioning for sort only
    assert "Join" not in plan


def test_pack_kernel_invariants_hypothesis():
    """Property: packs never exceed the budget unless a single
    oversized doc forms the pack alone; pack ids are dense and
    nondecreasing in doc order. Pure-pandas kernel, no Spark."""
    from hypothesis import given, settings, strategies as st
    import pandas as pd

    from grisp_spark.operators.corpus import _pack_one_shard

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(min_value=1, max_value=30), max_size=40),
        st.integers(min_value=1, max_value=50),
    )
    def check(tokens, budget):
        pdf = pd.DataFrame(
            {
                "shard": [0] * len(tokens),
                "doc_id": range(len(tokens)),
                "n_tokens": tokens,
            }
        )
        out = _pack_one_shard(pdf, budget)
        if not len(out):
            return
        packs = out.groupby("pack_id")["n_tokens"].agg(["sum", "count"])
        for _, row in packs.iterrows():
            assert row["sum"] <= budget or row["count"] == 1
        ids = out.sort_values("doc_id")["pack_id"].tolist()
        assert ids == sorted(ids)
        assert set(ids) == set(range(max(ids) + 1))
        # greedy: a new pack opens only because the previous one could
        # not fit the next doc
        sums = packs["sum"].tolist()
        firsts = out.sort_values("doc_id").groupby("pack_id").head(1)
        for pid, first_tok in zip(
            firsts["pack_id"].tolist(), firsts["n_tokens"].tolist()
        ):
            if pid > 0:
                assert sums[pid - 1] + first_tok > budget

    check()
