"""Pure-Python unit tests for the shared semantic primitives
(kg/spec.py) — the FIXTURES.md §4 edge-case list. No Spark session."""

import numpy as np

from grisp_spark.kg import spec


def gaz(*surfaces):
    return {s: [(1, 1, 1)] for s in surfaces}


def test_normalize_title():
    # util/Util.java:11-26: first char upper, _→space, strip #fragment
    assert spec.normalize_title("apache spark") == "Apache spark"
    assert spec.normalize_title("apache_spark") == "Apache spark"
    assert spec.normalize_title("Apache#History") == "Apache"
    assert spec.normalize_title("  x  ") == "X"
    assert spec.normalize_title("") == ""
    assert spec.normalize_title("#frag") == ""


def test_tokenizer_boundary_chars():
    # LabelOccurrencesStep.java:169 boundary class
    assert spec.tokenize("a{b}(c)\"d\"'e'.f,g;h:i-j_k") == list("abcdefghijk")
    assert spec.tokenize("") == []
    assert spec.tokenize("   ") == []


def test_mention_at_start_and_end():
    g = gaz("Alpha", "Omega")
    toks = ["alpha", "mid", "omega"]
    got = spec.detect_mentions(toks, g)
    assert got == [(0, 1, "Alpha"), (2, 3, "Omega")]


def test_longest_match_first_non_overlapping():
    g = gaz("Delta", "Delta lake", "Lake")
    got = spec.detect_mentions(["delta", "lake", "x", "lake"], g)
    # greedy longest at 0 consumes both tokens; second 'lake' separate
    assert got == [(0, 2, "Delta lake"), (3, 4, "Lake")]


def test_max_15_tokens():
    name = " ".join(f"w{i}" for i in range(spec.MAX_LABEL_TOKENS))
    g = gaz(spec.normalize_title(name))
    toks = name.split(" ")
    assert spec.detect_mentions(toks, g) == [(0, 15, spec.normalize_title(name))]
    # 16-token surface can never match (not probed)
    long16 = " ".join(f"w{i}" for i in range(16))
    g2 = gaz(spec.normalize_title(long16))
    assert spec.detect_mentions(long16.split(" "), g2) == []


def test_500_char_label_dropped():
    g = gaz("X" + "x" * 600)
    assert spec.detect_mentions(["X" + "x" * 600], g) == []


def test_apostrophe_single_char_rule():
    # LabelOccurrencesStep.java:189: 1-char ngram preceded by '
    g = gaz("A")
    assert spec.detect_mentions(["it'", "a"], g) == []
    assert spec.detect_mentions(["it", "a"], g) == [(1, 2, "A")]


def test_first_token_index_equivalence():
    g = gaz("Alpha", "Delta lake", "Nick 7 name", "Ambiguous term 0")
    idx = spec.build_first_token_index(g)
    toks = "we saw delta lake and ambiguous term 0 near alpha".split(" ")
    assert spec.detect_mentions(toks, g, idx) == spec.detect_mentions(toks, g)
    assert idx["delta"] == 2 and idx["ambiguous"] == 3


def test_sense_ordering_and_tiebreak():
    # DumpExtractor.java:930-944: occ desc, doc desc, id asc
    senses = [(5, 10, 2), (3, 10, 2), (9, 10, 3), (1, 4, 4)]
    assert spec.order_senses(senses) == [(9, 10, 3), (3, 10, 2), (5, 10, 2), (1, 4, 4)]


def test_pick_sense_deterministic():
    assert spec.pick_sense([(7, 0.5), (3, 0.5), (9, 0.4)]) == (3, 0.5)
    assert spec.pick_sense([]) is None


def test_word_vec_deterministic_unit():
    v1, v2 = spec.word_vec("Spark"), spec.word_vec("spark")
    assert np.allclose(v1, v2)  # case-folded
    assert abs(float(np.linalg.norm(v1)) - 1.0) < 1e-6
    assert not np.allclose(spec.word_vec("spark"), spec.word_vec("flink"))


def test_centroid_empty_and_cosine_zero():
    z = spec.centroid([])
    assert float(np.linalg.norm(z)) == 0.0
    assert spec.cosine(z, spec.word_vec("x")) == 0.0


def test_seq_segment_sums_is_left_fold():
    """The segment sum must be the exact sequential left-assoc fold —
    the association a SQL engine's ordered list_reduce reproduces.
    (np.add.reduceat is pairwise and fails this for n >= 3.)"""
    rng = np.random.default_rng(42)
    W = rng.standard_normal((500, 32))
    starts = np.array([0, 7, 7, 60, 499])
    counts = np.array([7, 0, 53, 439, 1])
    got = spec.seq_segment_sums(W, starts, counts)
    for s, (st, c) in enumerate(zip(starts, counts)):
        if c == 0:
            exp = np.zeros(32)
        else:
            exp = W[st].copy()
            for i in range(1, c):
                exp = exp + W[st + i]
        assert np.array_equal(got[s], exp), f"segment {s}"
    # single-segment fast path (np.cumsum) — same fold
    one = spec.seq_segment_sums(W, np.array([3]), np.array([200]))
    exp = W[3].copy()
    for i in range(1, 200):
        exp = exp + W[3 + i]
    assert np.array_equal(one[0], exp)


def test_word_vec_sql_replayable():
    """word_vec must be bit-reproducible from ANSI SQL (DuckDB): md5
    nibbles -> (k-7.5)/8 -> dim-sequential norm chain -> divide ->
    float32. This is the contract the flagship's DuckDB oracle rests
    on."""
    import duckdb

    con = duckdb.connect()
    hexp = "'0123456789abcdef'"
    raw = [
        f"(strpos({hexp}, substr(md5(lower(w)), {d}, 1)) - 8.5) / 8"
        for d in range(1, 33)
    ]
    norm_chain = raw[0] + "*" + raw[0]
    for t in raw[1:]:
        norm_chain = f"({norm_chain}) + ({t})*({t})"
    cols = ", ".join(
        f"CAST(({t}) / sqrt({norm_chain}) AS FLOAT) AS v{d}"
        for d, t in enumerate(raw, 1)
    )
    for word in ("server", "Spark", "QUARTZ", "x'y", "a-b_c"):
        row = con.execute(
            f"SELECT {cols} FROM (SELECT ? AS w)", [word]
        ).fetchone()
        got = spec.word_vec(word)
        assert list(got) == list(row), word


def test_seq_segment_sums_property():
    """Hypothesis: for arbitrary segment layouts (overlapping, empty,
    unsorted, duplicated), every segment sum equals the explicit
    sequential left fold — the exact association the DuckDB oracle's
    list_reduce reproduces."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(data=st.data())
    def run(data):
        n = data.draw(st.integers(1, 60))
        d = data.draw(st.integers(1, 8))
        rng = np.random.default_rng(data.draw(st.integers(0, 2**16)))
        W = rng.standard_normal((n, d))
        n_seg = data.draw(st.integers(1, 10))
        segs = []
        for _ in range(n_seg):
            start = data.draw(st.integers(0, n - 1))
            count = data.draw(st.integers(0, n - start))
            segs.append((start, count))
        starts = np.array([s for s, _ in segs])
        counts = np.array([c for _, c in segs])
        got = spec.seq_segment_sums(W, starts, counts)
        for i, (s, c) in enumerate(segs):
            if c == 0:
                assert np.array_equal(got[i], np.zeros(d))
            else:
                acc = W[s].copy()
                for j in range(1, c):
                    acc = acc + W[s + j]
                assert np.array_equal(got[i], acc), (i, s, c)

    run()


def test_entity_vectors_match_per_row_centroid(monkeypatch):
    """linking.entity_vectors (one interning, one batched fold) is
    bit-identical to per-row spec.centroid on a datagen KB, under the
    pseudo-embedding and under a file-backed store, including an empty
    vocabulary, an all-OOV one, and chunked folds (one vocabulary
    larger than a chunk)."""
    from grisp_spark.kg import datagen, linking

    ents = datagen.generate_kb(seed=7, n_entities=120)["entities"]
    oov = ["zzqx-oov-1", "zzqx-oov-2"]
    vocabs = list(ents["context_vocab"]) + [[], oov]
    words = sorted({w for v in vocabs for w in v} - set(oov))
    store = spec.store_vec_fn({w: spec.word_vec(w) for w in words[::2]})
    for vec_fn in (spec.word_vec, store):
        expected = np.stack([spec.centroid(list(v), vec_fn) for v in vocabs])
        got = linking.entity_vectors(vocabs, vec_fn)
        assert got.dtype == np.float32
        assert np.array_equal(got, expected)
        assert not got[-2].any()  # empty vocabulary
        assert got[-1].any() == (vec_fn is spec.word_vec)  # OOV under the store
        monkeypatch.setattr(linking, "MAX_CTX_ROWS_PER_CHUNK", 5)
        assert np.array_equal(linking.entity_vectors(vocabs, vec_fn), expected)
        monkeypatch.undo()
