"""Property-based test: the optimized gazetteer scan (first-token
index + greedy loop) agrees with an independent naive implementation
of the same spec on arbitrary inputs. No Spark session."""

import numpy as np
from hypothesis import given, settings, strategies as st

from grisp_spark.kg import spec

WORDS = st.lists(
    st.sampled_from(["alpha", "beta", "Gamma", "delta", "spark", "LAKE"]),
    min_size=0,
    max_size=12,
)


@given(WORDS)
@settings(max_examples=60, deadline=None)
def test_centroid_oov_skip_equals_filtered(words):
    """Vector-store OOV skipping ≡ computing the centroid over the
    filtered word list with the default generator (the parity the
    file-backed path relies on)."""
    store = {w: spec.word_vec(w) for w in words if not w.startswith("a")}
    via_store = spec.centroid(words, spec.store_vec_fn(store))
    kept = [w for w in words if w in store]
    direct = spec.centroid(kept)
    assert np.array_equal(via_store, direct)


@given(WORDS)
@settings(max_examples=60, deadline=None)
def test_lr_score_deterministic_and_oov(words):
    evec = spec.word_vec("entity")
    a = spec.lr_context_score(words, evec)
    b = spec.lr_context_score(words, evec)
    assert a == b  # bit-identical across calls (fixed summation order)
    assert a <= 0.0  # −Σ count·log1p(exp(·)) is never positive
    empty_store = spec.store_vec_fn({})
    assert spec.lr_context_score(words, evec, empty_store) == 0.0


@given(WORDS)
@settings(max_examples=60, deadline=None)
def test_score_candidate_prior_mode_ignores_context(words):
    evec = spec.word_vec("entity")
    ctx = spec.lr_context_score(words, evec)
    assert spec.score_candidate(0.25, ctx, "prior") == 0.25

TOKENS = st.sampled_from(
    ["alpha", "beta", "Gamma", "delta", "x", "a", "it'", "spark", "LAKE", "x#y"]
)


def naive_detect(tokens, gazetteer):
    """Straight transcription of the spec: at each position, longest
    normalized ngram (≤15 tokens, <500 chars) present in the
    gazetteer, apostrophe rule for 1-char tokens, non-overlapping
    greedy advance. No index, no early exits."""
    out, i, n = [], 0, len(tokens)
    while i < n:
        best = None
        for ln in range(min(spec.MAX_LABEL_TOKENS, n - i), 0, -1):
            surf = spec.ngram_key(" ".join(tokens[i : i + ln]))
            if len(surf) >= spec.MAX_LABEL_CHARS or surf not in gazetteer:
                continue
            if (
                ln == 1
                and len(tokens[i]) == 1
                and i > 0
                and tokens[i - 1].endswith("'")
            ):
                continue
            best = (i, i + ln, surf)
            break
        if best:
            out.append(best)
            i = best[1]
        else:
            i += 1
    return out


@st.composite
def case(draw):
    tokens = draw(st.lists(TOKENS, min_size=0, max_size=24))
    n_surf = draw(st.integers(0, 6))
    surfaces = set()
    for _ in range(n_surf):
        k = draw(st.integers(1, 3))
        toks = [draw(TOKENS) for _ in range(k)]
        surfaces.add(spec.normalize_title(" ".join(toks)))
    gaz = {s: [(1, 1, 1)] for s in surfaces if s}
    return tokens, gaz


@settings(max_examples=300, deadline=None)
@given(case())
def test_detect_matches_naive(tc):
    tokens, gaz = tc
    idx = spec.build_first_token_index(gaz)
    assert spec.detect_mentions(tokens, gaz, idx) == naive_detect(tokens, gaz)
    assert spec.detect_mentions(tokens, gaz) == naive_detect(tokens, gaz)


@settings(max_examples=300, deadline=None)
@given(case())
def test_detect_pruned_matches_detect(tc):
    """The batch kernel's precomputed-prune variant ≡ detect_mentions
    (and the batch wrapper in linking ≡ the per-row loop)."""
    tokens, gaz = tc
    idx = spec.build_first_token_index(gaz)
    maxln = np.asarray(
        [idx.get(t.lower(), 0) for t in tokens], dtype=np.int64
    )
    assert spec.detect_mentions_pruned(tokens, gaz, maxln) == spec.detect_mentions(
        tokens, gaz, idx
    )
    from grisp_spark.kg import linking

    rows = [tokens, [], tokens[: len(tokens) // 2]]
    interned = linking._intern_tokens(rows)
    assert linking._detect_all(rows, gaz, idx, interned) == [
        spec.detect_mentions(r, gaz, idx) for r in rows
    ]


def jvm_slice(rows, gazetteer):
    """The batch-local gazetteer slice the shuffle path's JVM join
    builds (linking_shuffle._candidate_spans ⋈ the sense table): every
    gazetteer n-gram of ≤ MAX_LABEL_TOKENS tokens that occurs in the
    batch, is under MAX_LABEL_CHARS and is not an F6 apostrophe skip."""
    out = {}
    for tokens in rows:
        n = len(tokens)
        for i in range(n):
            for ln in range(1, min(spec.MAX_LABEL_TOKENS, n - i) + 1):
                surf = spec.ngram_key(" ".join(tokens[i : i + ln]))
                apos_skip = (
                    ln == 1
                    and len(tokens[i]) == 1
                    and i > 0
                    and tokens[i - 1].endswith("'")
                )
                if (
                    surf in gazetteer
                    and len(surf) < spec.MAX_LABEL_CHARS
                    and not apos_skip
                ):
                    out[surf] = gazetteer[surf]
    return out


@settings(max_examples=60, deadline=None)
@given(case())
def test_detect_over_batch_slice_matches_full_gazetteer(tc):
    """The shuffle kernel detects against the batch slice instead of
    the full gazetteer: every membership probe of the greedy scan must
    answer the same, so the spans are identical — per row, and through
    the batch wrapper with the slice's own first-token index, where a
    surface one row contributes can be probed in another."""
    tokens, gaz = tc
    rows = [tokens, tokens[: len(tokens) // 2], tokens[len(tokens) // 3 :]]
    sl = jvm_slice(rows, gaz)
    assert spec.detect_mentions(tokens, sl) == spec.detect_mentions(tokens, gaz)
    from grisp_spark.kg import linking

    interned = linking._intern_tokens(rows)
    assert linking._detect_all(
        rows, sl, spec.build_first_token_index(sl), interned
    ) == [spec.detect_mentions(r, gaz) for r in rows]
