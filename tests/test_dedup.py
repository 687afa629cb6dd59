"""Dedup operators: the SimHash/MinHash kernels against a pure-Python
md5 reference, the LSH band-bucket cap, connected components."""

from __future__ import annotations

import hashlib

import pytest

from full_lattice_search_spark.operators.dedup import (
    DEFAULT_N_HASHES,
    MINHASH_MOD,
    SHINGLE_K,
    minhash_signature,
    simhash_signature,
)

# edge cases the kernels must get exactly right (doc_id, text)
KERNEL_DOCS = [
    (1, None),                         # null text
    (2, ""),                           # empty text: one empty token
    (3, "solo"),                       # 1 token
    (4, "two words"),                  # 2 tokens: shorter than a shingle
    (5, "a b c"),                      # exactly one shingle
    (6, "the the the the the"),        # repeated token, duplicate shingles
    (7, "a b c a b c a b c"),          # duplicate shingles
    (8, "run  of   spaces "),          # empty tokens between/after spaces
    (9, " Leading AND Trailing "),     # case folding + edge empties
    (10, "héllo wörld 日本語 naïve café"),  # non-ASCII tokens
    (11, "Héllo wörld 日本語 naïve café"),  # same after lower()
]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _tokens(text: str) -> list[str]:
    return text.lower().split(" ")


def ref_simhash(text: str, n_bits: int = 32) -> str:
    """Bit i = sign of the +1/-1 sum over tokens of hex digit i's parity."""
    toks = _tokens(text)
    ones = [0] * n_bits
    for tok in toks:
        h = _md5(tok)
        for i in range(n_bits):
            ones[i] += int(h[i], 16) & 1
    return "".join("1" if 2 * o > len(toks) else "0" for o in ones)


def ref_minhash(text: str | None, n_hashes: int = DEFAULT_N_HASHES) -> list[int]:
    """Min over distinct word k-shingles of the Kirsch-Mitzenmacher family
    on md5's two 48-bit halves; a text shorter than k tokens (or null) is
    one shingle of its whole (space-joined) token list."""
    toks = _tokens(text) if text is not None else []
    k = SHINGLE_K
    if len(toks) >= k:
        shingles = {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    else:
        shingles = {" ".join(toks)}
    halves = [(int(h[:12], 16), int(h[12:24], 16)) for h in map(_md5, shingles)]
    return [
        min((h1 * (2 * j + 1) + h2 * (j + 7)) % MINHASH_MOD for h1, h2 in halves)
        for j in range(n_hashes)
    ]


@pytest.fixture(scope="module")
def kernel_docs(spark):
    return spark.createDataFrame(KERNEL_DOCS, "doc_id long, text string")


@pytest.mark.parametrize("n_bits", [32, 13])
def test_simhash_matches_md5_reference(kernel_docs, n_bits):
    got = {r["doc_id"]: r["simhash"]
           for r in simhash_signature(kernel_docs, n_bits=n_bits).collect()}
    # a null text has no tokens, so no signature row
    want = {i: ref_simhash(t, n_bits) for i, t in KERNEL_DOCS if t is not None}
    assert got == want
    assert got[10] == got[11]


def test_minhash_matches_md5_reference(kernel_docs):
    got = {r["doc_id"]: r["mh"] for r in minhash_signature(kernel_docs).collect()}
    assert got == {i: ref_minhash(t) for i, t in KERNEL_DOCS}
    assert got[10] == got[11]


def test_minhash_keeps_ids_uncast(spark):
    docs = spark.createDataFrame(
        [(f"doc-{i}", t) for i, t in KERNEL_DOCS], "doc_id string, text string"
    )
    got = {r["doc_id"]: r["mh"]
           for r in minhash_signature(docs, id_cast=None).collect()}
    assert got == {f"doc-{i}": ref_minhash(t) for i, t in KERNEL_DOCS}


def test_lsh_band_bucket_cap(spark):
    """max_band_bucket drops degenerate (boilerplate-sized) band buckets
    before the self-join — the quadratic-blow-up guard.  Identical texts
    all share every band, so a cap below the clique size removes exactly
    those pairs and leaves genuine near-dup pairs untouched."""
    import pyspark.sql.functions as F

    from full_lattice_search_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    boiler = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit")
              for i in range(10)]
    near = " ".join(f"tok{i}" for i in range(30))
    uniq = [(100, near + " endA"), (101, near + " endB")]
    docs = spark.createDataFrame(boiler + uniq, "doc_id long, text string")
    sigs = minhash_signature(docs).cache()

    uncapped = lsh_candidate_pairs(sigs).collect()
    capped = lsh_candidate_pairs(sigs, max_band_bucket=5).collect()

    boiler_ids = set(range(10))
    assert sum(
        1 for r in uncapped
        if r["doc_a"] in boiler_ids and r["doc_b"] in boiler_ids
    ) == 45  # the 10-clique
    assert all(
        not (r["doc_a"] in boiler_ids and r["doc_b"] in boiler_ids)
        for r in capped
    )
    # the genuine near-dup pair survives the cap
    assert any(r["doc_a"] == 100 and r["doc_b"] == 101 for r in capped)


def test_near_dup_groups_transitive_chain(spark):
    """Connected components vs the pair-greedy drop: in component
    {3—9, 9—5} the greedy (drop doc_b of each pair) keeps BOTH 3 and 5;
    min-label propagation resolves every member to the true component
    minimum.  Also checks a long path (worst diameter) and disjoint
    components."""
    from full_lattice_search_spark.operators.dedup import near_dup_groups

    pairs = spark.createDataFrame(
        [
            (3, 9), (5, 9),          # star through a larger intermediary
            (10, 11), (11, 12), (12, 13), (13, 14),  # path, diameter 4
            (20, 21),                # separate 2-clique
        ],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["group_id"] for r in near_dup_groups(pairs).collect()
    }
    assert got == {
        3: 3, 9: 3, 5: 3,
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
        20: 20, 21: 20,
    }


def test_star_cc_matches_min_label_on_random_graphs(spark):
    """Property: large-star/small-star and min-label propagation produce
    identical (doc_id -> component-min) labelings on random graphs."""
    import random

    from full_lattice_search_spark.operators.dedup import near_dup_groups

    rng = random.Random(41)
    for trial in range(4):
        n = rng.randint(5, 40)
        m = rng.randint(1, 2 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        lab = lambda alg: {
            r["doc_id"]: r["group_id"]
            for r in near_dup_groups(pairs, algorithm=alg).collect()
        }
        assert lab("star") == lab("min_label"), (trial, edges)


def test_star_cc_bounded_rounds_on_deep_chain(spark):
    """A planted 50-link chain (diameter 50) must converge for the star
    algorithm within 8 rounds — min-label needs ~50 and WARNS when
    capped at 8."""
    import warnings as w

    from full_lattice_search_spark.operators.dedup import near_dup_groups

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "doc_a long, doc_b long"
    )
    with w.catch_warnings():
        w.simplefilter("error", RuntimeWarning)  # non-convergence -> fail
        got = {
            r["doc_id"]: r["group_id"]
            for r in near_dup_groups(
                pairs, max_iters=8, algorithm="star"
            ).collect()
        }
    assert got == {i: 0 for i in range(51)}
    # the same budget makes min-label warn loudly instead of failing silently
    with pytest.warns(RuntimeWarning, match="did not converge"):
        near_dup_groups(pairs, max_iters=8, algorithm="min_label").collect()


def test_near_dup_groups_unknown_algorithm(spark):
    from full_lattice_search_spark.operators.dedup import near_dup_groups

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="unknown algorithm"):
        near_dup_groups(pairs, algorithm="bfs")


def test_near_dup_groups_max_iters_validation(spark):
    """max_iters < 1 must raise up front — previously min_label's
    non-convergence warning would NameError on the unbound `changed`."""
    from full_lattice_search_spark.operators.dedup import near_dup_groups

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    for alg in ("min_label", "star"):
        with pytest.raises(ValueError, match="max_iters"):
            near_dup_groups(pairs, max_iters=0, algorithm=alg)


def test_star_cc_nonconverged_labels_are_unique(spark):
    """When the star alternation is cut off mid-convergence a node can
    hold two parent edges; the labeling must still emit EXACTLY one row
    per doc_id (downstream keep-one-per-component joins would otherwise
    fan out)."""
    import warnings as w

    from full_lattice_search_spark.operators.dedup import near_dup_groups

    # a deep chain plus extra chords — guaranteed not converged in 1 round
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)] + [(0, 59), (5, 40), (10, 55)],
        "doc_a long, doc_b long",
    )
    with w.catch_warnings():
        w.simplefilter("ignore", RuntimeWarning)
        rows = near_dup_groups(
            pairs, max_iters=1, algorithm="star"
        ).collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)) == 61
