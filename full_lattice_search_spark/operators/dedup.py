"""Deduplication operators for large-scale training-data pipelines.

All hot-path computation is JVM-side (built-in Spark SQL functions over
arrays/strings — no Python in the data plane), so every operator here rides
whole-stage codegen and scales with ordinary shuffle tuning:

- ``exact``: md5-of-normalized-text groupBy.  One shuffle on the hash.
- ``minhash LSH``: word-shingles → per-seed min of md5(seed||shingle) →
  band keys → self-join on band key.  The band join is an equi-join on a
  high-cardinality key — Catalyst shuffle-hash; at 100 TB the band table is
  a tiny projection (doc_id + 16 hashes), and banding bounds the pair
  blow-up (only same-bucket pairs are generated, never the n² cross).
- ``simhash``: 32-bit signature from per-token md5 hex parity; near-dups =
  same signature (or small hamming distance via multi-probe).
- ``ngram jaccard``: blocked self-join + array_intersect on distinct
  shingle sets — exact verification pass for LSH candidates.

The md5-based hash family is deliberately *portable*: DuckDB computes the
same hex strings, which is what makes the correctness oracles exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_N_HASHES = 16
DEFAULT_BAND_ROWS = 4
SHINGLE_K = 3

# Kirsch-Mitzenmacher hash family: h_j = (h1*(2j+1) + h2*(j+7)) mod M with
# h1/h2 = 48-bit ints from the two halves of one md5.  One digest per
# shingle instead of n_hashes digests, and integer mins hash-aggregate with
# mutable buffers (strings would force SortAggregate).
MINHASH_MOD = 1125899906842597  # prime < 2^50; products stay < 2^63


def hex_to_int_expr(col: str, start: int, n: int, fn: str = "instr") -> str:
    """Horner-unrolled hex→int over ``n`` hex chars of ``col`` starting at
    1-based ``start``.  ``fn`` is the position function: Spark ``instr`` /
    DuckDB ``strpos`` (same (haystack, needle) argument order) — the
    expression text works verbatim in both engines."""
    expr = "CAST(0 AS BIGINT)"
    for c in range(n):
        digit = f"({fn}('0123456789abcdef', substr({col}, {start + c}, 1)) - 1)"
        expr = f"(({expr}) * 16 + {digit})"
    return expr


def minhash_value_exprs(
    h1: str, h2: str, n_hashes: int = DEFAULT_N_HASHES
) -> list[str]:
    return [
        f"(({h1}) * {2 * j + 1} + ({h2}) * {j + 7}) % {MINHASH_MOD}"
        for j in range(n_hashes)
    ]


def exact_dup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(normalized text).  Returns one row
    per duplicate group (n_docs >= 2) with the representative (min id)."""
    return (
        docs.selectExpr(
            f"CAST({id_col} AS BIGINT) AS doc_id",
            f"md5(lower(trim({text_col}))) AS text_hash",
        )
        .groupBy("text_hash")
        .agg(F.expr("count(1) AS n_docs"), F.expr("min(doc_id) AS keep_id"))
        .filter("n_docs >= 2")
    )


def tokens_col(text_col: str = "text") -> Column:
    return F.expr(f"split(lower({text_col}), ' ')")


def shingles_from_tokens(toks_col: str = "_toks", k: int = SHINGLE_K) -> Column:
    """Distinct word k-shingles from a *materialized* token-array column.
    (Never inline the split() into the transform lambda — HOF lambdas are
    interpreted per element, so an inlined split re-tokenizes the document
    once per shingle: O(n²) per doc.)  Documents shorter than k tokens
    contribute their whole text as a single shingle."""
    return F.expr(
        f"""
        array_distinct(CASE
          WHEN size({toks_col}) >= {k} THEN
            transform(
              sequence(1, size({toks_col}) - {k - 1}),
              i -> concat_ws(' ', slice({toks_col}, i, {k}))
            )
          ELSE array(concat_ws(' ', {toks_col}))
        END)
        """
    )


def minhash_signature(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    id_cast: str | None = "long",
) -> DataFrame:
    """(doc_id, mh: array<bigint>[n_hashes]) minhash signature.

    Relational formulation: posexplode the shingle start tokens → one md5
    per shingle → two 48-bit ints (``conv`` over the hex halves) →
    n_hashes Kirsch-Mitzenmacher values → integer min aggregates.  The
    shingle at start ``i`` is ``concat_ws(' ', toks[i], ..., toks[i+k-1])``
    with ``k = SHINGLE_K`` (no interpreted HOF); a document shorter than
    ``k`` tokens contributes its whole text as one shingle.  Duplicate
    shingles need no ``array_distinct``: ``min`` ignores them.  Everything
    runs in whole-stage codegen with map-side partial min — the shuffle
    carries n_hashes longs per doc regardless of document size.

    Every projection is SQL text: one py4j call each, where Column-API
    calls would cost one round-trip chain per hash (see CLAUDE.md)."""
    k = SHINGLE_K
    doc_id = f"CAST({id_col} AS {id_cast})" if id_cast else id_col
    long_doc = f"size(toks) >= {k}"
    window = ", ".join(["t0"] + [f"toks[i + {j}]" for j in range(1, k)])
    shingles = docs.selectExpr(
        f"{doc_id} AS doc_id", f"split(lower({text_col}), ' ') AS toks"
    ).selectExpr(
        "doc_id",
        "toks",
        f"posexplode(IF({long_doc}, slice(toks, 1, size(toks) - {k - 1}),"
        " array(concat_ws(' ', toks)))) AS (i, t0)",
    )
    # conv() parses each 12-hex-char half in one codegen call; the DuckDB
    # oracle keeps the Horner expansion (hex_to_int_expr) — same exact
    # 48-bit integers, different engine idiom.  md5 sits in its own
    # projection so the two halves share one digest.
    hashed = shingles.selectExpr(
        "doc_id", f"md5(IF({long_doc}, concat_ws(' ', {window}), t0)) AS h"
    ).selectExpr(
        "doc_id",
        "CAST(conv(substr(h, 1, 12), 16, 10) AS BIGINT) AS h1",
        "CAST(conv(substr(h, 13, 12), 16, 10) AS BIGINT) AS h2",
    )
    mins = ", ".join(f"min({v})" for v in minhash_value_exprs("h1", "h2", n_hashes))
    return hashed.groupBy("doc_id").agg(F.expr(f"array({mins}) AS mh"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_hashes: int = DEFAULT_N_HASHES,
    band_rows: int = DEFAULT_BAND_ROWS,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures and self-join on (band_idx, band_key):
    classic MinHash-LSH candidate generation.  Output: distinct
    (doc_a, doc_b) with doc_a < doc_b.

    The band key is the raw struct of ``band_rows`` minhash values — no
    digest: struct equality is what the join needs, and Spark hashes the
    struct natively for the exchange (an md5-of-concat key costs 2 string
    ops per band per row and buys nothing).

    ``max_band_bucket``: the quadratic-blow-up guard for web-scale runs —
    a band bucket with ``m`` members emits ``m(m-1)/2`` pairs, and real
    corpora have degenerate buckets (boilerplate/empty-ish texts) with
    millions of members.  Buckets larger than the cap are dropped BEFORE
    the self-join (one map-side-combined count + a semi-join-shaped
    filter); the standard production setting treats such buckets as
    uninformative (near-identical boilerplate is better handled by exact
    dedup upstream).  ``None`` (default) keeps every bucket — exact LSH
    semantics, what the oracles check."""
    bands = ", ".join(
        "named_struct("
        + ", ".join(f"'k{r}', mh[{b * band_rows + r}]" for r in range(band_rows))
        + ")"
        for b in range(n_hashes // band_rows)
    )
    banded = signatures.selectExpr(
        "doc_id", f"posexplode(array({bands})) AS (band_idx, band_key)"
    )
    if max_band_bucket is not None:
        small = (
            banded.groupBy("band_idx", "band_key")
            .count()
            .filter(f"`count` <= {int(max_band_bucket)}")
            .drop("count")
        )
        banded = banded.join(small, ["band_idx", "band_key"], "left_semi")
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            F.expr(
                "a.band_idx = b.band_idx AND a.band_key = b.band_key"
                " AND a.doc_id < b.doc_id"
            ),
        )
        .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b")
        .distinct()
    )


def minhash_jaccard(
    signatures: DataFrame, pairs: DataFrame, n_hashes: int = DEFAULT_N_HASHES
) -> DataFrame:
    """Estimated jaccard for candidate pairs = fraction of equal minhashes.
    Both joins broadcast-able when the pair list is small; otherwise they
    shuffle on doc_id — the signature table is a narrow projection."""
    sa = signatures.selectExpr("doc_id AS doc_a", "mh AS mh_a")
    sb = signatures.selectExpr("doc_id AS doc_b", "mh AS mh_b")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "round(size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), b -> b))"
            f" / {n_hashes}, 4) AS jaccard_est",
        )
    )


def simhash_signature(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
) -> DataFrame:
    """``n_bits``-bit SimHash (at most 32) as a '0'/'1' string.  Bit i of
    a token's hash is the parity of hex digit i of md5(token); the
    signature bit is the sign of the (+1/−1) sum over all tokens
    (multiplicity counted).

    Plan: explode tokens → ONE md5 per token → its first hex digits as
    8-digit BIGINT words (``conv``) → one groupBy whose aggregates fold
    bit i as ``sum(shiftright(w[i/8], 4*(7 - i%8)) & 1)`` in codegen.
    (The obvious nested-HOF formulation re-tokenizes and re-hashes every
    token once per bit — 32× the work, interpreted; see CLAUDE.md.)  The
    shuffle carries n_bits longs + a count per doc regardless of document
    size, with map-side partial aggregation.  Every projection is SQL
    text, one py4j call each."""
    if not 1 <= n_bits <= 32:
        raise ValueError(f"n_bits must be in [1, 32], got {n_bits}")
    # md5 ONCE per token, in its own projection: the words reference it
    # several times, so CollapseProject does not inline it into each
    words = docs.selectExpr(
        f"CAST({id_col} AS BIGINT) AS doc_id",
        f"explode(split(lower({text_col}), ' ')) AS tok",
    ).selectExpr("doc_id", "md5(tok) AS h").selectExpr(
        "doc_id",
        *[
            f"CAST(conv(substr(h, {8 * w + 1}, 8), 16, 10) AS BIGINT) AS w{w}"
            for w in range((n_bits + 7) // 8)
        ],
    )
    # sum of (+1/-1) = 2*ones - n; bit = '1' iff positive
    bits = ", ".join(
        f"IF(2 * sum(shiftright(w{i // 8}, {4 * (7 - i % 8)}) & 1) > count(1),"
        " '1', '0')"
        for i in range(n_bits)
    )
    return words.groupBy("doc_id").agg(F.expr(f"concat({bits}) AS simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_cols: list[str],
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SHINGLE_K,
) -> DataFrame:
    """Exact n-gram Jaccard over blocked candidate pairs.  ``block_cols``
    is the blocking key (same-block pairs only) — the explicit scale control:
    pair count is Σ block_size², never n²."""
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        *[F.col(c) for c in block_cols],
        tokens_col(text_col).alias("_toks"),
    ).select(
        "doc_id",
        *[F.col(c) for c in block_cols],
        shingles_from_tokens("_toks", k).alias("sh"),
    )
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = F.round(inter / union, 4)
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _star_cc(edges: DataFrame, max_iters: int) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): converges in
    O(log² n) rounds regardless of component DIAMETER, vs O(diameter)
    for min-label propagation — the fallback for adversarially deep dup
    chains (a 50-link chain is ~6 rounds here, 50 there).

    ``edges``: symmetric (src, dst) pairs.  Returns (doc_id, group_id =
    component minimum) for every node appearing in ``edges``.  Each round
    is two groupBy(min) + join passes over the current edge list; the
    fixpoint check is a set-difference count on the (shrinking) edges."""
    all_nodes = (
        edges.select(F.col("src").alias("doc_id")).distinct().persist()
    )
    # directed invariant: src > dst (parent pointers toward smaller ids).
    # Each round references E three times, so the logical plan would
    # TRIPLE per round without lineage truncation — localCheckpoint keeps
    # the per-round plan constant-size (on a fault-tolerant cluster run,
    # point spark.sparkContext.setCheckpointDir at durable storage and
    # swap in .checkpoint()).
    E = (
        edges.filter(F.col("src") > F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iters):
        # large-star: every neighbor v > u links to m(u) = min(Γ(u) ∪ u)
        es = E.unionByName(
            E.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = (
            es.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("mn", "src").alias("m"))
        )
        large = (
            es.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # small-star: all smaller neighbors (and u itself) link to the min
        mins2 = large.groupBy("src").agg(F.min("dst").alias("m"))
        new_E = (
            large.join(mins2, "src")
            .select(F.col("dst").alias("v"), "m")
            .filter(F.col("v") != F.col("m"))
            .unionByName(
                mins2.select(F.col("src").alias("v"), "m")
            )
            .distinct()
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .localCheckpoint()
        )
        changed = (
            new_E.subtract(E).count() + E.subtract(new_E).count()
        )
        E = new_E
        if changed == 0:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"near_dup_groups(algorithm='star'): no fixpoint within "
            f"max_iters={max_iters} — labels may split true components",
            RuntimeWarning,
            stacklevel=3,
        )
    # at the fixpoint E is a star forest (child, root); roots + isolated
    # nodes label themselves
    parents = E.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("gid")
    )
    if not converged:
        # mid-convergence a node may still hold TWO parent edges; the
        # left join below would fan those out into duplicate doc_id rows
        # (downstream keep-one-per-component joins would multiply rows) —
        # collapse to the min parent so the labeling stays one-row-per-doc
        parents = parents.groupBy("doc_id").agg(F.min("gid").alias("gid"))
    labels = all_nodes.join(
        parents,
        "doc_id",
        "left",
    ).select(
        "doc_id", F.coalesce("gid", "doc_id").alias("group_id")
    )
    all_nodes.unpersist()
    return labels


def near_dup_groups(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
    algorithm: str = "min_label",
) -> DataFrame:
    """Connected components over near-duplicate candidate pairs:
    ``(doc_id, group_id)`` where group_id = the MIN doc_id of the
    component — the canonical representative a curation pass keeps.

    Why it exists: dropping ``doc_b`` of every pair (the greedy the
    curation pipeline uses) under-drops on transitive chains whose
    smallest member is connected through larger intermediaries (component
    {3—9, 9—5} keeps BOTH 3 and 5).  Min-label propagation converges to
    the true component minimum regardless of shape.

    Physical plan: a driver loop of declarative rounds (like the k-means
    trainer) — per round one groupBy(min) over (labels ∪ labels joined
    across edges), converging in O(component diameter) rounds; near-dup
    components are shallow (dup clusters, not social graphs), so this is
    2-4 rounds in practice.  Per-round cost: one join + one partial-agg
    shuffle on doc_id.  For adversarially deep graphs pass
    ``algorithm='star'`` — the large-star/small-star alternation
    (``_star_cc``) whose round count is O(log² n), independent of
    component diameter.  The convergence check is a count, not a data
    collect.  Deterministic: min() has no tie ambiguity.
    """
    if algorithm not in ("min_label", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    if algorithm == "star":
        return _star_cc(edges, max_iters)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("group_id", F.col("doc_id"))
    )
    for _ in range(max_iters):
        # materialize AND truncate lineage each round (labels feeds the
        # next round twice, so the logical plan would double per round
        # under plain persist — localCheckpoint keeps it constant-size;
        # the convergence check then reads materialized labels instead of
        # recomputing the whole propagation chain)
        propagated = (
            labels.join(edges, labels["doc_id"] == edges["src"])
            .select(F.col("dst").alias("doc_id"), "group_id")
            .unionByName(labels)
            .groupBy("doc_id")
            .agg(F.min("group_id").alias("group_id"))
            .localCheckpoint()
        )
        changed = (
            propagated.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.group_id") != F.col("o.group_id"))
            .count()
        )
        labels = propagated
        if changed == 0:
            break
    else:
        # Non-convergence must be LOUD: curation's minhash_cc mode keys
        # "keep one doc per component" off these labels, and stale labels
        # silently keep extra docs.
        import warnings

        warnings.warn(
            f"near_dup_groups: min-label propagation did not converge "
            f"within max_iters={max_iters} ({changed} labels still "
            f"changing) — returned groups may split true components; "
            f"raise max_iters or use algorithm='star' for deep chains",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels
