"""Deduplication operators for LLM training-data pipelines.

Per-document keys, one pass and at most one shuffle on the key:

- :func:`exact_dedup` — hash groupBy on a canonical content key.
- :func:`simhash` — 60-bit bit-vote fingerprint; near-dups differ in few
  bits (Hamming ball search downstream).

Pair joins, each in three stages — partition the corpus into candidate
groups, prune candidates by a bound, verify the survivors exactly:

- :func:`ngram_jaccard_pairs` — exact word n-gram shingle Jaccard of given
  candidate pairs (verify only).
- :func:`banded_minhash_pairs` — banded MinHash buckets, exact Jaccard
  verify: the near-dup path ``q_dedup_near`` ships.
- :func:`build_band_index` / :func:`delta_dedup_pairs` — the same bands
  as a persisted corpus index that each new batch probes.
- :func:`containment_pairs` — rare-shingle postings, a count-only prune,
  exact containment verify.
- :func:`jaccard_prefix_join` — EXACT all-pairs token Jaccard, with
  pigeonhole (PTJ) or prefix-filter (PPJoin) candidates.
- :func:`embedding_near_dup_pairs` — cosine within blocking keys.

:func:`dup_clusters` turns any pair stream into connected components.

The stages the shingle joins share are written once each:
:func:`_shingle_table` (the per-doc shingle sets), :func:`_capped_lists`
and :func:`_list_pairs` (capped posting lists and their in-list pairs),
:func:`_overlap` (the set-overlap verify) and :func:`_token_codes` (the
token recode of the exact join). No operator collects data to the
driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans import ensure_parallelism

SIMHASH_BITS = 60  # stay clear of the sign bit of int64


def canonical_token_key(text: str | Column) -> Column:
    """Order-insensitive content key: the sorted whitespace-token multiset.

    Catches 'same words, shuffled order' duplicates that byte-exact dedup
    misses, while staying a pure hash-groupBy (one shuffle on the key).
    """
    return F.sort_array(F.split(text, " "))


def canonical_fingerprint(text: str | Column) -> Column:
    """8-byte form of :func:`canonical_token_key`: ``xxhash64`` of the
    sorted token multiset re-joined on the split delimiter (invertible —
    tokens cannot contain the delimiter), so two docs collide iff their
    canonical keys are equal, modulo ~|corpus|²/2⁻⁶⁴ hash collisions.
    THIS is what shuffles at 100 TB: grouping/windowing on the raw token
    array makes the exchange payload document-sized."""
    return F.xxhash64(F.array_join(canonical_token_key(text), " "))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by canonical content key → (kept id, group size).

    The kept row is min(id) per group (deterministic). Groups on the
    8-byte :func:`canonical_fingerprint` — the key never appears in the
    output, so the fingerprint swap is free and the exchange carries
    longs instead of token arrays.
    """
    return (
        df.groupBy(canonical_fingerprint(text_col).alias("_key"))
        .agg(
            F.min(id_col).alias("doc_id_keep"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_key")
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash fingerprint via md5 bit votes.

    Each token votes ±1 on every bit of md5(token); fingerprint bit b is 1
    iff the vote sum is positive. Term frequency weights votes naturally
    (each occurrence votes). The top 60 bits of md5 are parsed ONCE per
    token (``conv(hex, 16, 10)``); bit b of token hash h is
    ``(h >> (59-b)) & 1`` — hex digit ``b div 4``, MSB-first in nibble.

    Entirely per-row array arithmetic (higher-order functions over the
    token array) — ZERO shuffle, one codegen'd pass over the scan, so
    fingerprints stream out at scan speed with no exchange at all.
    """
    return ensure_parallelism(df).select(
        id_col, simhash_expr(text_col, bits).alias("simhash")
    )


def simhash_expr(text_col: str, bits: int = SIMHASH_BITS) -> Column:
    """The SimHash fingerprint as a reusable column expression (shared by
    the batch :func:`simhash` table and the streaming near-dup
    suppressor) — see :func:`simhash` for the bit-vote derivation."""
    hs = (
        f"transform(split({text_col}, ' '), "
        f"w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint))"
    )
    votes = (
        f"aggregate({hs}, transform(sequence(0, {bits - 1}), x -> 0L), "
        f"(acc, h) -> zip_with(acc, sequence({bits - 1}, 0), "
        f"(a, s) -> a + if(shiftright(h, s) % 2 = 1, 1, -1)))"
    )
    fp = (
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        f"(v, b) -> if(v > 0, shiftleft(1L, b), 0L)), 0L, (acc, x) -> acc + x)"
    )
    return F.expr(fp).cast("long")


def shingles(text: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (documents shorter than n words
    yield an empty set). Same zip-of-shifted-slices construction as
    :func:`hashed_shingles` — ``element_at`` indexing inside the lambda
    would inline and re-evaluate the ``split`` per gram element,
    O(|doc|²) per document."""
    toks = F.split(text, " ")
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.arrays_zip(
        *[F.slice(toks, j + 1, m).alias(f"t{j}") for j in range(n)]
    )
    return F.array_distinct(
        F.transform(
            z, lambda s: F.concat_ws(" ", *[s[f"t{j}"] for j in range(n)])
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pair_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Jaccard similarity of n-gram shingle sets for given candidate pairs.

    ``pair_df`` holds (doc_a, doc_b) candidates — produced by any blocking
    scheme (LSH buckets, simhash bands, consecutive ids for audits). The
    string shingle table is computed once and attached to both sides by
    :func:`_overlap`.
    """
    sh = _shingle_table(df, id_col, text_col, n, shingles)
    return _overlap(pair_df, "doc_a", "doc_b", sh, sh, id_col).select(
        "doc_a", "doc_b", _jaccard().alias("jaccard")
    )


def hashed_shingles(text: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as 64-bit hashes, no string building.

    Tokens are hashed ONCE (``xxhash64`` per word); a shingle's hash is
    ``xxhash64`` of its n consecutive token hashes. Equivalent to hashing
    the concatenated n-gram (modulo 64-bit collisions, ~|sh|²/2⁶⁴) but
    skips the ``concat_ws`` string allocation entirely — at sf0.1 this
    halves shingle time; at 100 TB it halves the CPU of the whole scan
    phase, which dominates near-dup cost.

    The n-gram windows come from ``arrays_zip`` over n shifted SLICES of
    the token-hash array — NOT ``element_at`` indexing inside the
    per-index lambda: Catalyst inlines the ``tokh`` subexpression into
    every ``element_at`` call, so the indexed form re-evaluates the
    full O(|doc|) token-hash transform per gram element — O(|doc|²)
    per document (measured 11× slower at sf0.1 for the 3-gram screen).
    The zip form evaluates ``tokh`` n times total. Docs shorter than
    ``n`` tokens yield an EMPTY shingle set (they have no n-grams).
    """
    toks = F.split(text, " ")
    tokh = F.transform(toks, lambda w: F.xxhash64(w))
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.arrays_zip(
        *[F.slice(tokh, j + 1, m).alias(f"t{j}") for j in range(n)]
    )
    return F.array_distinct(
        F.transform(z, lambda s: F.xxhash64(*[s[f"t{j}"] for j in range(n)]))
    )


# ------------------------------------------------ shared pair-join stages

def _shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int, shingle=hashed_shingles
) -> DataFrame:
    """``(id_col, shh)``: every doc of at least ``n`` words with its
    distinct shingle set (``shingle`` is :func:`hashed_shingles` or the
    string :func:`shingles`). A NULL text has no size and drops out with
    the short docs. Hashing every token dwarfs re-sending the text, so
    the table is spread over all cores first."""
    return ensure_parallelism(
        df.filter(F.size(F.split(text_col, " ")) >= n)
    ).select(id_col, shingle(text_col, n).alias("shh"))


def _capped_lists(
    rows: DataFrame, keys: list[str], id_col: str, cap: int | None
) -> DataFrame:
    """``keys`` + ``ids``: the sorted ids of each key in ``rows``, keys
    with more than ``cap`` ids dropped (``None``: no cap).

    The row_number cap at cap+1 compiles to WindowGroupLimit on the key
    partitioning the groupBy needs anyway, so a hot key's rows are cut
    map-side, before the exchange, and no aggregation buffer ever holds
    more than cap+1 ids. A list cut at cap+1 fails the same size filter
    the full list fails, so the kept lists are exactly the uncapped
    ones."""
    if cap is not None:
        w = Window.partitionBy(*keys).orderBy(id_col)
        rows = rows.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= cap + 1
        )
    lists = rows.groupBy(*keys).agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    return lists if cap is None else lists.filter(F.size("ids") <= cap)


def _list_pairs(lists: DataFrame) -> DataFrame:
    """``(doc_a, doc_b)`` for every two ids of each :func:`_capped_lists`
    list, ``doc_a < doc_b``: the ids of a list are sorted and distinct
    (a doc has one key per band and each shingle once), so pairing every
    id with the ids after it gives each in-list pair once. A pair that
    shares k lists appears k times."""
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        lists.filter(F.size(ids) >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )


def _overlap(
    cand: DataFrame,
    a: str,
    b: str,
    left: DataFrame,
    right: DataFrame,
    id_col: str,
) -> DataFrame:
    """``(a, b, na, nb, i)`` for the ``(a, b)`` candidate pairs: the set
    sizes of ``a``'s row in the shingle table ``left`` and ``b``'s row in
    ``right``, and i = |A∩B|.

    Both attach joins are pinned ``shuffle_hash``, building the id-only
    candidate stream in the first and the per-doc array table in the
    second. Left to size estimates the planner broadcasts the array
    table, which cannot fit at cluster scale (a multi-GB HashedRelation
    at the default 8 GB heap at sf10); a sort-merge join would sort the
    pair stream with the arrays attached. The joins key on the tables'
    own id column, not on a renamed copy, so when ``left`` and ``right``
    are one table its two array exchanges are the same plan and run
    once (a reused exchange).

    Both sets are distinct, so |A∪B| = na + nb − i exactly and one
    ``array_intersect`` per pair is the whole verify. ``rand(42)*0.0`` is
    exactly +0.0 (rand ∈ [0, 1)), so ``i`` equals the plain count; the
    nondeterministic alias keeps a caller's filter on ``i`` out of the
    join condition, where the intersect would run again per candidate
    (join conditions get no subexpression elimination)."""
    sa, sb = F.col("_l.shh"), F.col("_r.shh")
    i = F.rand(42) * F.lit(0.0) + F.size(F.array_intersect(sa, sb))
    return (
        cand.hint("shuffle_hash")
        .join(left.alias("_l"), F.col(a) == F.col(f"_l.{id_col}"))
        .join(
            right.alias("_r").hint("shuffle_hash"),
            F.col(b) == F.col(f"_r.{id_col}"),
        )
        .select(
            a, b, F.size(sa).alias("na"), F.size(sb).alias("nb"), i.alias("i")
        )
    )


def _jaccard() -> Column:
    """Jaccard of an :func:`_overlap` row, rounded to 4 places."""
    i = F.col("i")
    return F.round(i / (F.col("na") + F.col("nb") - i), 4)


def _token_codes(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, code, df)``: each doc's distinct whitespace tokens recoded
    to ``xxhash64`` longs, with each token's document frequency.

    Set equality and intersection sizes carry over from tokens to codes
    only if the recode is a bijection, so each code compares its least
    and greatest token: ``assert_true`` is NULL when one spelling owns
    the code, and a 64-bit collision between two spellings raises with
    both instead of silently merging them (birthday bound ~2.7 % at a
    10⁹-token vocabulary)."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(text_col, " "))).alias("tok"),
    )
    codes = toks.groupBy(F.xxhash64("tok").alias("_jc")).agg(
        F.count(F.lit(1)).alias("df"),
        F.min("tok").alias("_lo"),
        F.max("tok").alias("_hi"),
    )
    checked = F.when(
        F.assert_true(
            F.col("_lo") == F.col("_hi"),
            F.concat(
                F.lit("jaccard_prefix_join: xxhash64 token collision: "),
                F.col("_lo"),
                F.lit(" / "),
                F.col("_hi"),
            ),
        ).isNull(),
        F.col("_jc"),
    )
    codes = codes.select("_jc", checked.alias("code"), "df")
    return toks.join(codes, F.xxhash64("tok") == F.col("_jc")).select(
        "id", "code", "df"
    )


# ------------------------------------------------------- banded MinHash

def band_buckets(
    sh: DataFrame,
    id_col: str = "doc_id",
    bands: int = 9,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band, key) LSH bucket rows from a hashed-shingle table:
    k=bands·rows minhash signature (seeded ``xxhash64`` permutations,
    ``array_min∘transform`` folds — all JVM-side, zero shuffles), then
    one 64-bit key per band over its signature rows. Shared by the
    all-pairs self-join (:func:`banded_minhash_pairs`) and the
    incremental corpus-index path (:func:`build_band_index` /
    :func:`delta_dedup_pairs`), so the banding scheme can never diverge
    between them."""
    k = bands * rows_per_band

    # NB: a 2-arg lambda would be read by F.transform as (element, index) —
    # bind the permutation seed via a 1-arg closure factory instead.
    def _perm(i: int):
        return lambda h: F.xxhash64(F.lit(i), h)

    sig = sh.select(
        id_col,
        F.array(
            *[F.array_min(F.transform("shh", _perm(i))) for i in range(k)]
        ).alias("sig"),
    )
    band_keys = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.col("sig")[j] for j in range(b * rows_per_band, (b + 1) * rows_per_band)],
            )
            for b in range(bands)
        ]
    )
    return sig.select(id_col, F.posexplode(band_keys).alias("band", "key"))


def banded_minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 9,
    rows_per_band: int = 2,
    min_jaccard: float = 0.5,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs via hand-rolled banded MinHash — the 100 TB path.

    hashed shingle (:func:`hashed_shingles`, no string n-grams) →
    k=bands·rows minhash signature (:func:`band_buckets`) → ONE hash
    aggregation per (band, key) bucket, pairs generated from the
    bucket's id list (higher-order functions, no bucket self-join) →
    candidates verified with exact hashed-shingle Jaccard, keep the
    pairs whose ROUNDED Jaccard is ≥ ``min_jaccard``.

    Candidate cost is Σ|bucket|² per band, not |corpus|². With r=2
    rows/band, b=9 bands the match probability is 1-(1-s²)⁹ — ≈97% recall
    at s=0.5, near-0 below s=0.2. There is no model fit, no sparse-vector
    materialization and no UDF distance in the hot path.

    ``max_bucket`` drops buckets larger than that many docs before pair
    generation — a cluster of m near-identical docs otherwise produces
    m²/2 candidate pairs in EVERY band, the classic LSH hot-bucket blow-up
    at corpus scale. Dropped buckets are almost always exact-duplicate
    clusters (handled by :func:`exact_dedup` upstream) or degenerate
    boilerplate; pair the cap with exact dedup, don't rely on it alone.
    ``None`` disables the cap (exhaustive, small corpora only).
    """
    sh = _shingle_table(df, id_col, text_col, n)
    lists = _capped_lists(
        band_buckets(sh, id_col, bands, rows_per_band),
        ["band", "key"],
        id_col,
        max_bucket,
    )
    cand = _list_pairs(lists).distinct()
    return (
        _overlap(cand, "doc_a", "doc_b", sh, sh, id_col)
        .select("doc_a", "doc_b", _jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.4,
) -> DataFrame:
    """Semantic near-dup: same-block pairs with cosine ≥ threshold.

    ``block_col`` bounds the self-join (cluster id / LSH bucket at scale;
    without it this is a full cross join — refuse that at 100 TB).
    """
    from ..functions.vector import dot_product, l2_norm

    # Norms are per-row projections computed before the blocked self-join
    # (2·|df| folds instead of 2·|pairs|); dot/(na·nb) is the same IEEE
    # expression order as the per-pair form — bit-identical cosine.
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("va"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    ).withColumn("_na", l2_norm(F.col("va")))
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("vb"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    ).withColumn("_nb", l2_norm(F.col("vb")))
    joined = a.join(b, ["blk"]) if block_col else a.crossJoin(b)
    sim = F.round(
        dot_product(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")), 4
    )
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    Turns the pair stream (:func:`banded_minhash_pairs` etc.) into
    deduplication GROUPS: every doc in a transitively-connected cluster
    gets ``cluster_id = min(doc_id in cluster)``, so "keep one doc per
    cluster" is a single ``filter(doc_id == cluster_id)`` afterwards.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in O(graph
    diameter) rounds — near-dup graphs are unions of small cliques, so
    typically 2-3. Per round: one join on the (tiny, pairs-sized) edge
    set + one groupBy — no full-corpus shuffle; ``localCheckpoint``
    truncates the lineage so the plan doesn't grow exponentially.
    Driver-side work per round is a single changed-count scalar, never
    the data. Only docs appearing in at least one pair are returned
    (unpaired docs are their own singleton cluster by definition).
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # The edge set is joined once per round — checkpoint it, or every
    # round re-evaluates the FULL upstream lineage (banded MinHash →
    # exact-dedup window → corpus scan): ~4x wall-clock even at sf0.01,
    # and a full corpus re-scan per round at 100 TB.
    sym = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )
    changed = 1
    for _ in range(max_iters):
        neighbor = (
            sym.join(labels, sym.dst == labels.id)
            .select(F.col("src").alias("id"), "lbl")
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # Long transitive chains are exactly what this operator exists for —
        # returning partial labels silently would split one real cluster
        # into several and leak duplicates past "keep one per cluster".
        raise RuntimeError(
            f"dup_clusters did not converge within max_iters={max_iters}; "
            "a connected component's diameter exceeds the budget — raise "
            "max_iters (rounds needed ~ graph diameter)"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id"))


# ------------------------------------------------- exact token Jaccard

def jaccard_prefix_join(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT all-pairs token-Jaccard join above ``threshold``.

    Two physical strategies behind one result contract (identical to the
    naive O(n²) join — that identity IS the oracle, pinned against brute
    force in tests/test_extensions.py for both paths):

    - **Partition-based (PTJ / pigeonhole) path** for high thresholds.
      For a true pair, the symmetric difference H = |AΔB| is bounded:
      J ≥ t ⇒ |A∩B| ≥ t·|A∪B| ⇒ H = |A∪B| − |A∩B| ≤ (1−t)/t·|A∩B|
      ≤ (1−t)/t·min(|A|,|B|) ≤ (1−t)/t·n_max. Hash-split the token
      domain into m > (1−t)/t·n_max disjoint parts: fewer than m tokens
      of AΔB land in m parts, so by pigeonhole SOME part holds none of
      them — in that part the two docs' token subsets are IDENTICAL.
      Candidates therefore come from an equi-join on (part, exact
      sorted subset) keys: per-pair set intersections become join-key
      equality (Deng, Li, Feng, VLDB'15 — the partition-based exact
      set-similarity join family). See :func:`_jaccard_ptj_path` for
      the verify/dedup details.
    - **Prefix-filter path (PPJoin family)** otherwise: at low
      thresholds m explodes (m ≈ n_max at t = 0.5) and near-empty
      domain parts would bucket unrelated docs together, while token
      prefixes stay selective. See :func:`_jaccard_prefix_path`.

    The path switch needs the corpus-wide max distinct-token count, so
    ONE bounded pre-pass (a scalar max aggregate, no shuffle) runs
    eagerly at plan time; both the driver bench and the oracle harness
    time query construction together with execution, so the pass is
    inside every timed region (no cross-run precomputation).
    """
    t = float(threshold)
    import math

    row = docs.agg(
        F.max(F.size(F.array_distinct(F.split(text_col, " ")))).alias("n")
    ).collect()[0]
    n_max = row["n"] or 0
    # Over-approximating m is always exact (more parts, more empties);
    # the +1e-6 slack keeps a float rounding of (1-t)/t*n_max from
    # UNDER-shooting the pigeonhole requirement m > H_max.
    m = int(math.floor((1.0 - t) / t * n_max + 1e-6)) + 1 if t < 1.0 else 1
    if m <= _PTJ_MAX_PARTS:
        return _jaccard_ptj_path(docs, t, m, id_col, text_col)
    return _jaccard_prefix_path(docs, t, id_col, text_col)


# Above this many domain parts the PTJ signature fan-out (m rows/doc)
# and the near-empty parts stop paying for themselves; the prefix path
# takes over. At the registered t=0.9 over this corpus m is 4.
_PTJ_MAX_PARTS = 8


def _jaccard_ptj_path(
    docs: DataFrame, t: float, m: int, id_col: str, text_col: str
) -> DataFrame:
    """Partition-based exact set-similarity join (see the dispatcher
    docstring for the pigeonhole completeness argument).

    Plan shape (all shuffles on bounded keys, no cross join):

    1. Tokens recode to ``xxhash64`` longs (:func:`_token_codes`; its
       bijection check is what makes code-array equality set equality).
    2. One groupBy(id) builds the m per-part SORTED code subarrays as
       plain columns s0..s{m-1} (m is a plan-time constant — the whole
       verify unrolls into codegen'd expressions, no interpreted HOF
       folds). The table persists through the session cache registry;
       both join sides read the columnar cache.
    3. Each doc emits m signature rows (pid, sub = its part subarray);
       candidates come from ONE equi-join on (pid, sub) — subset
       equality IS the join key. The join is pinned ``shuffle_hash``:
       its build side is the full signature table (every doc × m rows),
       which a broadcast would ship to every executor.
    4. FIRST-MATCH dedup as a join residual: a pair sharing several
       part-subsets matches once per shared part; keeping only the
       smallest matching pid (cheap array inequality on the earlier
       parts, exact — no hashes) makes each pair appear EXACTLY once.
    5. Exact verify in the projection: |A∩B| = Σ_p (a_p == b_p ?
       |a_p| : |a_p ∩ b_p|) — parts partition the domain, so the sum is
       the exact integer intersection; intersects only run on the ≤ H
       differing parts. ``rand(42)*0.0 + jac`` keeps the jac filter out
       of the join condition, as in :func:`_overlap`.
    """
    from functools import reduce
    from operator import add, and_

    from pyspark import StorageLevel

    from ..plans.cache_registry import persist_slot
    from ..plans.parallelism import keyed_fanout

    rec = _token_codes(docs, id_col, text_col).select(
        "id", "code", F.pmod("code", F.lit(m)).cast("int").alias("pid")
    )
    subs = [f"s{p}" for p in range(m)]
    sets = rec.groupBy("id").agg(
        *[
            F.sort_array(
                F.collect_list(F.when(F.col("pid") == p, F.col("code")))
            ).alias(f"s{p}")
            for p in range(m)
        ]
    )
    sets = sets.select(
        "id",
        *subs,
        *[F.size(s).alias(f"n{p}") for p, s in enumerate(subs)],
        *[F.xxhash64(s).alias(f"h{p}") for p, s in enumerate(subs)],
        reduce(add, [F.size(s) for s in subs]).alias("n"),
    )
    # int64 code subarrays: measured at sf10, the columnar
    # MEMORY_AND_DISK cache fits the default 8 GB heap.
    sets = persist_slot(sets, "jaccard_ptj_sets", StorageLevel.MEMORY_AND_DISK)
    parts = F.array(
        *[
            F.struct(F.lit(p).alias("pid"), F.col(s).alias("sub"))
            for p, s in enumerate(subs)
        ]
    )
    sig = (
        sets.withColumn("e", F.explode(parts))
        .select("*", "e.pid", "e.sub")
        .drop("e")
    )
    # The candidate join's cost is per-CANDIDATE compute, not bytes, so
    # byte-based AQE sizing would leave it on a few coarse tasks whose
    # hottest buckets straggle (measured at sf10: 33 % idle slot time at
    # 32 tasks). The ONE exchange both sides share is partitioned by the
    # join key at the input-derived fan-out of :func:`keyed_fanout`; an
    # explicit count also keeps AQE from re-coalescing it.
    sig = sig.repartition(keyed_fanout(docs), "pid", "sub")

    na, nb = F.col("a.n"), F.col("b.n")
    eps = 1e-6
    first_match = reduce(
        and_,
        [
            (F.col("a.pid") <= p) | (F.col(f"a.s{p}") != F.col(f"b.s{p}"))
            for p in range(m)
        ],
    )
    # Count/hash-only candidate prune, no array touched: per part,
    # |a_p∩b_p| ≤ min(|a_p|,|b_p|), tightened to min−1 when the part
    # SIZES are equal but the part-content hashes differ (equal-size
    # differing sets share at most n_p−1 elements; a hash COLLISION only
    # leaves the bound loose, never wrong — exactness cannot depend on
    # xxhash64 here). Summed: |A∩B| ≤ I_ub, and J ≥ t needs |A∩B| ≥
    # t·(n_a+n_b)/(1+t). Integer/long-only arithmetic against t-scaled
    # reals, so the ε-slack keeps exact-boundary pairs in (pruning
    # bounds may only ever be loose — the verify removes what the slack
    # admits). The equal-size-different-hash term targets exactly the
    # surviving false-candidate profile of this join (pairs sharing one
    # whole part with substitutions elsewhere); at sf10 the plain size
    # vector alone measured 242 M → 167 M candidates.
    i_ub = reduce(
        add,
        [
            F.least(F.col(f"a.n{p}"), F.col(f"b.n{p}"))
            - (
                (F.col(f"a.n{p}") == F.col(f"b.n{p}"))
                & (F.col(f"a.h{p}") != F.col(f"b.h{p}"))
            ).cast("int")
            for p in range(m)
        ],
    )
    cond = (
        (F.col("a.pid") == F.col("b.pid"))
        & (F.col("a.sub") == F.col("b.sub"))
        & (F.col("a.id") < F.col("b.id"))
        & (F.least(na, nb) >= F.lit(t) * F.greatest(na, nb) - F.lit(eps))
        & (i_ub >= F.lit(t) * (na + nb) / F.lit(1.0 + t) - F.lit(eps))
        & first_match
    )
    # The subarrays hold DISTINCT codes, so |A ∪ B| = n_a + n_b − |A ∩ B|.
    inter = reduce(
        add,
        [
            F.when(
                F.col(f"a.s{p}") == F.col(f"b.s{p}"), F.size(F.col(f"a.s{p}"))
            ).otherwise(
                F.size(F.array_intersect(f"a.s{p}", f"b.s{p}"))
            )
            for p in range(m)
        ],
    )
    jac = inter / (na + nb - inter)
    jac_nd = F.rand(42) * F.lit(0.0) + jac
    return (
        sig.alias("a")
        .join(sig.alias("b").hint("shuffle_hash"), cond)
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            jac_nd.alias("_jac"),
        )
        .filter(F.col("_jac") >= t)
        .select("doc_a", "doc_b", F.round("_jac", 4).alias("jaccard"))
    )


def _jaccard_prefix_path(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Prefix-filter (PPJoin-family) strategy for the thresholds where
    pigeonhole partitioning degenerates.

    Prefix-filter principle: order every document's distinct tokens
    by ONE global total order (document frequency ascending, token code
    as tiebreak — rarest first; any consistent order is complete); if
    ``J(a,b) >= t`` then the first ``|d| - ceil(t*|d|) + 1`` tokens of
    each side must share at least one token. Candidate pairs therefore
    come from a self-join on PREFIX tokens only — and because prefixes
    lead with the rarest tokens, bucket sizes stay small where a full
    token inverted index would put every stopword-sharing pair in one
    bucket.

    Two further PPJoin filters prune candidates inside the join — the
    defense against natural-text corpora where a common token lands in
    the prefix of many short documents:

    - LENGTH filter: ``J(a,b) >= t`` forces ``min(n_a, n_b) >=
      t * max(n_a, n_b)`` (overlap is at most the smaller set), so
      grossly mismatched sizes never pair.
    - POSITIONAL filter: a true pair's FIRST shared canonical token at
      0-based prefix positions ``(p_a, p_b)`` has no shared tokens
      before it, so overlap <= ``1 + min(n_a - p_a - 1, n_b - p_b - 1)``;
      Jaccard >= t needs overlap >= ``t * (n_a + n_b) / (1 + t)``. A
      pair is kept if ANY shared prefix token passes — the first shared
      token always does for a true pair, so no recall loss.

    Prefix rows carry their doc's full code array, so the filters and
    the exact verify all evaluate in the ONE candidate join, reading the
    arrays in place; a join-output row only materializes for accepted
    pairs. A pair appears once per shared prefix token, and every copy
    is the same (doc_a, doc_b, jaccard) row — same arrays, same integer
    counts, same double — so the final ``distinct`` returns exactly the
    naive join. All copies of a pair come from one doc_a partition, so
    the partial aggregate removes them map-side.

    The ordered token table feeds both sides of the join; it persists
    through the session cache registry so the build runs once.
    """
    from pyspark import StorageLevel

    from ..plans.cache_registry import persist_slot

    t = float(threshold)
    ordered = (
        _token_codes(docs, id_col, text_col)
        .select("id", F.struct("df", "code").alias("k"))
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("k")).alias("ks"))
        .select(
            "id",
            F.transform("ks", lambda k: k["code"]).alias("tks"),
            F.size("ks").alias("n"),
        )
    )
    # DISK_ONLY: proven safe at sf10 back when the arrays held strings;
    # the registered t=0.9 query takes the PTJ path, so the level of
    # this fallback is not re-measured.
    ordered = persist_slot(
        ordered, "jaccard_prefix_ordered", StorageLevel.DISK_ONLY
    )
    prefix_len = (F.col("n") - F.ceil(F.col("n") * F.lit(t)) + 1).cast("int")
    prefixes = ordered.select(
        "id",
        "n",
        "tks",
        F.posexplode(F.slice("tks", 1, prefix_len)).alias("pos", "ptok"),
    )
    na, nb = F.col("a.n"), F.col("b.n")
    overlap_ub = F.lit(1) + F.least(
        na - F.col("a.pos") - 1, nb - F.col("b.pos") - 1
    )
    # The bounds compare an INTEGER against t-scaled reals; a boundary
    # pair (e.g. J exactly 0.9 with |a|=27, |b|=30 needs overlap 27 but
    # 0.9*57/1.9 rounds to 27.000000000000004) must not be pruned, so
    # both filters get a small slack — pruning bounds may only ever be
    # loose, the exact verify removes anything the slack admits.
    eps = 1e-6
    min_overlap = F.lit(t) * (na + nb) / F.lit(1.0 + t) - F.lit(eps)
    # tks holds DISTINCT codes, so |a ∪ b| = n_a + n_b − |a ∩ b|; the
    # rand barrier of :func:`_overlap` keeps the intersect to one
    # evaluation per candidate while the cheap length, positional and
    # id filters still push into the join condition.
    inter = F.size(F.array_intersect("a.tks", "b.tks"))
    jac_nd = F.rand(42) * F.lit(0.0) + inter / (na + nb - inter)
    return (
        prefixes.alias("a")
        .join(prefixes.alias("b"), "ptok")
        .filter(F.col("a.id") < F.col("b.id"))
        .filter(
            F.least(na, nb) >= F.lit(t) * F.greatest(na, nb) - F.lit(eps)
        )
        .filter(overlap_ub >= min_overlap)
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            jac_nd.alias("_jac"),
        )
        .filter(F.col("_jac") >= t)
        .select("doc_a", "doc_b", F.round("_jac", 4).alias("jaccard"))
        .distinct()
    )


# ---------------------------------------------------------- containment

def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int = 20,
    min_containment: float = 0.8,
) -> DataFrame:
    """Near-SUPERSET pairs: containment |A∩B| / min(|A|,|B|) over hashed
    word-n-gram shingle sets. A short document quoted inside a longer one
    has containment ≈ 1 but LOW Jaccard — symmetric near-dup (MinHash /
    :func:`banded_minhash_pairs`) structurally misses exactly these, so
    boilerplate-wrapped copies and quote-expansions survive a
    Jaccard-only dedup pass.

    Candidate generation blocks on RARE shingles (an inverted index over
    :func:`hashed_shingles`, keeping postings of 2..``max_df`` docs):
    any contained copy shares ALL of the core's shingles, so sharing one
    rare shingle is a complete candidate signal for contained text that
    is itself non-boilerplate, and candidate cost is bounded by
    Σ df² over kept shingles ≤ max_df · |postings| — never |corpus|².
    High-df shingles are exactly the boilerplate the containment verify
    would reject anyway. A count-only bound prunes the candidates before
    any array is attached; :func:`_overlap` verifies the survivors.
    Output: (doc_a, doc_b, containment ≥ ``min_containment``, jaccard),
    both rounded to 4 places.
    """
    from ..plans.cache_registry import persist_slot
    from ..plans.parallelism import keyed_fanout

    # The shingle table feeds the inverted index, the hot-gram counts,
    # the per-doc stats and both verify sides. The session cache slot
    # computes it once and keeps its shallow lineage (a lost block
    # recomputes), and bounds pinned storage to ONE shingle table per
    # session. Explicit release:
    # plans.cache_registry.release_slot(spark, "containment_shingles").
    sh = persist_slot(
        _shingle_table(df, id_col, text_col, n), "containment_shingles"
    )
    inv = sh.select(F.col(id_col), F.explode("shh").alias("g"))
    # The pair stream is ~10⁸ nearly-all-distinct rows at sf10, so
    # byte-based AQE sizing would coalesce its aggregate onto a few fat
    # tasks; it is repartitioned on doc_a at the input-derived fan-out.
    # doc_a alone clusters every (doc_a, doc_b) group and is the layout
    # the st_a join needs, so ONE exchange serves the count and that
    # join. Per-doc_a fan-in is bounded by the doc's kept-gram count ×
    # max_df.
    #
    # The count is an exact intersection statistic: a pair is emitted
    # from gram g's list iff g ∈ A∩B and df(g) ≤ max_df (kept lists are
    # complete), so c_ab = |A∩B ∩ R|, R = grams with df ≤ max_df. Every
    # shared gram is in R or HOT (df > max_df), and the hot part is
    # bounded by either doc's hot-gram count:
    #   |A∩B| = c_ab + |A∩B∖R| ≤ c_ab + min(h_a, h_b) = I_ub.
    # A hash collision inside hashed_shingles affects c_ab and the
    # verify alike (both see the hashed sets), so the bound is exact
    # for the operator's declared semantics.
    fanout = keyed_fanout(df)
    cand = (
        _list_pairs(_capped_lists(inv, ["g"], id_col, max_df))
        .repartition(fanout, "doc_a")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_cab"))
    )
    hot = (
        inv.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("g")
    )
    h = (
        inv.join(hot.hint("shuffle_hash"), "g", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_h"))
    )
    # h is |corpus|-sized in the worst case, so the stats attach is
    # pinned shuffle_hash like every other per-doc join here.
    stats = (
        sh.select(F.col(id_col), F.size("shh").alias("_n"))
        .join(h.hint("shuffle_hash"), id_col, "left")
        .select(id_col, "_n", F.coalesce("_h", F.lit(0)).alias("_h"))
    )
    st_a = stats.select(
        F.col(id_col).alias("doc_a"),
        F.col("_n").alias("_na"),
        F.col("_h").alias("_ha"),
    )
    st_b = stats.select(
        F.col(id_col).alias("doc_b"),
        F.col("_n").alias("_nb"),
        F.col("_h").alias("_hb"),
    )
    i_ub = F.col("_cab") + F.least(F.col("_ha"), F.col("_hb"))
    # The operator's semantics is the ROUNDED ratio: the final filter
    # keeps round(I/min, 4) ≥ t. HALF_UP rounding to 4 places raises a
    # value by at most 5e-5, so round(I/min, 4) ≥ t implies
    # I_ub ≥ I ≥ (t − 5e-5)·min, and pruning below that drops only pairs
    # the filter drops too. A prune at t·min would lose true pairs whose
    # raw ratio lies in [t − 5e-5, t) — e.g. I = 3608 of min = 4009 at
    # t = 0.9 (ratio 0.899975, rounded 0.9). ε absorbs the float error of
    # the product and of round's decimal view of the double ratio (both
    # ~1e-16·min) — pruning bounds may only ever be loose, the exact
    # verify below decides.
    cand = (
        cand.join(st_a.hint("shuffle_hash"), "doc_a")
        .join(st_b.hint("shuffle_hash"), "doc_b")
        .filter(
            i_ub
            >= F.lit(min_containment - 5e-5) * F.least("_na", "_nb")
            - F.lit(1e-9)
        )
        .select("doc_a", "doc_b")
        .repartition(fanout, "doc_a")
    )
    return (
        _overlap(cand, "doc_a", "doc_b", sh, sh, id_col)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("i") / F.least("na", "nb"), 4).alias("containment"),
            _jaccard().alias("jaccard"),
        )
        .filter(F.col("containment") >= min_containment)
    )


# --------------------------------------------- incremental (delta) dedup

def build_band_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 9,
    rows_per_band: int = 2,
    max_posting: int = 1000,
) -> DataFrame:
    """Persisted-form MinHash band index over a corpus: one row per
    (band, key) bucket with the sorted posting list of corpus ids. THE
    artifact an incremental ingestion pipeline stores (write it
    partitioned by ``band``) so each new batch probes the index instead
    of re-banding the accumulated 100 TB corpus.

    ``max_posting`` drops hot buckets at BUILD time (same rationale and
    default as :func:`banded_minhash_pairs`' ``max_bucket``: a bucket of
    m near-identical docs makes every future probe generate m candidates
    per band; exact-dup clusters belong to :func:`exact_dedup`).

    The banding parameters are stamped into the ``band`` column's schema
    METADATA — they travel with the artifact through persist/checkpoint
    and through a parquet round trip — so :func:`delta_dedup_pairs` can
    validate a probe's parameters against the index without launching a
    scan."""
    sh = _shingle_table(corpus, id_col, text_col, n)
    return _capped_lists(
        band_buckets(sh, id_col, bands, rows_per_band),
        ["band", "key"],
        id_col,
        max_posting,
    ).withMetadata(
        "band", {"bands": bands, "rows_per_band": rows_per_band, "n": n}
    )


def delta_dedup_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    index: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 9,
    rows_per_band: int = 2,
    min_jaccard: float = 0.5,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs between a NEW batch (``delta``) and an EXISTING
    corpus, without re-banding the corpus: the delta's band keys probe
    the corpus band index (prebuilt ``index``, or derived here), and
    only colliding (delta, corpus) pairs are exact-Jaccard verified.

    The probe-many production artifact is TWO persisted tables —
    the ``index`` postings AND ``corpus_shingles`` (the per-doc hashed
    shingle sets the verify join reads). With both supplied, a probe's
    work scales with |delta| · collision-rate, never |corpus|; without
    ``corpus_shingles`` the verify pays one full corpus shingle pass
    (pruned to candidate ids before hashing), and without ``index``
    this degrades to an ad-hoc one-shot build.

    Cap semantics MATCH :func:`banded_minhash_pairs` exactly: a
    (band, key) bucket whose TOTAL population (corpus postings + delta
    probes this batch) exceeds ``max_bucket`` generates no candidates —
    so the incremental path emits exactly the batch self-join's
    (delta, corpus) cross pairs even at the hot-bucket boundary
    (equivalence-tested). Build the index with ``max_posting`` ≥ this
    ``max_bucket``; a MISMATCHED index (different bands/rows/n than the
    probe arguments) silently collides on nothing — indexes built by
    :func:`build_band_index` carry their parameters as schema metadata
    and are validated here WITHOUT any scan; a foreign postings table
    without metadata falls back to a one-off ``max(band)`` probe.

    Output: (delta_id, corpus_id, jaccard ≥ ``min_jaccard``).
    """
    sh_d = _shingle_table(delta, id_col, text_col, n)
    if index is None:
        index = build_band_index(
            corpus, id_col, text_col, n, bands, rows_per_band,
            max_posting=max_bucket if max_bucket is not None else 1 << 31,
        )
    else:
        meta = index.schema["band"].metadata if "band" in index.columns else {}
        if meta.get("bands") is not None:
            # built by build_band_index: full no-scan validation
            got = {k: meta.get(k) for k in ("bands", "rows_per_band", "n")}
            want = {"bands": bands, "rows_per_band": rows_per_band, "n": n}
            if got != want:
                raise ValueError(
                    f"band index was built with {got} but the probe uses "
                    f"{want} — rebuild the index or pass matching banding "
                    "parameters"
                )
        else:
            # foreign postings table without metadata: one-off structural
            # probe (band ids are 0..bands-1); rows_per_band/n mismatches
            # are not detectable structurally
            got_bands = index.agg(F.max("band")).first()[0]
            if got_bands is not None and got_bands + 1 != bands:
                raise ValueError(
                    f"band index was built with {got_bands + 1} bands but "
                    f"the probe uses bands={bands} — rebuild or pass "
                    "matching banding parameters"
                )
    delta_buckets = band_buckets(sh_d, id_col, bands, rows_per_band)
    collided = delta_buckets.join(index, ["band", "key"])
    if max_bucket is not None:
        # total bucket population = corpus postings + delta members, the
        # SAME quantity banded_minhash_pairs caps on the combined corpus
        delta_cnt = delta_buckets.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("_dn")
        )
        collided = collided.join(delta_cnt, ["band", "key"]).filter(
            F.size("ids") + F.col("_dn") <= max_bucket
        )
    cand = (
        collided.select(
            F.col(id_col).alias("delta_id"),
            F.explode("ids").alias("corpus_id"),
        )
        .distinct()
    )
    if corpus_shingles is not None:
        sh_c = corpus_shingles
    else:
        # prune to candidate ids BEFORE hashing shingles, so the ad-hoc
        # path shingle-hashes only colliding corpus docs
        cand_ids = cand.select(F.col("corpus_id").alias(id_col)).distinct()
        sh_c = _shingle_table(
            corpus.join(cand_ids, id_col, "semi"), id_col, text_col, n
        )
    return (
        _overlap(cand, "delta_id", "corpus_id", sh_d, sh_c, id_col)
        .select("delta_id", "corpus_id", _jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )
