"""Deduplication operators for LLM training-data pipelines.

Five strategies, each a different cost/recall point (north-star list in
BASELINE.json; patterns from PAPERS.md distributed-similarity papers):

- :func:`exact_dedup` — hash groupBy on a canonical content key.
- :func:`simhash` — 60-bit bit-vote fingerprint; near-dups differ in few
  bits (Hamming ball search downstream).
- :func:`ngram_jaccard_pairs` — word n-gram shingle Jaccard for candidate
  pairs.
- :func:`minhash_lsh_pairs` — MinHash+LSH banding via MLlib: the sub-
  quadratic 100 TB path (shingle → minhash sketch → band bucket join).
- :func:`embedding_near_dup_pairs` — semantic near-dup via embedding cosine
  within blocking keys.

Scale notes: exact/simhash/fingerprint are single-pass + one shuffle on the
key. Pairwise strategies are quadratic unless blocked — ``block_col``
(label, language, LSH bucket) bounds the join fan-out; MinHashLSH's
``approxSimilarityJoin`` does the same with hash bands. None of them
collect to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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
    token array) — ZERO shuffle, one codegen'd pass over the scan. An
    earlier version exploded tokens and hash-aggregated 60 vote sums per
    doc; the shuffle made it the slowest query in the bench at sf0.1
    (2.0 s → 0.6 s). At 100 TB the difference is categorical: fingerprints
    stream out at scan speed with no exchange at all.
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
    shingle table is computed once and joined twice; set ops stay JVM-side
    (array_intersect / array_union).
    """
    sh = ensure_parallelism(df.filter(F.size(F.split(text_col, " ")) >= n)).select(
        F.col(id_col).alias("_id"), shingles(text_col, n).alias("sh")
    )
    a = sh.select(F.col("_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        pair_df.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ).alias("jaccard"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hash_tables: int = 5,
    max_distance: float = 0.5,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via MinHash + LSH banding (sub-quadratic).

    shingle → HashingTF (binary) → MinHashLSH sketch → band-bucket self-join
    with Jaccard-distance cutoff. This is the 100 TB near-dup path: the
    candidate set is |bucket|² per band, not |corpus|².
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    base = df.filter(F.size(F.split(text_col, " ")) >= n).select(
        id_col, shingles(text_col, n).alias("sh")
    )
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=num_features, binary=True
    )
    feat = tf.transform(base).filter(F.size("sh") > 0)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(feat)
    joined = model.approxSimilarityJoin(feat, feat, max_distance, distCol="jaccard_dist")
    return (
        joined.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
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
    every ``element_at`` call, so the indexed form re-evaluated the
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
    k=bands·rows minhash signature (one ``array_min∘transform`` fold per
    permutation, seeded ``xxhash64`` — all JVM-side, zero shuffles) →
    band keys → ONE hash aggregation per (band, key) bucket with pairs
    generated from the bucket's id array (higher-order functions, no
    bucket self-join) → candidates verified with exact hashed-shingle
    Jaccard, keep ≥ ``min_jaccard``.

    Shuffle budget: one exchange for the bucket groupBy, one for the
    candidate ``distinct``, two broadcast-or-shuffle joins for verify —
    versus the naive window-cap + self-join + distinct formulation's four
    wide exchanges of the full bucket table. At sf0.1 this is 11 s → ~3 s;
    at cluster scale the removed exchanges are the whole ballgame.

    Candidate cost is Σ|bucket|² per band, not |corpus|². With r=2
    rows/band, b=9 bands the match probability is 1-(1-s²)⁹ — ≈97% recall
    at s=0.5, near-0 below s=0.2. Unlike MLlib's ``approxSimilarityJoin``
    there is no model fit, no sparse-vector materialization, and no UDF
    distance in the hot path.

    ``max_bucket`` drops buckets larger than that many docs before pair
    generation — a cluster of m near-identical docs otherwise produces
    m²/2 candidate pairs in EVERY band, the classic LSH hot-bucket blow-up
    at corpus scale. Dropped buckets are almost always exact-duplicate
    clusters (handled by :func:`exact_dedup` upstream) or degenerate
    boilerplate; pair the cap with exact dedup, don't rely on it alone.
    ``None`` disables the cap (exhaustive, small corpora only).
    """
    sh = ensure_parallelism(df.filter(F.size(F.split(text_col, " ")) >= n)).select(
        id_col, hashed_shingles(text_col, n).alias("shh")
    )
    buckets = band_buckets(sh, id_col, bands, rows_per_band)
    if max_bucket is not None:
        # Cap bucket membership at max_bucket+1 rows BEFORE collect_list
        # (row_number compiles to WindowGroupLimit on the same
        # (band, key) partitioning the groupBy needs — no extra
        # exchange): without it, a mega-cluster's ENTIRE bucket list is
        # materialized in one aggregation buffer per band before the
        # size filter drops it — the containment_pairs OOM class. A
        # capped bucket keeps max_bucket+1 members and fails the same
        # size filter the uncapped list would have: identical pairs.
        from pyspark.sql import Window

        wb = Window.partitionBy("band", "key").orderBy(id_col)
        buckets = (
            buckets.withColumn("_rn", F.row_number().over(wb))
            .filter(F.col("_rn") <= max_bucket + 1)
            .drop("_rn")
        )
    grp = buckets.groupBy("band", "key").agg(F.collect_list(id_col).alias("ids"))
    size_ok = F.size("ids") >= 2
    if max_bucket is not None:
        size_ok = size_ok & (F.size("ids") <= max_bucket)
    cand = (
        grp.filter(size_ok)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, a -> filter(transform(ids, "
                    "b -> if(a < b, struct(a as doc_a, b as doc_b), null)), "
                    "p -> p is not null)))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("shh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("shh").alias("sh_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ).alias("jaccard"),
        )
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

    1. Tokens recode to ``xxhash64`` longs with the min/max collision
       tripwire (a 64-bit collision between distinct spellings raises
       instead of silently merging intersections — bijection is what
       makes code-array equality equal set equality).
    2. One groupBy(id) builds the m per-part SORTED code subarrays as
       plain columns s0..s{m-1} (m is a plan-time constant — the whole
       verify unrolls into codegen'd expressions, no interpreted HOF
       folds). The table persists through the session cache registry;
       both join sides read the columnar cache.
    3. Each doc emits m signature rows (pid, sub = its part subarray);
       candidates come from ONE equi-join on (pid, sub) — subset
       equality IS the join key, hashed by Spark over the long arrays,
       no token-level fan-out. The join is pinned ``shuffle_hash``: the
       build side is the full signature table (every doc × m rows), so
       letting size mis-estimates pick BroadcastHashJoin would ship the
       corpus to every executor at cluster scale (the round-10 verdict's
       q_containment/q_jaccard broadcast hazard).
    4. FIRST-MATCH dedup as a join residual: a pair sharing several
       part-subsets matches once per shared part; keeping only the
       smallest matching pid (cheap array inequality on the earlier
       parts, exact — no hashes) makes each pair appear EXACTLY once,
       so the old post-verify 123 M-row ``distinct`` disappears.
    5. Exact verify in the projection: |A∩B| = Σ_p (a_p == b_p ?
       |a_p| : |a_p ∩ b_p|) — parts partition the domain, so the sum is
       the exact integer intersection; intersects only run on the ≤ H
       differing parts. ``rand(42)*0.0 + jac`` keeps the optimizer from
       pushing the jac filter into the join condition where the
       subexpression would evaluate per candidate twice (bit-identical:
       rand ∈ [0,1) ⇒ rand*0.0 is exactly +0.0 and jac ≥ 0).
    """
    from functools import reduce
    from operator import add, and_

    from pyspark import StorageLevel

    from ..plans.cache_registry import persist_slot

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(text_col, " "))).alias("tok"),
    )
    codes = toks.groupBy(F.xxhash64("tok").alias("code")).agg(
        F.min("tok").alias("_lo"), F.max("tok").alias("_hi")
    )
    # Bijection tripwire: assert_true returns NULL when the slot held a
    # single distinct token; a collision raises with both spellings.
    code_checked = F.when(
        F.assert_true(
            F.col("_lo") == F.col("_hi"),
            F.concat(
                F.lit("jaccard_prefix_join: xxhash64 token collision: "),
                F.col("_lo"),
                F.lit(" / "),
                F.col("_hi"),
            ),
        ).isNull(),
        F.col("code"),
    )
    codes = codes.select(F.col("code").alias("_jc"), code_checked.alias("code"))
    rec = toks.join(codes, F.xxhash64("tok") == F.col("_jc")).select(
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
    # int64 code subarrays: ~9× smaller than the string arrays that
    # forced the old prefix path to DISK_ONLY; measured at sf10 the
    # columnar MEMORY_AND_DISK cache fits the default 8 GB heap.
    sets = persist_slot(sets, "jaccard_ptj_sets", StorageLevel.MEMORY_AND_DISK)
    nsz = [f"n{p}" for p in range(m)]
    hsh = [f"h{p}" for p in range(m)]
    sig = sets.select(
        "id",
        "n",
        *subs,
        *nsz,
        *hsh,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("pid"), F.col(f"s{p}").alias("sub")
                    )
                    for p in range(m)
                ]
            )
        ).alias("e"),
    ).select(
        "id",
        "n",
        *subs,
        *nsz,
        *hsh,
        F.col("e.pid").alias("pid"),
        F.col("e.sub").alias("sub"),
    )
    # The candidate join's cost is per-CANDIDATE compute, not bytes: at
    # sf10 the signature exchange is ~340 MB feeding ~10 CPU-minutes of
    # verify, so byte-based AQE sizing would leave it on |shuffle
    # partitions| coarse tasks and the hottest buckets straggle
    # (measured: 33 % idle slot time at 32 tasks). Partition the ONE
    # exchange both sides share by the join key at the input-derived
    # fan-out (keyed_fanout: 8× the corpus scan's split count clamped to
    # [cores, 8× cores] — hits the 8×-core ceiling at audit scale and
    # above, degrades to the core count on small inputs where a flat
    # constant paid hundreds of near-empty task launches); an explicit
    # repartition count also keeps AQE from re-coalescing.
    from ..plans.parallelism import keyed_fanout

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
    # tks hold DISTINCT tokens, so |A ∪ B| = n_a + n_b − |A ∩ B| exactly.
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
    by ONE global canonical order (document frequency ascending, token as
    tiebreak — rarest first); if ``J(a,b) >= t`` then the first
    ``|d| - ceil(t*|d|) + 1`` tokens of each side must share at least one
    token. Candidate pairs therefore come from a self-join on PREFIX
    tokens only — and because prefixes lead with the rarest tokens,
    bucket sizes stay small where a full token inverted index would put
    every stopword-sharing pair in one bucket.

    Two further PPJoin filters prune candidates BEFORE the distinct and
    the verify joins — the defense against natural-text corpora where a
    common token lands in the prefix of many short documents (the
    round-9 scale audit's costliest entry, 494 s at sf10, was governed
    by exactly that bucket-size hazard):

    - LENGTH filter: ``J(a,b) >= t`` forces ``min(n_a, n_b) >=
      t * max(n_a, n_b)`` (overlap is at most the smaller set), so
      grossly mismatched sizes never pair.
    - POSITIONAL filter: a true pair's FIRST shared canonical token at
      0-based prefix positions ``(p_a, p_b)`` has no shared tokens
      before it, so overlap <= ``1 + min(n_a - p_a - 1, n_b - p_b - 1)``;
      Jaccard >= t needs overlap >= ``t * (n_a + n_b) / (1 + t)``. A
      pair is kept if ANY shared prefix token passes — the first shared
      token always does for a true pair, so no recall loss.

    Exact verification then removes the surviving false candidates, so
    the result is identical to the naive O(n²) join (that identity IS
    the oracle and is pinned in tests/test_extensions.py).

    Shuffles: token-df aggregation, the df join-back, the per-doc sort
    (id-keyed), the prefix-token candidate join (whose condition IS the
    exact verify — see below), and the final output dedup — all on
    bounded keys, no cross join anywhere.

    Two round-10 measured rewrites (sf10 stage profile, guide §1):

    - **64-bit token recode.** Tokens are recoded to ``xxhash64`` codes
      before the per-doc sort: the canonical order becomes (df, code) —
      a different but still CONSISTENT total order, which is all the
      prefix-filter completeness theorem needs — and every downstream
      structure (the DISK_ONLY cache, the candidate-join key, the two
      verify broadcasts, the per-pair ``array_intersect``) carries longs
      instead of strings. ``array_intersect`` on primitive longs skips
      per-element UTF8String hashing/equality, and the verify broadcast
      shrinks ~3×(measured GC-pressure source at sf10). Output identity
      needs the recode to be a BIJECTION, so the df aggregate carries a
      min/max-token tripwire: a 64-bit collision between two distinct
      tokens raises instead of silently merging intersections (birthday
      bound ~2.7% at a 10⁹-token vocabulary; on a corpus that trips it,
      drop back to string tokens — correctness never degrades quietly).
    - **Dedup moved AFTER the verify.** A candidate pair appears once
      per shared prefix token; at threshold 0.9 the measured duplication
      is only 1.27× (418 M → 328 M at sf10) while the pre-verify
      ``distinct`` was the single most expensive stage (~80 s: a full
      exchange + hash-agg of every candidate row). Verifying the raw
      candidate stream (+27 % intersect work, no exchange) and deduping
      the FAR smaller accepted-pair output is strictly cheaper;
      duplicates of a pair produce the same (doc_a, doc_b, jaccard)
      row — same arrays, same integer counts, same double — so the
      final ``distinct`` returns exactly the old result. All dups of
      one pair also originate from one doc_a cache partition, so the
      partial aggregate removes them map-side and the exchange carries
      ≈ the true output.
    - **Verify fused into the candidate join.** Prefix rows carry their
      doc's full recoded token array, so length filter, positional
      filter and the exact Jaccard test all evaluate inside the ONE
      join's condition, reading the arrays in place; a join-output row
      only materializes for accepted pairs. The old ids-only candidate
      stream re-joined the token table twice, copying a ~200 B array
      into every one of 418 M candidate rows before the verify could
      reject 70 % of them — the dominant CPU cost (2720 CPU-s) of the
      sf10 stage profile after the first two fixes.

    The canonically-ordered token table feeds the two sides of the
    verify-fused candidate join; left lazy, each branch re-tokenizes
    the corpus and re-runs the token-df shuffle — the dominant cost of
    the first sf10 reading. It is persisted through the session cache
    registry (one generation per session, shallow lineage on release —
    the ``containment_pairs`` pattern), so the build runs once and the
    branches read the columnar cache.
    """
    from ..plans.cache_registry import persist_slot

    t = float(threshold)
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(text_col, " "))).alias("tok"),
    )
    dfreq = toks.groupBy(F.xxhash64("tok").alias("code")).agg(
        F.count(F.lit(1)).alias("df"),
        F.min("tok").alias("_lo"),
        F.max("tok").alias("_hi"),
    )
    # Bijection tripwire: assert_true returns NULL when the slot held a
    # single distinct token; a collision raises with both spellings.
    df_checked = F.when(
        F.assert_true(
            F.col("_lo") == F.col("_hi"),
            F.concat(
                F.lit("jaccard_prefix_join: xxhash64 token collision: "),
                F.col("_lo"),
                F.lit(" / "),
                F.col("_hi"),
            ),
        ).isNull(),
        F.col("df"),
    )
    dfreq = dfreq.select("code", df_checked.alias("df"))
    ordered = (
        toks.join(dfreq, F.xxhash64("tok") == F.col("code"))
        .select("id", F.struct("df", "code").alias("k"))
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("k")).alias("ks"))
        .select(
            "id",
            F.transform("ks", lambda k: k["code"]).alias("tks"),
            F.size("ks").alias("n"),
        )
    )
    # DISK_ONLY: the MEMORY_AND_DISK unroll across all concurrent tasks
    # OOM'd the sf10 sweep at the default 8 GB heap when this table held
    # wide STRING token arrays; the round-10 xxhash64 recode made the
    # payload int64 arrays (~9× narrower — the PTJ path's sibling cache
    # measures fine at MEMORY_AND_DISK), but this fallback path no
    # longer runs at audited scale (the registered t=0.9 query takes the
    # PTJ path), so the proven-safe level is kept rather than
    # re-measured.
    from pyspark import StorageLevel

    ordered = persist_slot(
        ordered, "jaccard_prefix_ordered", StorageLevel.DISK_ONLY
    )
    prefix_len = (F.col("n") - F.ceil(F.col("n") * F.lit(t)) + 1).cast("int")
    # Prefix rows CARRY their doc's full (recoded) token array, so the
    # exact verify evaluates inside the candidate join's own condition —
    # the arrays are read in place from the stream/build rows and a
    # join-output row only materializes for pairs that PASS. The old
    # shape (ids-only candidates, then two id-keyed joins back to the
    # token table) copied tks_a into 418 M join rows before the verify
    # could reject 70 % of them — measured as the dominant CPU cost of
    # the sf10 stage profile after the dedup move (2720 CPU-s).
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
    # tks holds DISTINCT tokens, so |a ∪ b| = n_a + n_b − |a ∩ b|
    # exactly — same integer, same double after the division — and the
    # verify does one array walk per pair instead of two.
    inter = F.size(F.array_intersect("a.tks", "b.tks"))
    jac = inter / (na + nb - inter)
    # ONE intersect per candidate, total. Written plainly, the
    # deterministic `jac >= t` filter gets pushed into the join
    # condition, where the intersect is evaluated TWICE per candidate
    # (numerator and denominator — join conditions get no
    # subexpression elimination) and twice more in the projection for
    # every accepted pair: ~1 B intersect calls at sf10, the measured
    # residual cost of this query. The guide-§4.4 nondeterministic
    # marker, applied at expression level: `rand()*0.0` is exactly
    # +0.0 for every draw (rand ∈ [0,1), finite) and jac ≥ 0, so
    # `rand()*0.0 + jac` is BIT-IDENTICAL to jac — but the alias is
    # now nondeterministic, the filter cannot be pushed past it, and
    # the single projection evaluates the intersect once (project
    # lists DO get subexpression elimination). The cheap length/
    # positional/id filters above stay deterministic and still push
    # into the join condition where they belong.
    jac_nd = F.rand(42) * F.lit(0.0) + jac
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
    would reject anyway. Verify is one exact set intersection per
    candidate pair; both joins key on 8-byte ids.
    """
    sh = ensure_parallelism(
        df.filter(F.size(F.split(text_col, " ")) >= n)
    ).select(id_col, hashed_shingles(text_col, n).alias("shh"))
    # The shingle table feeds THREE branches (inverted index + both verify
    # sides); without materialization each branch re-tokenizes and re-hashes
    # the corpus. persist() computes each partition once and — unlike the
    # former localCheckpoint, whose lineage-free blocks die with their
    # executor — keeps the (shallow: scan + project) lineage, so a lost
    # block recomputes instead of failing the query. Payload is
    # |docs| × ~|shingles| int64s, memory-and-disk. The return value is
    # lazy, so the blocks must outlive this function; the session-scoped
    # cache slot bounds pinned storage to ONE shingle table per session
    # (each pass releases the previous pass's blocks; a stale earlier
    # result recomputes its shallow lineage instead of failing). Explicit
    # release: plans.cache_registry.release_slot(spark, "containment_shingles").
    from ..plans.cache_registry import persist_slot

    sh = persist_slot(sh, "containment_shingles")
    inv = sh.select(F.col(id_col), F.explode("shh").alias("g"))
    # Candidate pairs from ONE pass over the inverted index. The former
    # UNCAPPED collect_list posting build materialized each gram's
    # ENTIRE id list in ObjectHashAggregate buffers (a mega-hot gram's
    # full posting before the df filter could discard it) and OOM'd the
    # sf10 sweep at the default heap; the round-10 fix replaced lists
    # with a row_number cap + count window + gram-keyed SELF-JOIN — but
    # that executed the whole explode+window pipeline TWICE (once per
    # join side, the measured twin ~830 CPU-s stages) and re-shuffled
    # the pool into the join. Now:
    #   1. row_number cap at max_df+1 per gram — compiles to
    #      WindowGroupLimit, so a hot gram's postings are pruned
    #      map-side BEFORE the exchange (a boilerplate gram shared by
    #      1% of a 100 TB corpus barely shuffles);
    #   2. collect_list per gram on the SAME g-partitioning (no second
    #      exchange, and now provably bounded at max_df+1 ids — the
    #      hazard that forbade lists is gone);
    #   3. grams whose CAPPED list exceeds max_df are dropped (they had
    #      df > max_df — identical survivor set to the count-window
    #      form) and the ≤ C(max_df, 2) in-list pair combinations are
    #      emitted map-side; sort_array makes doc_a < doc_b by
    #      construction. One window pipeline execution total, no join.
    from pyspark.sql import Window

    wg = Window.partitionBy("g").orderBy(id_col)
    posting = (
        inv.withColumn("_rn", F.row_number().over(wg))
        .filter(F.col("_rn") <= max_df + 1)
        .groupBy("g")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_df))
    )
    ids = F.col("ids")
    combos = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    # (A distinct-posting-list dedup before the explode was measured
    # here and reverted: at sf10 the 536 k kept lists held 2.7 M
    # distinct values and the duplicated pair stream only dropped
    # 124 M → 112 M — the extra list exchange cost more than the 10 %
    # pair reduction saved.)
    # (Fusing the pair dedup onto the join-1 exchange — repartition by
    # doc_a BEFORE the distinct, whose (doc_a, doc_b) clustering a
    # doc_a-hash layout satisfies — measured noise-equivalent at sf10
    # (57-65 s warm both ways); this form keeps the dedup ahead of the
    # wider fan-out exchange, so the join-1 exchange carries 112 M
    # deduped rows instead of 124 M.)
    #
    # Round 11: the dedup aggregates COUNT instead of distinct (same
    # exchange, same surviving pairs) because the multiplicity is an
    # exact intersection statistic: a pair is emitted from gram g's
    # kept list iff g ∈ A∩B and 2 ≤ df(g) ≤ max_df (kept lists are
    # complete below the cap, and df ≥ 2 is automatic for a SHARED
    # gram), so c_ab = |A∩B ∩ R| exactly, R = grams with df ≤ max_df.
    # Every shared gram is in R or HOT (df > max_df), and the hot part
    # is bounded by either doc's hot-gram count:
    #   |A∩B| = c_ab + |A∩B∖R| ≤ c_ab + min(h_a, h_b) = I_ub.
    # Pairs with I_ub < t·min(na, nb) can never verify, so this
    # count-only prune runs BEFORE the shingle arrays are attached —
    # the verify joins carry ~400 B arrays per row, the prune joins
    # 2 ints. A hash collision inside hashed_shingles affects c_ab and
    # the verify identically (both operate on the hashed sets), so the
    # bound is exact w.r.t. the operator's declared semantics. Per-doc
    # h comes from a full per-gram count aggregate and a gram-keyed
    # semi-join back onto the index; their partial aggregates sit below
    # the exchange so the window's g-exchange is NOT structurally
    # reusable (checked in the executed plan) — both passes instead
    # re-read the session-cached shingle table, never re-tokenizing
    # the corpus, and the hot-gram side shuffles only per-gram partial
    # counts.
    from ..plans.parallelism import keyed_fanout

    # Input-derived fan-out (8× the corpus scan's split count clamped
    # to [cores, 8× cores] — see keyed_fanout): the flat 8×-core
    # constant paid ~hundreds of near-empty task launches at sf0.1.
    fanout = keyed_fanout(df)
    # The explicit key repartition sits BELOW the aggregate: the pair
    # stream is ~10⁸ nearly-all-distinct rows, so byte-based AQE sizing
    # would coalesce the count onto few fat reduce tasks (the
    # basket_pairs finding). Partitioning on doc_a ALONE both satisfies
    # the (doc_a, doc_b) clustered distribution (a subset hash
    # partitioning clusters every group) AND is exactly the layout the
    # st_a prune join needs — ONE fan-out exchange serves the count
    # aggregate and the first stats join; only the st_b join re-keys
    # the stream. Per-doc_a fan-in is bounded by the doc's kept-gram
    # count × max_df, so no single task inherits a mega-key.
    cand = (
        posting.select(F.explode(combos).alias("pr"))
        .select("pr.doc_a", "pr.doc_b")
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
    # h is docs-with-hot-grams-sized — |corpus|-scale in the worst
    # case, so the stats attach is pinned shuffle_hash like every other
    # per-doc join here (the planner's estimate picks a broadcast that
    # cannot fit at cluster scale).
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
    # The pair stream is ~10⁸ rows of two longs at sf10 while each doc's
    # shingle array is ~400 B, so the verify must (a) never broadcast
    # the array table — the planner's size estimate picks exactly that
    # and dies building a multi-GB HashedRelation at the default 8 GB
    # heap (the round-10 audit's flagged hazard, reproduced live this
    # round) — and (b) never SORT the pair stream once arrays are
    # attached (a merge-join variant measured 381 s: an 8.5 GB sorted
    # exchange spilling 50 GB). Pinned shape: shuffled-hash joins at a
    # core-count-derived fan-out, building the BOUNDED side per
    # partition — the ids-only pair stream in join 1 (~7 MB/partition),
    # the per-doc array table in join 2 (~1 MB/partition); the array
    # payload crosses the wire once per side and is never collected.
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("shh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("shh").alias("sh_b"))
    # shh is array_distinct by construction, so |A∪B| = |A|+|B|−|A∩B|
    # exactly — one hash-set pass per pair instead of intersect + union.
    # The intersect rides the jaccard_prefix_join rand-barrier: written
    # plainly, the containment filter collapses into the verify join's
    # condition where the intersect would evaluate again per candidate
    # (join conditions get no subexpression elimination); rand(42)*0.0
    # is exactly +0.0 (rand ∈ [0,1), inter ≥ 0), the alias is
    # nondeterministic, and the single projection evaluates the
    # intersect once.
    inter_nd = F.rand(42) * F.lit(0.0) + F.size(
        F.array_intersect("sh_a", "sh_b")
    )
    return (
        cand.hint("shuffle_hash")
        .join(a, "doc_a")
        .join(b.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("sh_a").alias("_na"),
            F.size("sh_b").alias("_nb"),
            inter_nd.alias("_i"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("_i") / F.least("_na", "_nb"), 4).alias(
                "containment"
            ),
            F.round(
                F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i")), 4
            ).alias("jaccard"),
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
    (band, key) bucket with the posting list of corpus ids. THE artifact
    an incremental ingestion pipeline stores (write it partitioned by
    ``band``) so each new batch probes the index instead of re-banding
    the accumulated 100 TB corpus.

    ``max_posting`` drops hot buckets at BUILD time (same rationale and
    default as :func:`banded_minhash_pairs`' ``max_bucket``: a bucket of
    m near-identical docs makes every future probe generate m candidates
    per band; exact-dup clusters belong to :func:`exact_dedup`).

    The banding parameters are stamped into the ``band`` column's schema
    METADATA — they travel with the artifact through persist/checkpoint
    and through a parquet round trip — so :func:`delta_dedup_pairs` can
    validate a probe's parameters against the index without launching a
    scan (the earlier ``max(band)`` guard ran a full index scan on every
    probe call)."""
    from pyspark.sql import Window

    sh = ensure_parallelism(
        corpus.filter(F.size(F.split(text_col, " ")) >= n)
    ).select(id_col, hashed_shingles(text_col, n).alias("shh"))
    # Pre-cap bucket membership at max_posting+1 (WindowGroupLimit on
    # the same (band, key) partitioning — no extra exchange) so a
    # mega-cluster's full bucket never materializes in one collect_list
    # buffer; a capped bucket fails the same size filter the uncapped
    # list would have, so the surviving index is identical.
    wb = Window.partitionBy("band", "key").orderBy(id_col)
    capped = (
        band_buckets(sh, id_col, bands, rows_per_band)
        .withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") <= max_posting + 1)
        .drop("_rn")
    )
    return (
        capped.groupBy("band", "key")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") <= max_posting)
        .withMetadata(
            "band",
            {"bands": bands, "rows_per_band": rows_per_band, "n": n},
        )
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
    sh_d = ensure_parallelism(
        delta.filter(F.size(F.split(text_col, " ")) >= n)
    ).select(id_col, hashed_shingles(text_col, n).alias("shh"))
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
        sh_c = ensure_parallelism(
            corpus.join(cand_ids, id_col, "semi")
            .filter(F.size(F.split(text_col, " ")) >= n)
        ).select(id_col, hashed_shingles(text_col, n).alias("shh"))
    d = sh_d.select(F.col(id_col).alias("delta_id"), F.col("shh").alias("sh_d"))
    c = sh_c.select(F.col(id_col).alias("corpus_id"), F.col("shh").alias("sh_c"))
    return (
        cand.join(d, "delta_id")
        .join(c, "corpus_id")
        .select(
            "delta_id",
            "corpus_id",
            F.round(
                F.size(F.array_intersect("sh_d", "sh_c"))
                / F.size(F.array_union("sh_d", "sh_c")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
