"""Declared dedup queries (extension ops E1/E2 + north-star dedup family).

Exact, SimHash, n-gram Jaccard and the exact token-Jaccard join have
bit-exact DuckDB oracles (md5 and fold order agree across engines); the
banded-MinHash queries are rows-only (hash-sketch banding is
engine-specific), with recall asserted against the exact Jaccard in
tests/test_extensions.py and the shared pair-join stages pinned against a
Python brute force in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .dedup import (
    SIMHASH_BITS,
    banded_minhash_pairs,
    embedding_near_dup_pairs,
    exact_dedup,
    ngram_jaccard_pairs,
    simhash,
)


@register(
    "q_dedup_exact",
    """
    SELECT min(doc_id) AS doc_id_keep, count(*) AS n_copies
    FROM (SELECT doc_id, list_sort(string_split(text, ' ')) AS k FROM documents)
    GROUP BY k
    """,
    doc="Exact dedup by canonical (sorted) token multiset — hash groupBy, "
    "one shuffle; catches shuffled-word duplicates",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load(spark, sf_dir, "documents"))


_SIMHASH_VOTES = ",\n             ".join(
    f"sum(CASE WHEN (h >> {SIMHASH_BITS - 1 - b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(SIMHASH_BITS)
)
_SIMHASH_FOLD = "\n           + ".join(
    f"CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END"
    for b in range(SIMHASH_BITS)
)


@register(
    "q_simhash",
    f"""
    WITH tok AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 15))
                  AS BIGINT) AS h
      FROM documents
    ),
    votes AS (
      SELECT doc_id,
             {_SIMHASH_VOTES}
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id,
           ({_SIMHASH_FOLD}) AS simhash
    FROM votes
    """,
    doc="SimHash 60-bit fingerprint (md5 bit votes) — near-dups land within "
    "a small Hamming distance; banding on fingerprint prefixes gives the "
    "sub-quadratic candidate generation at scale",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load(spark, sf_dir, "documents"))


@register(
    "q_dedup_ngram",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    s AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(tk) - 2),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      FROM t WHERE len(tk) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
    FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
    """,
    doc="Word-3-gram shingle Jaccard on an audit candidate set (consecutive "
    "doc ids); production candidates come from LSH/simhash blocking — the "
    "shingle+Jaccard machinery here is the same",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").alias("doc_a"))
    pairs = ids.select("doc_a", (F.col("doc_a") + 1).alias("doc_b"))
    return ngram_jaccard_pairs(docs, pairs)


@register(
    "q_dedup_embed",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4) AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]), 4) >= 0.4
    """,
    doc="Embedding-cosine near-dup within label blocks (blocking bounds the "
    "self-join; cosine is a JVM-side fold, bit-identical to the oracle). "
    "NOTE: the semantics are EXACT all-pairs-above-threshold within each "
    "block, so cost is sum(|block|^2) and blocks grow with the corpus — "
    "quadratic BY CONSTRUCTION (the 100x audit time-boxed it at ~2e9 "
    "pairs). The corpus-scale near-dup paths are q_semantic_dedup "
    "(cluster-bounded), q_dedup_near (banded MinHash), and the IVF "
    "family; this op is the exact-semantics primitive for "
    "audit-sized blocks",
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dup_pairs(load(spark, sf_dir, "embeddings"))


@register(
    "q_dedup_near",
    None,  # MinHash banding is engine-specific → rows-only; recall tested
    doc="Banded-MinHash near-dup pairs (shingle → seeded-xxhash64 minhash "
    "signature → capped band-bucket lists → in-list pairs → exact-Jaccard "
    "verify) — the sub-quadratic 100 TB near-dup path, all JVM-side; "
    "recall vs exact Jaccard asserted in tests/test_extensions.py",
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    return banded_minhash_pairs(load(spark, sf_dir, "documents"))


@register(
    "q_dedup_clusters",
    None,  # iterative fixpoint — not SQL-expressible; closure tested in unit
    doc="Near-dup clustering: banded-MinHash pairs -> connected components "
    "via iterative min-label propagation (O(diameter) rounds, edge-sized "
    "joins only, localCheckpoint-truncated lineage). Output (doc_id, "
    "cluster_id=min id in component) makes canonical-doc selection a "
    "single filter. Transitive-closure semantics pinned by "
    "tests/test_extensions.py",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import dup_clusters

    pairs = banded_minhash_pairs(load(spark, sf_dir, "documents"))
    return dup_clusters(pairs)


PREFIX_JACCARD_T = 0.9


@register(
    "q_jaccard_prefix_join",
    f"""
    WITH s AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
               FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.tk, b.tk)) * 1.0
                 / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.tk, b.tk)) * 1.0
          / len(list_distinct(list_concat(a.tk, b.tk))) >= {PREFIX_JACCARD_T}
    """,
    doc="EXACT all-pairs token-Jaccard similarity join (threshold 0.9) "
    "via pigeonhole partitioning (PTJ family): a pair at J >= 0.9 "
    "differs in at most (1-t)/t*n_max tokens, so with the token domain "
    "hash-split into m parts some part's subsets are IDENTICAL — "
    "candidates come from ONE equi-join on (part, sorted-subset) keys, "
    "first-match-deduped, then exact per-part verification. The oracle "
    "is the naive O(n^2) join — the plan must return IDENTICAL pairs "
    "(identity pinned against brute force incl. boundary pairs in "
    "tests/test_extensions.py; low thresholds fall back to the PPJoin "
    "prefix filter). The deterministic complement to banded MinHash: "
    "no recall loss",
)
def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import jaccard_prefix_join

    return jaccard_prefix_join(
        load(spark, sf_dir, "documents"), threshold=PREFIX_JACCARD_T
    )


FUZZY_MAX_EDITS = 2


@register(
    "q_fuzzy_join",
    f"""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edits
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_MAX_EDITS}
      AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_EDITS}
    """,
    doc="Fuzzy entity matching: near-identical part names within brand "
    "blocks at edit distance <= 2. Blocking bounds the self-join (the "
    "same refuse-the-cross-join discipline as embedding dedup); the "
    "LENGTH pre-filter runs before levenshtein so the O(len^2) DP only "
    "evaluates survivors — |len(a)-len(b)| > k implies distance > k. "
    "Spark and DuckDB implement the same Wagner-Fischer distance, so "
    "values hash identically. NOTE: brand blocks have FIXED cardinality "
    "(25), so blocks grow with the corpus and candidate cost is "
    "quadratic BY CONSTRUCTION (~8e10 pairs at the 100x audit point, "
    "time-boxed out). The corpus-scale fuzzy-match path is q-gram/"
    "signature blocking (q_entity_canonical's normalize-then-group "
    "shape); this op is the exact-semantics primitive for bounded "
    "blocks",
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    a = part.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("blk"),
    )
    b = part.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= FUZZY_MAX_EDITS
        )
        .withColumn("edits", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edits") <= FUZZY_MAX_EDITS)
        .select("key_a", "key_b", "name_a", "name_b", "edits")
    )


@register(
    "q_containment",
    None,  # rare-shingle blocking is engine-specific -> rows-only;
    # superset-detection semantics pinned in tests/test_round6_ops.py
    doc="Near-superset detection via containment |A∩B|/min(|A|,|B|) over "
    "hashed 3-gram shingles: rare-shingle inverted-index blocking "
    "(postings capped at df<=20, cost Σdf² never |corpus|²) + exact "
    "set-intersection verify. Catches quote-expansions and "
    "boilerplate-wrapped copies that symmetric Jaccard near-dup "
    "structurally misses",
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import containment_pairs

    out = containment_pairs(load(spark, sf_dir, "documents"))
    # The repartition before the global sort is load-bearing: a range
    # exchange SAMPLES its child to pick split points, and when the
    # child is the raw verify pipeline that re-executes the whole
    # candidate join a second time (measured at sf10: the twin ~25 s /
    # 700 CPU-s stages each re-reading the 8.8 GB attach exchange — also
    # the round-10 profile's unexplained overlapping twins). A hash
    # exchange on the tiny verified output materializes one AQE stage
    # the sampler then reads for free.
    return out.repartition("doc_a").orderBy("doc_a", "doc_b")


# --------------------------------------------- incremental (delta) dedup

# Build-once / probe-many: the corpus's TWO persisted artifacts — the
# (band, key) -> postings index AND the per-doc hashed-shingle table the
# verify join reads — are built on the first q_dedup_delta call and
# reused for every later probe in the process, so a probe never scans
# the corpus at all. CONTRACT (same as _IVF_CACHE / the graph edge
# cache): keyed by (applicationId, sf_dir) — sf_dir identifies an
# immutable corpus, and an entry never outlives its SparkSession.
_BAND_INDEX_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def band_index_for(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Materialize (once per session+corpus) the two probe artifacts to
    STORAGE and read them back — the production shape for a long-lived
    index, and fault-tolerant where the earlier ``localCheckpoint`` form
    was not: checkpointed blocks die with their executor, permanently
    breaking every later probe in the session, while a parquet-backed
    artifact re-reads from disk after any executor loss. The band column's
    banding-parameter metadata survives the parquet round trip, so probes
    still validate without a scan."""
    import tempfile

    from .dedup import _shingle_table, build_band_index

    key = (spark.sparkContext.applicationId, sf_dir)
    entry = _BAND_INDEX_CACHE.get(key)
    if entry is None:
        corpus = load(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 != 0
        )
        root = tempfile.mkdtemp(prefix="band_index_")
        build_band_index(corpus).write.mode("overwrite").parquet(
            f"{root}/postings"
        )
        _shingle_table(corpus, "doc_id", "text", 3).write.mode(
            "overwrite"
        ).parquet(f"{root}/shingles")
        entry = (
            spark.read.parquet(f"{root}/postings"),
            spark.read.parquet(f"{root}/shingles"),
        )
        _BAND_INDEX_CACHE[key] = entry
    return entry


@register(
    "q_dedup_delta",
    None,  # banding is probabilistic → rows-only; equivalence + golden tests
    doc="Incremental near-dup: the NEW batch (doc_id % 10 == 0) probed "
    "against the EXISTING corpus's MinHash band index (build-once to "
    "parquet, probe-many; survives executor loss and cache "
    "invalidation, recovery-tested) — work scales with "
    "|delta| x collision-rate, never |corpus|. Same banding scheme as "
    "q_dedup_near (shared band_buckets), so the incremental path finds "
    "exactly the batch self-join's (delta, corpus) pairs "
    "(equivalence-tested); exact-Jaccard verify >= 0.5",
)
def q_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import delta_dedup_pairs

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    idx, sh_c = band_index_for(spark, sf_dir)
    return delta_dedup_pairs(
        corpus, delta, index=idx, corpus_shingles=sh_c
    )


# -------------------------------------------- entity canonicalization

def entity_canonical(part: DataFrame, max_edits: int = FUZZY_MAX_EDITS) -> DataFrame:
    """One-step entity resolution over the fuzzy-match graph: every part
    maps to ``canonical`` = the smallest key among its verified matches
    (edit distance ≤ ``max_edits`` within its brand block) and itself —
    the star-collapse a dedup pipeline applies after pairwise matching.

    This is exactly ROUND 1 of :func:`dedup.dup_clusters`' min-label
    propagation, kept to one round so the result is a closed-form SQL
    expression (full transitive closure is the iterative, rows-only
    ``q_dedup_clusters``); for match graphs that are stars around a
    survivor — the common shape after blocking — one round IS the fixed
    point.

    Plan — value-level verification (EXACT, replaces the former
    row-level Σ|block|² self-join): the match predicate depends only on
    (brand, name), so every key sharing a (brand, name) group matches
    the same name set. Aggregate to distinct groups first (min key +
    key count per group), run the levenshtein self-join at GROUP
    granularity, then broadcast the per-group (canonical, total) back
    onto the keyed rows:

    - canonical(key) = min over matched groups of the group-min key
      (the identity pair — distance 0 — keeps the own group in, so this
      equals min(matches ∪ {key}) for every key in the group);
    - n_matches(key) = Σ matched-group key counts − 1 (minus self).

    Cost: the quadratic piece is Σ|distinct names per block|² — bounded
    by the name VOCABULARY (64 distinct p_names here → ~50k DPs at any
    SF, vs ~8M row-level DPs at sf0.1 and growing quadratically), while
    the corpus-sized work is two linear passes (one distinct-group
    exchange + one broadcast join back). Worst case (all-unique names)
    degrades to the old row-level bound; the next knob for near-unique
    corpora is a q_dedup_near-style signature block.
    """
    keyed = part.select(
        F.col("p_partkey").alias("key"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("blk"),
    )
    groups = keyed.groupBy("blk", "name").agg(
        F.min("key").alias("gmin"), F.count(F.lit(1)).alias("gcnt")
    )
    ga = groups.select("blk", F.col("name").alias("na"))
    gb = groups.select(
        "blk",
        F.col("name").alias("nb"),
        F.col("gmin").alias("minb"),
        F.col("gcnt").alias("cntb"),
    )
    matched = (
        ga.join(gb, "blk")
        .filter(F.abs(F.length("na") - F.length("nb")) <= max_edits)
        .filter(F.levenshtein("na", "nb") <= max_edits)
        .groupBy("blk", F.col("na").alias("name"))
        .agg(F.min("minb").alias("_canon"), F.sum("cntb").alias("_total"))
    )
    # No broadcast hint: |matched| = distinct (brand, name) groups —
    # small when names repeat, corpus-sized on a near-unique-name
    # corpus (the acknowledged worst case), where a forced broadcast
    # would OOM the driver. AQE picks broadcast when it actually fits.
    return keyed.join(matched, ["blk", "name"]).select(
        "key",
        F.col("_canon").alias("canonical"),
        (F.col("_total") - 1).alias("n_matches"),
    )


@register(
    "q_entity_canonical",
    f"""
    WITH pairs AS (
      SELECT a.p_partkey AS ka, b.p_partkey AS kb
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      WHERE abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_MAX_EDITS}
        AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_EDITS}
    ), edges AS (
      SELECT ka AS key, kb AS nb FROM pairs
      UNION ALL
      SELECT kb AS key, ka AS nb FROM pairs
      UNION ALL
      SELECT p_partkey AS key, p_partkey AS nb FROM part
    )
    SELECT key, min(nb) AS canonical,
           CAST(sum(CASE WHEN nb <> key THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matches
    FROM edges GROUP BY key
    """,
    doc="Entity canonicalization: one star-collapse round of min-label "
    "propagation over the brand-blocked levenshtein match graph — every "
    "part maps to the smallest key among its verified fuzzy matches and "
    "itself (round 1 of q_dedup_clusters' fixpoint, exact for the "
    "star-shaped match graphs blocking produces). Verified at distinct "
    "(brand, name) granularity — the quadratic piece is vocabulary-"
    "bounded, not corpus-bounded — then broadcast back onto the keys",
)
def q_entity_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return entity_canonical(load(spark, sf_dir, "part"))


# ---------------------------------------------- banding recall evaluation

BR_SMOD = 1          # truth over the FULL corpus at test SFs (see doc)
BR_MIN_J = 0.5
# Fixed CAP on the evaluated sub-corpus (the q_ann_recall convention):
# the eval's statistical value comes from the number of sampled truth
# pairs, not the corpus fraction, and the exhaustive-truth arm's Σdf²
# grows with the sample. 5000 keeps every sf <= 0.1 evaluation exactly
# the historical full-corpus one; the round-9 sf1 sweep measured the
# uncapped op at 225 s (10.2x for 10x data — linear, but the eval has
# no business scaling with the corpus).
BR_MAX_SAMPLE = 5000


def banding_recall(
    docs: DataFrame,
    smod: int = BR_SMOD,
    min_jaccard: float = BR_MIN_J,
    n: int = 3,
    bands: int = 9,
    rows_per_band: int = 2,
) -> DataFrame:
    """Recall of the banded-MinHash near-dup pipeline against EXHAUSTIVE
    exact Jaccard on a 1/smod sampled sub-corpus — the dedup-quality
    twin of q_ann_recall: banding's (bands, rows) choice trades probe
    cost against missed near-dup pairs, and this measures the miss rate
    on live data each round instead of trusting the fixture recall test
    forever. Precision is 1.0 by construction (candidates are exact-
    Jaccard verified), so recall IS the quality number.

    Truth cost is Σdf² over shingle posting lists (only pairs sharing
    a shingle can reach J ≥ τ > 0, so the shingle self-join loses
    nothing) — tractable on the full corpus at these SFs (~1.3M pairs
    at sf0.1); at production scale pass ``smod`` to evaluate on a
    1/smod doc sample instead (near-dup PAIRS survive sampling at
    ~1/smod², so size the sample to keep ≥hundreds of truth pairs).
    Output: one row (n_sampled, n_truth, n_pred, n_hit, recall).
    """
    from .dedup import banded_minhash_pairs, hashed_shingles

    # cap the evaluated sub-corpus at BR_MAX_SAMPLE docs (one cheap
    # metadata-backed count): near-dup pairs survive id-sampling at
    # ~1/smod², so the cap is sized to keep hundreds of truth pairs
    # while the exhaustive arm stays sample-bounded, never corpus-bound
    import math

    n_docs = docs.count()
    if n_docs > smod * BR_MAX_SAMPLE:
        smod = math.ceil(n_docs / BR_MAX_SAMPLE)
    # The lazy result branches over the sample FOUR ways (truth shingle
    # self-join's two sides, the banding arm, the n_sampled count); an
    # id-modulo filter can't prune parquet row groups, so without
    # materialization each branch re-scans the whole text column of the
    # 1/smod-times-larger corpus (measured 5x wall at sf1). The sample
    # is capped at BR_MAX_SAMPLE docs — bounded — so pin one generation
    # per session (lineage kept; stale results recompute, never fail).
    from ..plans.cache_registry import persist_slot

    sample = persist_slot(
        docs.filter(F.col("doc_id") % smod == 0), "banding_recall_sample"
    )
    sh = (
        sample.filter(F.size(F.split("text", " ")) >= n)
        .select("doc_id", hashed_shingles("text", n).alias("shh"))
    )
    sizes = sh.select("doc_id", F.size("shh").alias("sz"))
    ex = sh.select("doc_id", F.explode("shh").alias("g"))
    inter = (
        ex.alias("a")
        .join(ex.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sa")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("sb")), "db")
        .filter(
            F.col("i") / (F.col("sa") + F.col("sb") - F.col("i"))
            >= min_jaccard
        )
        .select("da", "db")
    )
    pred = banded_minhash_pairs(
        sample, n=n, bands=bands, rows_per_band=rows_per_band,
        min_jaccard=min_jaccard,
    ).select(
        F.col("doc_a").alias("da"), F.col("doc_b").alias("db")
    )
    hit = truth.join(pred, ["da", "db"])
    return (
        sample.agg(F.count(F.lit(1)).alias("n_sampled"))
        .crossJoin(F.broadcast(truth.agg(F.count(F.lit(1)).alias("n_truth"))))
        .crossJoin(F.broadcast(pred.agg(F.count(F.lit(1)).alias("n_pred"))))
        .crossJoin(F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_hit"))))
        .select(
            "n_sampled",
            "n_truth",
            "n_pred",
            "n_hit",
            F.when(F.col("n_truth") == 0, F.lit(1.0))
            .otherwise(_q(F.col("n_hit") / F.col("n_truth"), 10000))
            .alias("recall"),
        )
    )


@register(
    "q_banding_recall",
    None,  # minhash permutations are engine-specific → rows-only; the
    # recall floor + exhaustive-truth construction pinned in tests
    doc="Near-dup banding quality eval: recall of the banded-MinHash "
    "pipeline (9 bands × 2 rows, Jaccard ≥ 0.5) against exhaustive "
    "exact Jaccard — the dedup twin of q_ann_recall; precision is 1.0 "
    "by construction (candidates are exact-verified), so the miss rate "
    "is the whole story. The evaluated sub-corpus is CAPPED at "
    "BR_MAX_SAMPLE docs (full corpus at test SFs), so the "
    "exhaustive-truth arm is sample-bounded, never corpus-bounded",
)
def q_banding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return banding_recall(load(spark, sf_dir, "documents"))
