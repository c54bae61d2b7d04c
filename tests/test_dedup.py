"""The pair joins of ``operators/dedup.py`` against a Python brute force
on the inputs their shared stages must get right: posting lists at the
cap and one past it, docs without shingles (NULL, empty, shorter than
n), non-ASCII near-duplicates, and a Jaccard just below the threshold
that rounds up to it. Plus the plan check that no verify broadcasts the
shingle arrays, and the check that each shared stage is written once."""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from trading_data_pipeline_spark.operators import dedup

CAP = 3


def _grams(text: str, n: int = 3) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _round4(x: float) -> float:
    """Spark's ``round(x, 4)``: HALF_UP on the double's decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _docs(spark, texts: dict[int, str | None]):
    return spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )


def _shingled(texts: dict[int, str | None], n: int = 3) -> dict[int, set[str]]:
    """The docs that have shingles, with their shingle sets."""
    return {
        i: _grams(t, n)
        for i, t in texts.items()
        if t is not None and len(t.split(" ")) >= n
    }


# ----------------------------------------------------------- cap boundary


@pytest.mark.parametrize("extra", [0, 1], ids=["cap", "cap+1"])
@pytest.mark.parametrize("caller", ["max_bucket", "max_posting", "max_df"])
def test_posting_list_of_exactly_cap_ids_is_kept(spark, caller, extra):
    """``CAP + extra`` identical docs share every band bucket and every
    shingle, so their posting lists hold exactly that many ids: a list
    of CAP ids is kept and pairs, a list of CAP + 1 is dropped. A doc
    that shares nothing lists alone and pairs with nobody."""
    texts = {i: "p q r s t u v w" for i in range(1, CAP + extra + 1)}
    texts[100] = "x1 x2 x3 x4 x5"
    docs = _docs(spark, texts)
    groups: dict[str, list[int]] = {}
    for i, t in sorted(texts.items()):
        groups.setdefault(t, []).append(i)
    listed = [g for g in groups.values() if len(g) <= CAP]
    pairs = {p for g in listed for p in combinations(g, 2)}
    assert bool(pairs) == (extra == 0)

    if caller == "max_bucket":
        got = {
            tuple(r)
            for r in dedup.banded_minhash_pairs(docs, max_bucket=CAP).collect()
        }
        assert got == {(a, b, 1.0) for a, b in pairs}
    elif caller == "max_posting":
        idx = dedup.build_band_index(docs, max_posting=CAP)
        got = {(r.band, tuple(r.ids)) for r in idx.collect()}
        assert got == {(b, tuple(g)) for b in range(9) for g in listed}
    else:
        got = {
            tuple(r) for r in dedup.containment_pairs(docs, max_df=CAP).collect()
        }
        assert got == {(a, b, 1.0, 1.0) for a, b in pairs}


# ------------------------------------------- docs without shingles, UTF-8

ODD = {
    1: None,
    2: "",
    3: "zwei wörter",
    4: "größe straße über café naïve ζήτα 日本語 テキスト ünïcödé wörds",
    5: "größe straße über café naïve ζήτα 日本語 テキスト ünïcödé wörter",
    6: "größe straße über café naïve ζήτα 日本語 テキスト ünïcödé wörds",
    7: "alpha beta gamma delta epsilon",
    8: None,
    9: "kurz",
}


def _jaccard(x: set, y: set) -> float:
    return len(x & y) / len(x | y)


def _brute_pairs(sets, t, keep=lambda a, b: True, measure=_jaccard):
    """``(a, b, rounded measure)`` for a < b, kept at ``t`` or above."""
    out = set()
    for a, b in combinations(sorted(sets), 2):
        v = _round4(measure(sets[a], sets[b]))
        if keep(a, b) and v >= t:
            out.add((a, b, v))
    return out


@pytest.mark.parametrize(
    "caller", ["ngram", "banded", "delta", "containment", "ptj", "prefix"]
)
def test_docs_without_shingles_and_utf8_near_dups_pair_as_brute_force(
    spark, caller
):
    """NULL text, the empty string and docs shorter than n words give no
    pair and no error; the non-ASCII near-duplicates pair exactly as the
    brute force over Python word n-grams (tokens, for the exact token
    join) says."""
    docs = _docs(spark, ODD)
    sets = _shingled(ODD)
    assert {1, 2, 3, 8, 9}.isdisjoint(sets)

    if caller == "ngram":
        ids = sorted(ODD)
        cand = spark.createDataFrame(
            list(combinations(ids, 2)), "doc_a long, doc_b long"
        )
        got = dedup.ngram_jaccard_pairs(docs, cand).collect()
        want = _brute_pairs(sets, 0.0)
    elif caller == "banded":
        got = dedup.banded_minhash_pairs(docs).collect()
        want = _brute_pairs(sets, 0.5)
    elif caller == "delta":
        is_delta = F.col("doc_id") % 2 == 0
        got = dedup.delta_dedup_pairs(
            docs.filter(~is_delta), docs.filter(is_delta)
        ).collect()
        want = {
            (b, a, j) if b % 2 == 0 else (a, b, j)
            for a, b, j in _brute_pairs(sets, 0.5, lambda a, b: (a + b) % 2 == 1)
        }
    elif caller == "containment":
        got = [
            (r.doc_a, r.doc_b, r.containment)
            for r in dedup.containment_pairs(docs).collect()
        ]
        want = _brute_pairs(
            sets, 0.8, measure=lambda x, y: len(x & y) / min(len(x), len(y))
        )
    else:
        t = 0.9 if caller == "ptj" else 0.5
        toks = {i: set(s.split(" ")) for i, s in ODD.items() if s is not None}
        got = dedup.jaccard_prefix_join(docs, threshold=t).collect()
        want = _brute_pairs(toks, t)
    assert {tuple(r) for r in got} == want
    assert any(j >= 0.5 for *_, j in want)  # the near-duplicates do pair


# ------------------------------------------------------- rounded threshold


@pytest.mark.parametrize("caller", ["banded", "delta"])
def test_jaccard_just_below_threshold_is_kept_when_it_rounds_up(spark, caller):
    """Doc 1's 3608 trigrams all lie in doc 2's 4009, so the raw Jaccard
    3608/4009 = 0.899975 is below t = 0.9 but rounds to 0.9; the filter
    keeps the rounded value, so the pair is in the output."""
    words = [f"a{i}" for i in range(4011)]
    texts = {1: " ".join(words[:3610]), 2: " ".join(words)}
    a, b = _grams(texts[1]), _grams(texts[2])
    assert (len(a), len(b), len(a & b)) == (3608, 4009, 3608)
    raw = _jaccard(a, b)
    assert 0.9 - 5e-5 <= raw < 0.9 and _round4(raw) == 0.9
    docs = _docs(spark, texts)
    if caller == "banded":
        got = dedup.banded_minhash_pairs(docs, min_jaccard=0.9).collect()
    else:
        got = dedup.delta_dedup_pairs(
            docs.filter("doc_id = 2"), docs.filter("doc_id = 1"),
            min_jaccard=0.9,
        ).collect()
    assert [tuple(r) for r in got] == [(1, 2, 0.9)]


# ------------------------------------------------------------ verify plan


@pytest.mark.parametrize("caller", ["ngram", "banded", "delta", "containment"])
def test_verify_never_broadcasts_the_arrays(spark, sf_dir, caller):
    """Each verify attaches the shingle arrays through shuffled hash
    joins: no broadcast carries an array column, so no node ever holds
    the corpus's shingle table whole."""
    import contextlib
    import io

    from trading_data_pipeline_spark.registry import load

    docs = load(spark, sf_dir, "documents")
    if caller == "ngram":
        pairs = docs.select(
            F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1).alias("doc_b")
        )
        df = dedup.ngram_jaccard_pairs(docs, pairs)
    elif caller == "banded":
        df = dedup.banded_minhash_pairs(docs)
    elif caller == "delta":
        is_delta = F.col("doc_id") % 10 == 0
        df = dedup.delta_dedup_pairs(docs.filter(~is_delta), docs.filter(is_delta))
    else:
        df = dedup.containment_pairs(docs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    shipped = [
        sec
        for sec in plan.split("\n\n")
        if re.match(r"\(\d+\) BroadcastExchange", sec)
        and re.search(r"\b(shh|sh_a|sh_b)#", sec)
    ]
    assert not shipped, shipped
    assert plan.count("ShuffledHashJoin") >= 2, plan


# ------------------------------------------------------------- copy guard


def test_dedup_writes_each_stage_once():
    """One token recode tripwire (``_token_codes``), one posting cap
    (``_capped_lists``), one shingle table builder (``_shingle_table``),
    a verify that never builds the union (``_overlap``), and no MLlib:
    a second copy of any of them fails here."""
    with open(dedup.__file__, encoding="utf-8") as fh:
        src = fh.read()
    assert src.count("assert_true(") == 1
    assert src.count("row_number()") == 1
    assert src.count("hashed_shingles(") - src.count("def hashed_shingles(") <= 1
    assert "array_union(" not in src
    assert not re.search(r"^\s*(from|import)\s+pyspark\.ml\b", src, re.M)
