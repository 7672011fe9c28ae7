"""Bloom n-gram decontamination (llm/bloom.py): packed-bit faithfulness,
no false negatives, false-positive sanity, and a hypothesis sweep vs an
independent pure-Python reference of the same md5 position math."""

from __future__ import annotations

import hashlib
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm.bloom import (
    _BITS_PER_WORD,
    _SEED,
    build_bloom_bits,
    flag_bloom_contaminated,
)

M, K, N = 1 << 16, 3, 3


# --- independent pure-Python reference (no imports from the module
# under test beyond the seed constant) --------------------------------


def _py_normalize(s: str) -> str:
    return re.sub(" +", " ", re.sub("[^a-z0-9]+", " ", s.lower())).strip()


def _py_shingles(s: str | None, n: int) -> list[str]:
    # NULL-as-empty; the '' gram an empty doc degenerates to is
    # excluded (llm/bloom._probe_grams) so NULL/empty probe 0 n-grams
    norm = _py_normalize(s or "")
    if not norm:
        return []
    toks = norm.split(" ")
    top = max(len(toks) - (n - 1), 1)
    return [" ".join(toks[i : i + n]) for i in range(top)]


def _py_positions(sh: str, m: int, k: int) -> list[int]:
    h = hashlib.md5(f"{_SEED}-{sh}".encode()).hexdigest()
    return [int(h[8 * i : 8 * i + 8], 16) % m for i in range(k)]


def _py_member(bits: list[int], sh: str, m: int, k: int) -> bool:
    return all(
        bits[p // _BITS_PER_WORD] >> (p % _BITS_PER_WORD) & 1
        for p in _py_positions(sh, m, k)
    )


BENCH_TEXTS = [
    "the secret benchmark answer is forty two exactly",
    "another held out evaluation question text entirely",
]
CLEAN = "unrelated prose about catalyst plans and shuffle partitions today"


@pytest.fixture(scope="module")
def bits(spark):
    bench = spark.createDataFrame(
        list(enumerate(BENCH_TEXTS)), "doc_id long, text string"
    )
    return build_bloom_bits(bench, n=N, m_bits=M, k=K)


def test_packed_bits_equal_position_set(bits):
    """The packed words are EXACTLY the benchmark's position set —
    pinning the bit_or packing the DuckDB oracle's set formulation
    assumes."""
    want = set()
    for t in BENCH_TEXTS:
        for sh in _py_shingles(t, N):
            want.update(_py_positions(sh, M, K))
    got = {
        w * _BITS_PER_WORD + b
        for w, word in enumerate(bits)
        for b in range(_BITS_PER_WORD)
        if word >> b & 1
    }
    assert got == want


def test_no_false_negatives_and_fp_sanity(spark, bits):
    """Every benchmark doc flags (its own n-grams are in the filter);
    a disjoint-vocabulary doc does not (at 29 set bits of 65536 the
    per-ngram fp rate is ~(29*3/65536)^... — effectively zero)."""
    corpus = spark.createDataFrame(
        [(0, BENCH_TEXTS[0]), (1, BENCH_TEXTS[1]), (2, CLEAN), (3, None), (4, "")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in flag_bloom_contaminated(corpus, bits, n=N, k=K).collect()
    }
    assert rows[0].bloom_flagged and rows[1].bloom_flagged
    # a contained benchmark doc hits on EVERY one of its n-grams
    assert rows[0].bloom_n_hits == rows[0].bloom_n_ngrams
    assert not rows[2].bloom_flagged
    # NULL and '' text probe ZERO n-grams (ADVICE_r13: the old
    # behavior counted the degenerate '' gram as 1 probed n-gram)
    assert not rows[3].bloom_flagged and rows[3].bloom_n_ngrams == 0
    assert not rows[4].bloom_flagged and rows[4].bloom_n_ngrams == 0


def test_partial_overlap_counts_occurrences(spark, bits):
    """A doc quoting one benchmark sentence inside novel text hits on
    exactly the quoted window's n-grams, counted per occurrence."""
    text = "we all know " + BENCH_TEXTS[0] + " as they say"
    corpus = spark.createDataFrame([(0, text)], "doc_id long, text string")
    r = flag_bloom_contaminated(corpus, bits, n=N, k=K).collect()[0]
    want_hits = sum(
        _py_member(bits, sh, M, K) for sh in _py_shingles(text, N)
    )
    assert r.bloom_flagged
    assert r.bloom_n_hits == want_hits
    assert 0 < r.bloom_n_hits < r.bloom_n_ngrams


def test_probe_plans_zero_exchange_zero_python(spark, bits):
    corpus = spark.createDataFrame([(0, CLEAN)], "doc_id long, text string")
    plan = (
        flag_bloom_contaminated(corpus, bits, n=N, k=K)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet="ab1 .,!", min_size=0, max_size=40
        ),
        min_size=1,
        max_size=5,
    )
)
def test_hypothesis_probe_matches_python_reference(spark, bits, texts):
    """Arbitrary delimiter-soup corpus: Spark per-doc (n_ngrams,
    n_hits, flagged) must equal the pure-Python replay of the same
    shingling + position math against the same packed filter."""
    corpus = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.bloom_n_ngrams, r.bloom_n_hits, r.bloom_flagged)
        for r in flag_bloom_contaminated(corpus, bits, n=N, k=K).collect()
    }
    for i, t in enumerate(texts):
        shs = _py_shingles(t, N)
        hits = sum(_py_member(bits, sh, M, K) for sh in shs)
        assert got[i] == (len(shs), hits, hits > 0), (i, t)


def test_build_rejects_bad_width():
    with pytest.raises(ValueError, match="multiple"):
        build_bloom_bits(None, m_bits=100)


def test_build_tolerates_null_text_rows(spark):
    """A NULL text row digests to NULL and is dropped from the build
    (review regression: it used to crash the packing loop with a NULL
    position) — the filter equals the one built without the row."""
    clean = spark.createDataFrame([(0, BENCH_TEXTS[0])], "doc_id long, text string")
    noisy = spark.createDataFrame(
        [(0, BENCH_TEXTS[0]), (1, None)], "doc_id long, text string"
    )
    assert build_bloom_bits(noisy, n=N, m_bits=M, k=K) == build_bloom_bits(
        clean, n=N, m_bits=M, k=K
    )


def test_build_memoizes_per_session_and_plan(spark):
    """r18: identical benchmark plans in one session reuse the packed
    filter (plan-keyed construction memo — never query results); a
    semantically different plan gets its own build."""
    from terra_bonobo_nodes_spark.llm import bloom as B

    bench = spark.createDataFrame(
        [(0, BENCH_TEXTS[0]), (1, BENCH_TEXTS[1])], "doc_id long, text string"
    )
    B._BLOOM_BITS_MEMO.clear()
    first = build_bloom_bits(bench, n=N, m_bits=M, k=K)
    assert len(B._BLOOM_BITS_MEMO) == 1
    again = build_bloom_bits(
        spark.createDataFrame(
            [(0, BENCH_TEXTS[0]), (1, BENCH_TEXTS[1])], "doc_id long, text string"
        ),
        n=N,
        m_bits=M,
        k=K,
    )
    assert again == first
    other = build_bloom_bits(bench.where("doc_id = 0"), n=N, m_bits=M, k=K)
    assert len(B._BLOOM_BITS_MEMO) == 3 or other != first  # new plan, new entry
    assert other != first  # the filtered bench really rebuilt


def test_probe_preserves_caller_working_columns(spark):
    """A corpus column named like one of the probe's working columns
    (``_bl_*``) passes through untouched, and the flags equal those of
    the same corpus without it."""
    bench = spark.createDataFrame([(0, BENCH_TEXTS[0])], "doc_id long, text string")
    bits = build_bloom_bits(bench, n=N, m_bits=M, k=K)
    corpus = spark.createDataFrame(
        [(0, BENCH_TEXTS[0], ["kept"]), (1, "some text", [])],
        "doc_id long, text string, _bl_grams array<string>",
    )
    out = flag_bloom_contaminated(corpus, bits, n=N, k=K)
    plain = flag_bloom_contaminated(corpus.drop("_bl_grams"), bits, n=N, k=K)
    assert out.columns == corpus.columns + [
        "bloom_n_ngrams", "bloom_n_hits", "bloom_flagged"
    ]
    assert sorted(map(tuple, out.collect())) == sorted(
        (r[0], r[1], g, *r[2:])
        for r, g in zip(sorted(map(tuple, plain.collect())), (["kept"], []))
    )
