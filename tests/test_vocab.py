"""Vocabulary coverage / OOV-rate report (llm/text.py::vocab_coverage,
top_tokens): exact ppm arithmetic, NULL-text semantics, broadcast-join
plan, and the TakeOrderedAndProject top-k builder."""

from __future__ import annotations

import pytest

from terra_bonobo_nodes_spark.llm.text import top_tokens, vocab_coverage


def _docs(spark):
    return spark.createDataFrame(
        [
            ("web", "the cat sat on the mat"),
            ("web", "the dog BARKED!"),
            ("code", "def cat(): return mat"),
            ("code", None),
            ("empty", None),
        ],
        "source string, text string",
    )


def _vocab(spark, words):
    return spark.createDataFrame([(w,) for w in words], "token string")


def test_oov_ppm_exact(spark):
    vocab = _vocab(spark, ["the", "cat", "mat", "on", "sat"])
    got = {
        r["group"]: (r["n_tokens"], r["n_oov"], r["oov_rate_ppm"])
        for r in vocab_coverage(_docs(spark), vocab).collect()
    }
    # web: tokens = the cat sat on the mat the dog barked = 9; oov dog+barked
    assert got["web"] == (9, 2, (2 * 1_000_000) // 9)
    # code: def cat return mat -> oov def+return
    assert got["code"] == (4, 2, 500_000)
    # all-NULL group: zero tokens, NULL rate
    assert got["empty"] == (0, 0, None)


def test_vocab_duplicates_do_not_double_count(spark):
    vocab = _vocab(spark, ["the", "the", "cat"])
    got = {
        r["group"]: r["n_tokens"]
        for r in vocab_coverage(_docs(spark), vocab).collect()
    }
    assert got["web"] == 9  # left join against distinct vocab: no fanout


_VC_K = 256  # vocabulary size: the corpus's own top-256 tokens


def _vocab_coverage_sql() -> str:
    """DuckDB mirror of top_tokens + vocab_coverage by lang over
    ``documents``. The lang spine joins with IS NOT DISTINCT FROM: a
    plain equi-join never matches a NULL spine row."""
    from terra_bonobo_nodes_spark.plans.queries_llm import TOKS_SQL

    return f"""
WITH t AS (SELECT lang, unnest({TOKS_SQL}) AS tok
           FROM (SELECT lang, coalesce(text, '') AS text FROM documents)),
v AS (SELECT tok FROM t GROUP BY tok ORDER BY count(*) DESC, tok LIMIT {_VC_K}),
a AS (SELECT t.lang, count(*) AS n, count(*) - count(v.tok) AS oov
      FROM t LEFT JOIN v ON t.tok = v.tok GROUP BY t.lang)
SELECT g.lang, coalesce(a.n, 0) AS n_tokens, coalesce(a.oov, 0) AS n_oov,
       CASE WHEN a.n > 0 THEN (a.oov * 1000000) // a.n END AS oov_rate_ppm
FROM (SELECT DISTINCT lang FROM documents) g
LEFT JOIN a ON g.lang IS NOT DISTINCT FROM a.lang
"""


def test_null_lang_group_matches_oracle(spark):
    """A NULL lang collapses into a real group on the Spark side
    (groupBy semantics); the mirror's spine-join must use IS NOT
    DISTINCT FROM so it reports that group's actual counts instead of
    (0, 0, NULL)."""

    rows = [
        (1, "en", "the cat sat"),
        (2, None, "dog dog dog barked"),
        (3, "en", "the the mat"),
        (4, None, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    vocab = top_tokens(
        docs.withColumnRenamed("lang", "source"), _VC_K
    ).select("token")
    got = {
        r["group"]: (r["n_tokens"], r["n_oov"], r["oov_rate_ppm"])
        for r in vocab_coverage(
            docs.select("lang", "text"), vocab, group_col="lang"
        ).collect()
    }
    import duckdb

    con = duckdb.connect()  # fresh: the session fixture views `documents`
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, 'en', 'the cat sat'), (2, NULL, 'dog dog dog barked'), "
        "(3, 'en', 'the the mat'), (4, NULL, NULL)"
        ") t(doc_id, lang, text)"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(_vocab_coverage_sql()).fetchall()
    }
    con.close()
    assert got == want
    assert want[None][0] == 4  # the NULL-lang group carries real counts


def test_top_tokens_tiebreak_and_limit(spark):
    df = spark.createDataFrame(
        [("x", "b b a a c"), ("y", None)], "source string, text string"
    )
    got = [(r["token"], r["n"]) for r in top_tokens(df, 2).collect()]
    assert got == [("a", 2), ("b", 2)]  # count tie -> token asc
    assert top_tokens(df.limit(0), 2).collect() == []
    assert vocab_coverage(df.limit(0), _vocab(spark, ["a"])).collect() == []
    with pytest.raises(ValueError):
        top_tokens(df, 0)


def test_top_k_plan_is_take_ordered(spark):
    df = _docs(spark)
    plan = top_tokens(df, 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_coverage_plan_broadcasts_vocab(spark):
    df = _docs(spark)
    vocab = _vocab(spark, ["the"])
    plan = (
        vocab_coverage(df, vocab)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_report_invariant_under_shuffle_layout(spark):
    """The top-256 boundary and the broadcast coverage join over the
    documents fixture must not move with the shuffle partition count."""
    from terra_bonobo_nodes_spark.tables import load_table
    from tests.conftest import SF_DIR, assert_layout_invariant

    def report():
        docs = load_table(spark, SF_DIR, "documents").select("lang", "text")
        vocab = top_tokens(docs, _VC_K).select("token")
        return vocab_coverage(docs, vocab, group_col="lang")

    assert_layout_invariant(spark, report)
