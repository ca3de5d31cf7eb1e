from __future__ import annotations

from collections import Counter

from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce511_spark.functions.text import glyph_count, normalize_text, tokenize
from mapreduce511_spark.operators.wordcount import word_count
from mapreduce511_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_wordcount_token_invariant(spark):
    """FIXTURES.md F1: sum(cnt) == total token count."""
    docs = load_table(spark, SF_SMOKE, "documents")
    total_tokens = docs.select(
        F.sum(F.size(tokenize("text"))).alias("n")
    ).collect()[0]["n"]
    counted = word_count(docs).agg(F.sum("cnt").alias("n")).collect()[0]["n"]
    assert counted == total_tokens > 0


def test_wordcount_semantics(spark):
    """StringTokenizer contract: whitespace split, empties dropped,
    case preserved, punctuation kept."""
    docs = spark.createDataFrame(
        [
            Row(text="Hello  world\thello\nWorld!"),
            Row(text="   "),
            Row(text="Hello"),
        ]
    )
    rows = {r["word"]: r["cnt"] for r in word_count(docs).collect()}
    assert rows == {"Hello": 2, "world": 1, "hello": 1, "World!": 1}


def test_wordcount_sorted_sink(spark):
    docs = spark.createDataFrame([Row(text="b a c a")])
    out = word_count(docs, sort=True).collect()
    assert [r["word"] for r in out] == ["a", "b", "c"]
    assert [r["cnt"] for r in out] == [2, 1, 1]


# StringTokenizer's delimiters are " \t\n\r\f", as are RE2's (the
# DuckDB oracle's) \s; Java's \s adds U+000B, and U+00A0 is in none.
_DELIM_CASES = ["a\x0bb c", "x\ty\nz\rw\fv", "g\xa0h i  j", "", "   ", None]


def test_tokenize_delimiters_match_oracle(spark):
    """``tokenize``, ``normalize_text`` (under ``md5``, as the exact-dup
    fingerprint) and ``glyph_count`` treat exactly the oracles' RE2 ``\\s``
    as whitespace, and ``word_count`` keeps F1 (sum(cnt) == token count) on
    those rows."""
    import duckdb

    from mapreduce511_spark.queries.oracle_sql import _SQL_TOKENS

    rows = list(enumerate(_DELIM_CASES))
    docs = spark.createDataFrame(rows, "i int, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (i INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    def oracle(expr):
        sql = f"SELECT {expr} FROM documents ORDER BY i"
        return [r[0] for r in con.execute(sql).fetchall()]

    for ours, expr in [
        (tokenize("text"), _SQL_TOKENS),
        (F.md5(normalize_text("text")),
         "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"),
        (glyph_count("text"), "length(regexp_replace(text, '\\s', '', 'g'))"),
    ]:
        got = [r[0] for r in docs.orderBy("i").select(ours).collect()]
        assert got == oracle(expr), expr
    want = oracle(_SQL_TOKENS)
    counts = {r["word"]: r["cnt"] for r in word_count(docs).collect()}
    assert counts == dict(Counter(w for t in want if t for w in t))
    assert sum(counts.values()) == sum(len(t) for t in want if t) == 10


def test_tokenize_plan_has_no_interpreted_lambda(spark):
    """Higher-order-function lambdas are interpreted (CodegenFallback);
    the tokenizer must stay compiled. Its elements stay non-nullable:
    nullable tokens let Catalyst infer per-branch ``isnotnull`` filters
    that break exchange reuse in self-joins over tokens."""
    docs = spark.createDataFrame([Row(text="a b")])
    tokens = docs.select(F.explode(tokenize("text")))
    plan = tokens._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in plan.lower()
    schema = docs.select(tokenize("text").alias("t")).schema
    assert not schema["t"].dataType.containsNull
