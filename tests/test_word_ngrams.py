"""The one word-token / word-n-gram stage (``text.word_tokens``,
``text.word_ngrams``) and its DuckDB twin (``_TOKENS``, ``_ngrams_sql``):
the two sides agree row for row, and neither construct is written out a
second time on its side of the oracle gate."""

import ast
import os

import duckdb
import pandas as pd
import pyspark.sql.functions as F

import __spark_entry__ as entry
from financial_knowledge_graphs_spark.operators.text import word_ngrams, word_tokens
from financial_knowledge_graphs_spark.session import local_frame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPS = os.path.join(REPO, "financial_knowledge_graphs_spark", "operators")

TEXTS = [
    "  alpha beta  ",            # leading and trailing blanks
    "a\tb\nc  d\r\ne",           # tabs and newlines
    "",
    "one two three",             # exactly n=3 tokens
    "Alpha BETA gamma delta epsilon alpha BETA",
]
# (n, gram on Spark, gram on DuckDB, keep_short)
CASES = [
    (1, None, "{}", True),
    (2, None, "{}", False),
    (3, None, "{}", True),
    (5, None, "{}", True),       # n above most token counts
    (5, None, "{}", False),
    (3, F.md5, "md5({})", True),
    (8, F.md5, "md5({})", True),
]


def test_word_ngrams_spark_equals_duckdb(spark):
    docs = local_frame(spark, list(enumerate(TEXTS)), "id int, s string")
    toks = word_tokens(F.col("s"))
    spark_rows = [tuple(r) for r in docs.select(
        "id", toks,
        *[word_ngrams(toks, n, **({"gram": g} if g else {}), keep_short=k)
          for n, g, _, k in CASES],
    ).orderBy("id").collect()]

    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"id": range(len(TEXTS)), "s": TEXTS}))
    grams = ", ".join(entry._ngrams_sql("toks", n, sql, k) for n, _, sql, k in CASES)
    duck_rows = con.sql(
        f"SELECT id, toks, {grams} FROM "
        f"(SELECT id, {entry._TOKENS.format(col='s')} AS toks FROM docs) ORDER BY id"
    ).fetchall()

    assert spark_rows == duck_rows
    # spot checks of the shared rules
    by_id = dict((r[0], r) for r in spark_rows)
    assert by_id[0][1] == ["alpha", "beta"] and by_id[1][1] == ["a", "b", "c", "d", "e"]
    assert by_id[2][1] == [] and by_id[2][2] == [""]      # "" keeps one empty gram
    assert by_id[3][4] == ["one two three"]               # n == token count: one window
    assert by_id[3][5] == ["one two three"] and by_id[3][6] == []  # n above: keep_short


def _fn_span(path, name):
    fn = next(n for n in ast.walk(ast.parse(open(path, encoding="utf-8").read()))
              if isinstance(n, ast.FunctionDef) and n.name == name)
    return range(fn.lineno, fn.end_lineno + 1)


def _lines(path, needle):
    return [i for i, line in enumerate(open(path, encoding="utf-8").read().splitlines(), 1)
            if needle in line]


def test_word_token_and_ngram_stage_written_once():
    """Every operator tokenizes through text.word_tokens and slides its
    n-gram window through text.word_ngrams; the oracle slides its windows
    through _ngrams_sql. A second hand-written copy fails here."""
    text_py = os.path.join(OPS, "text.py")
    splits, windows = [], []
    for name in sorted(n for n in os.listdir(OPS) if n.endswith(".py")):
        path = os.path.join(OPS, name)
        splits += [(name, node.lineno)
                   for node in ast.walk(ast.parse(open(path, encoding="utf-8").read()))
                   if isinstance(node, ast.Call) and getattr(node.func, "attr", "") == "split"
                   and any(isinstance(a, ast.Constant) and a.value == r"\s+"
                           for a in node.args)]
        windows += [(name, i) for i in _lines(path, 'concat_ws(" ", F.slice(')]
    # normalize_name_expr's split keeps its own filter (length > 1, no suffixes)
    norm = _fn_span(os.path.join(OPS, "normalize.py"), "normalize_name_expr")
    splits = [(n, i) for n, i in splits if not (n == "normalize.py" and i in norm)]
    assert [f for f, _ in splits] == ["text.py"], splits
    assert splits[0][1] in _fn_span(text_py, "word_tokens"), splits
    assert [f for f, _ in windows] == ["text.py"], windows
    assert windows[0][1] in _fn_span(text_py, "word_ngrams"), windows

    # the oracle: every n-token window over a token list is _ngrams_sql's
    # (winnowing's window over its hash list, len(hs), is not a token window)
    entry_py = os.path.join(REPO, "__spark_entry__.py")
    series = [i for i in _lines(entry_py, "generate_series(1, len(")
              if i not in _lines(entry_py, "len(hs)")]
    assert len(series) == 1 and series[0] in _fn_span(entry_py, "_ngrams_sql"), series
