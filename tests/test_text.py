"""The text policy lives in functions/text.py, and each of its Spark
builders returns the same values as its DuckDB twin, on a hand-made
table with the cases the fixtures never hold: double, leading and
trailing spaces, an empty text, fewer words than a shingle, mixed case,
digits and punctuation."""

from __future__ import annotations

import pathlib
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from stockmarketdata_dwb_etl_spark.functions.text import (
    CLASSIFIER_STOPWORDS,
    LANG_PROFILES,
    LANG_SCORE_COLUMNS,
    canonical_text,
    classifier_scored,
    distinct_shingle_ratio,
    lang_id,
    lang_scores,
    quality_exprs,
    sql_canonical_text,
    sql_classifier_scored,
    sql_distinct_shingle_ratio,
    sql_lang_id,
    sql_lang_score_columns,
    sql_lang_scores,
    sql_quality_exprs,
    sql_tokenize,
    sql_word_shingles,
    tokenize,
    word_shingles,
)

ROOT = pathlib.Path(__file__).resolve().parent.parent
TEXT = ROOT / "stockmarketdata_dwb_etl_spark" / "functions" / "text.py"


def _words(words: tuple[str, ...]) -> str:
    """A regex for the words in this order, quoted either way."""
    return r"\s*,\s*".join(rf"(['\"]){w}\{i + 1}" for i, w in enumerate(words))


# Each regex finds one inline copy of the policy, on either engine.
_COPIES = {
    "tokens (Spark)": r'F\.filter\(\s*F\.split\([^,]+,\s*" "\s*\)\s*,\s*lambda (\w+): \1 != ""',
    "tokens (DuckDB)": r"list_filter\(\s*string_split\((?:[^()]|\([^()]*\))*,\s*' '\)"
    r"\s*,\s*(\w+)\s*->\s*\1\s*<>\s*''\)",
    "hand-joined shingles": r"\|\|\s*' '\s*\|\|",
    "canonical text": r"trim\(\s*(F\.)?regexp_replace\(\s*(F\.)?lower\(",
    **{
        f"{lang} stopword profile": _words(profile)
        for lang, profile in LANG_PROFILES.items()
    },
    "classifier stopwords": _words(CLASSIFIER_STOPWORDS),
    "language argmax (DuckDB)": r"en_score\s*>=\s*es_score",
    "language argmax (Spark)": r'when\(\s*\(?\s*\w+\s*>=\s*\w+\s*\)?\s*&[^\n]*"en"\)',
    "classifier weights": r"0\.02\)?\s*\*\s*(F\.)?least\(",
    "distinct-shingle ratio (Spark)": r"size\(\s*F\.array_distinct\(\s*word_shingles\(",
    "distinct-shingle ratio (DuckDB)": r"len\(\s*list_distinct\(\s*\{sql_word_shingles\(",
    "BPE token regex": re.escape("[A-Za-z0-9_]+|[^A-Za-z0-9_"),
}


def text_policy_copies(root: pathlib.Path) -> list[str]:
    """Every inline copy of the text policy in ``root``'s package and
    pipelines, outside functions/text.py. Tests may keep their own
    reference computations and are not scanned."""
    text = root / TEXT.relative_to(ROOT)
    paths = [
        *sorted((root / "stockmarketdata_dwb_etl_spark").rglob("*.py")),
        *sorted((root / "pipelines").rglob("*.py")),
    ]
    copies = []
    for path in paths:
        if path == text:
            continue
        src = path.read_text()
        for what, pattern in _COPIES.items():
            for m in re.finditer(pattern, src):
                line = src.count("\n", 0, m.start()) + 1
                copies.append(f"{path.relative_to(root)}:{line} {what}")
    return copies


def test_text_policy_lives_only_in_text():
    """No module outside functions/text.py spells the tokenizer, a
    shingle join, canonical text, a stopword profile, the language
    argmax, the classifier weights, the distinct-shingle ratio or the
    BPE token regex inline."""
    copies = text_policy_copies(ROOT)
    assert not copies, copies


# --- cross-engine twins -------------------------------------------------

DOCS = [
    (1, "the cat  sat on the mat"),
    (2, "  leading and trailing  "),
    (3, ""),
    (4, "two words"),
    (5, "The Quick  BROWN fox JUMPS"),
    (6, "el gato y la casa de papel que"),
    (7, "der hund und die katze das zu"),
    (8, "price 42.50 USD, up 3% today!"),
    (9, "a a a a a a"),
    (10, " "),
    (11, "the a of and to in is 2024"),
    (12, "el der the"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def docs_duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    yield con
    con.close()


def _same(docs, docs_duck, spark_cols: dict, duck_cols: dict, where: str = "true"):
    """Spark's and DuckDB's (doc_id, *cols) rows over the docs that pass
    ``where`` are identical."""
    got = sorted(
        tuple(r)
        for r in docs.filter(where)
        .select("doc_id", *(c.alias(k) for k, c in spark_cols.items()))
        .collect()
    )
    sql = (
        "SELECT doc_id, "
        + ", ".join(f"{e} AS {k}" for k, e in duck_cols.items())
        + f" FROM documents WHERE {where}"
    )
    want = sorted(docs_duck.execute(sql).fetchall())
    assert got, "no rows"
    assert repr(got) == repr(want)


def test_tokenize_twin(docs, docs_duck):
    _same(
        docs,
        docs_duck,
        {"w": tokenize(F.col("text")), "n": F.size(tokenize("text"))},
        {"w": sql_tokenize("text"), "n": f"CAST(len({sql_tokenize('text')}) AS INTEGER)"},
    )


def test_tokenize_drops_every_empty_token(docs):
    toks = dict(docs.select("doc_id", tokenize("text")).collect())
    assert toks[1] == ["the", "cat", "sat", "on", "the", "mat"]
    assert toks[2] == ["leading", "and", "trailing"]
    assert toks[3] == [] and toks[10] == []


@pytest.mark.parametrize("k", [2, 3, 5])
def test_word_shingles_twin(docs, docs_duck, k):
    _same(
        docs,
        docs_duck,
        {"g": word_shingles(tokenize("text"), k)},
        {"g": sql_word_shingles(sql_tokenize("text"), k)},
    )


def test_word_shingles_fewer_words_than_k(docs):
    g = dict(docs.select("doc_id", word_shingles(tokenize("text"), 3)).collect())
    assert g[4] == [] and g[3] == []
    assert g[2] == ["leading and trailing"]


@pytest.mark.parametrize("k", [2, 3])
def test_distinct_shingle_ratio_twin(docs, docs_duck, k):
    _same(
        docs,
        docs_duck,
        {"r": distinct_shingle_ratio(tokenize("text"), k)},
        {"r": sql_distinct_shingle_ratio(sql_tokenize("text"), k)},
    )


def test_lang_scores_and_id_twin(docs, docs_duck):
    scores = lang_scores(tokenize("text"))
    duck = sql_lang_scores(sql_tokenize("text"))
    _same(
        docs,
        docs_duck,
        {**{f"{k}_score": v for k, v in scores.items()}, "lang": lang_id(scores)},
        {**{f"{k}_score": v for k, v in duck.items()}, "lang": sql_lang_id(duck)},
    )


def test_lang_score_columns_bind_the_argmax_names(docs_duck):
    rows = docs_duck.execute(
        f"""SELECT doc_id, {sql_lang_id(LANG_SCORE_COLUMNS)}
        FROM (SELECT doc_id, {sql_lang_score_columns(sql_tokenize("text"))}
              FROM documents) ORDER BY doc_id"""
    ).fetchall()
    got = dict(rows)
    # ties go to the language listed first
    assert got[3] == "en" and got[12] == "en"
    assert got[6] == "es" and got[7] == "de"


def test_canonical_text_twin(docs, docs_duck):
    ctext = canonical_text(F.col("text"))
    _same(
        docs,
        docs_duck,
        {"c": ctext, "w": tokenize(ctext)},
        {"c": sql_canonical_text("text"), "w": sql_tokenize(sql_canonical_text("text"))},
    )


def test_quality_exprs_twin(docs, docs_duck):
    """Over the non-empty texts: punct_ratio divides by the text length,
    which raises DIVIDE_BY_ZERO on Spark for an empty text."""
    _same(
        docs,
        docs_duck,
        quality_exprs(F.col("text")),
        sql_quality_exprs("text"),
        where="length(text) > 0",
    )


def test_classifier_scored_twin(docs, docs_duck):
    for carry, n_words in ((("doc_id",), "n_words"), (("doc_id", "text"), "n_tokens")):
        got = sorted(
            tuple(r) for r in classifier_scored(docs, *carry, n_words=n_words).collect()
        )
        want = sorted(
            docs_duck.execute(sql_classifier_scored(*carry, n_words=n_words)).fetchall()
        )
        # the empty and all-space texts have no token and are dropped
        assert len(got) == len(DOCS) - 2
        assert repr(got) == repr(want)
