"""Text policy: tokens, shingles, language ID, canonical text and the
quality scores, each a Spark builder paired with the DuckDB text that
computes the identical result, in the style of :mod:`functions.bars`.
All Spark builders are JVM-side Column expressions (no UDFs).

- **Tokens.** A document's tokens are its text split on one space with
  the empty tokens dropped (:func:`tokenize` / :func:`sql_tokenize`), so
  double, leading and trailing spaces add no token and an empty text has
  none. Both take the text expression, because some callers tokenize
  the canonical text rather than ``text``. The exception is the raw
  split, ``split(text, ' ')`` kept whole: sites that count or position
  tokens of the raw string (token offsets, per-line splits) keep the
  empty tokens on purpose. That is a different contract and is spelled
  at those sites, not here.
- **Shingles.** ``k`` consecutive tokens joined by one space, one per
  start position; none when there are fewer than ``k`` tokens.
- **Language ID.** The distinct-token overlap with each stopword
  profile of :data:`LANG_PROFILES`, and the argmax over it with ties
  going to the language listed first (en, then es, then de).
- **Canonical text.** Lowercase, runs of spaces collapsed to one, then
  trimmed.
- **Quality scores.** :func:`quality_exprs` (the feature battery of
  ``q_text_quality``), the distinct-shingle ratio of the quality gate,
  and the quality classifier: four features over the tokens, fixed
  weights, a sigmoid, rounded to 6dp.

DuckDB ``len`` is a BIGINT where Spark's ``size`` is an INT; the twins
cast where the Spark side returns an INT column. The DuckDB texts are
expressions except :func:`sql_classifier_scored`, a SELECT body meant to
sit inside a CTE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stockmarketdata_dwb_etl_spark.functions.exact import (
    portable_round,
    sql_portable_round,
)

#: Tiny stopword profiles for the heuristic language scorer. Real systems
#: use char-n-gram models; the mechanics (profile overlap → argmax) are the
#: same and that is what the engine exercises. The order is the argmax's
#: tie order.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "zu"),
}

#: The quality classifier's stopwords.
CLASSIFIER_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

#: BPE-ish tokenizer: word pieces or single non-space punctuation.
BPE_TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"
PUNCT_RE = r"[^A-Za-z0-9_\s]"


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def tokenize(text: Column | str) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(text, " "), lambda x: x != "")


def sql_tokenize(text: str) -> str:
    """DuckDB twin of :func:`tokenize`."""
    return f"list_filter(string_split({text}, ' '), x -> x <> '')"


def word_shingles(words: Column, k: int = 3) -> Column:
    """k-word shingles: ['a','b','c','d'] → ['a b c','b c d'] (k=3).
    Empty array when the document has fewer than k words.

    Implementation note: built from k aligned ``slice``s folded with
    ``zip_with``, NOT ``transform`` + ``element_at``. Higher-order-function
    lambdas are not common-subexpression-eliminated, so an ``element_at``
    formulation re-evaluates the whole ``words`` expression (often a
    ``filter(split(text))``) per element per position — ~3k× per row. The
    slice/zip form references ``words`` only k+1 times."""
    n = F.size(words)
    cnt = F.greatest(n - (k - 1), F.lit(0))
    out = F.slice(words, 1, cnt)
    for j in range(1, k):
        out = F.zip_with(
            out,
            F.slice(words, j + 1, cnt),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return out


def sql_word_shingles(words: str, k: int = 3) -> str:
    """DuckDB twin of :func:`word_shingles` over the list ``words``."""
    joined = " || ' ' || ".join(
        f"{words}[i]" if j == 0 else f"{words}[i+{j}]" for j in range(k)
    )
    return (
        f"list_transform(generate_series(1, greatest(len({words}) - {k - 1}, 0)),"
        f" i -> {joined})"
    )


def distinct_shingle_ratio(words: Column, k: int = 3) -> Column:
    """Distinct k-shingles over all k-shingles of ``words``; 1.0 when
    there are fewer than k words. Unrounded."""
    n = F.size(words)
    return F.when(n < k, F.lit(1.0)).otherwise(
        F.size(F.array_distinct(word_shingles(words, k))).cast("double")
        / F.greatest(n - (k - 1), F.lit(1))
    )


def sql_distinct_shingle_ratio(words: str, k: int = 3) -> str:
    """DuckDB twin of :func:`distinct_shingle_ratio`."""
    return (
        f"CASE WHEN len({words}) < {k} THEN 1.0 ELSE"
        f" CAST(len(list_distinct({sql_word_shingles(words, k)})) AS DOUBLE)"
        f" / greatest(len({words}) - {k - 1}, 1) END"
    )


def lang_scores(words: Column) -> dict[str, Column]:
    """Stopword-profile overlap score per language (distinct-word hits)."""
    distinct_words = F.array_distinct(words)
    return {
        lang: F.size(
            F.array_intersect(
                distinct_words, F.array(*[F.lit(w) for w in profile])
            )
        )
        for lang, profile in LANG_PROFILES.items()
    }


def sql_lang_scores(words: str) -> dict[str, str]:
    """DuckDB twin of :func:`lang_scores`, INTEGER like Spark's."""
    return {
        lang: f"CAST(len(list_intersect(list_distinct({words}),"
        f" [{_sql_list(profile)}])) AS INTEGER)"
        for lang, profile in LANG_PROFILES.items()
    }


#: The ``<lang>_score`` names that :func:`sql_lang_score_columns` binds.
LANG_SCORE_COLUMNS = {lang: f"{lang}_score" for lang in LANG_PROFILES}


def sql_lang_score_columns(words: str) -> str:
    """:func:`sql_lang_scores` as a select list, one column per
    :data:`LANG_SCORE_COLUMNS` name."""
    return ", ".join(
        f"{score} AS {LANG_SCORE_COLUMNS[lang]}"
        for lang, score in sql_lang_scores(words).items()
    )


def lang_id(scores: dict[str, Column]) -> Column:
    """The language with the highest score, ties to the one listed
    first in :data:`LANG_PROFILES`."""
    langs = list(LANG_PROFILES)
    out = None
    for i, lang in enumerate(langs[:-1]):
        wins = None
        for other in langs[i + 1 :]:
            cond = scores[lang] >= scores[other]
            wins = cond if wins is None else wins & cond
        out = F.when(wins, lang) if out is None else out.when(wins, lang)
    return out.otherwise(langs[-1])


def sql_lang_id(scores: dict[str, str]) -> str:
    """DuckDB twin of :func:`lang_id`; ``scores`` maps each language to
    a score expression or column name."""
    langs = list(LANG_PROFILES)
    arms = [
        " AND ".join(f"{scores[lang]} >= {scores[o]}" for o in langs[i + 1 :])
        + f" THEN '{lang}'"
        for i, lang in enumerate(langs[:-1])
    ]
    return f"CASE WHEN {' WHEN '.join(arms)} ELSE '{langs[-1]}' END"


def canonical_text(text: Column) -> Column:
    """Lowercased, space runs collapsed to one, trimmed."""
    return F.trim(F.regexp_replace(F.lower(text), " +", " "))


def sql_canonical_text(text: str) -> str:
    """DuckDB twin of :func:`canonical_text`."""
    return f"trim(regexp_replace(lower({text}), ' +', ' ', 'g'))"


def quality_exprs(text: Column) -> dict[str, Column]:
    """Quality-scoring feature battery (length / punctuation / stopword /
    token statistics) used to filter training corpora."""
    words = tokenize(text)
    n_chars = F.length(text)
    n_tokens = F.size(words)
    n_bpe = F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))
    n_punct = F.size(F.regexp_extract_all(text, F.lit(PUNCT_RE), 0))
    return {
        "n_chars": n_chars.cast("int"),
        "n_tokens": n_tokens.cast("int"),
        "n_bpe_tokens": n_bpe.cast("int"),
        "punct_ratio": portable_round(n_punct.cast("double") / n_chars, 4),
        "stopword_hits": lang_scores(words)["en"].cast("int"),
        "mean_token_len": portable_round(
            (n_chars - n_tokens + 1).cast("double") / F.nullif(n_tokens, F.lit(0)), 4
        ),
    }


def sql_quality_exprs(text: str) -> dict[str, str]:
    """DuckDB twin of :func:`quality_exprs`."""
    words = sql_tokenize(text)
    n_tokens = f"len({words})"
    return {
        "n_chars": f"CAST(length({text}) AS INTEGER)",
        "n_tokens": f"CAST({n_tokens} AS INTEGER)",
        "n_bpe_tokens": f"CAST(len(regexp_extract_all({text}, '{BPE_TOKEN_RE}'))"
        " AS INTEGER)",
        "punct_ratio": sql_portable_round(
            f"CAST(len(regexp_extract_all({text}, '{PUNCT_RE}')) AS DOUBLE)"
            f" / length({text})",
            4,
        ),
        "stopword_hits": sql_lang_scores(words)["en"],
        "mean_token_len": sql_portable_round(
            f"CAST(length({text}) - {n_tokens} + 1 AS DOUBLE)"
            f" / nullif({n_tokens}, 0)",
            4,
        ),
    }


def classifier_scored(
    docs: DataFrame, *carry: str, n_words: str = "n_words"
) -> DataFrame:
    """The quality classifier over the ``text`` of ``docs``: its rows
    with at least one token and non-empty text, as the ``carry`` columns,
    the token count ``n_words`` and the 6dp ``score``.

    The features are the token count capped at 200, the mean token
    length, the :data:`CLASSIFIER_STOPWORDS` share and the digit share
    of the text; fixed weights combine them through a sigmoid."""
    feat = (
        docs.select(*carry, "text", tokenize("text").alias("w"))
        .filter((F.size("w") > 0) & (F.length("text") > 0))
        .select(
            *carry,
            F.size("w").cast("bigint").alias(n_words),
            (
                F.aggregate(
                    "w", F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
                ).cast("double")
                / F.size("w")
            ).alias("avg_wlen"),
            (
                F.size(F.filter("w", lambda x: x.isin(*CLASSIFIER_STOPWORDS)))
                .cast("double")
                / F.size("w")
            ).alias("stop_ratio"),
            (
                F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
                / F.length("text")
            ).alias("digit_ratio"),
        )
    )
    z = (
        F.lit(-2.0)
        + F.lit(0.02) * F.least(F.col(n_words), F.lit(200)).cast("double")
        + F.lit(6.0) * F.col("stop_ratio")
        - F.lit(8.0) * F.col("digit_ratio")
        + F.lit(0.3) * F.col("avg_wlen")
    )
    return feat.select(
        *carry,
        n_words,
        portable_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
    )


def sql_classifier_scored(*carry: str, n_words: str = "n_words") -> str:
    """DuckDB twin of :func:`classifier_scored` over the ``documents``
    view."""
    cols = "".join(f"{c}, " for c in carry)
    score = sql_portable_round(
        f"1.0 / (1.0 + exp(-(-2.0 + 0.02 * least({n_words}, 200)"
        " + 6.0 * stop_ratio - 8.0 * digit_ratio + 0.3 * avg_wlen)))",
        6,
    )
    return f"""
        SELECT {cols}{n_words}, {score} AS score
        FROM (
            SELECT {cols}CAST(len(w) AS BIGINT) AS {n_words},
                   CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                       / len(w) AS avg_wlen,
                   CAST(len(list_filter(w, x -> x IN
                       ({_sql_list(CLASSIFIER_STOPWORDS)}))) AS DOUBLE)
                       / len(w) AS stop_ratio,
                   CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                       / length(text) AS digit_ratio
            FROM (SELECT *, {sql_tokenize("text")} AS w FROM documents)
            WHERE len(w) > 0 AND length(text) > 0
        )
    """
