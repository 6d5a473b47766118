"""Text-analysis operators for large-scale training-data pipelines.

Everything here is JVM-side ``pyspark.sql.functions`` only — no Python UDFs —
so the hot path stays inside whole-stage codegen and predicate pushdown.
Each operator has an exact ANSI-SQL oracle (see ``__spark_entry__.oracle_sql``)
over the same tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: small deterministic English stopword list for the language-ID heuristic
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "be",
]


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse whitespace — the canonical form used by
    fingerprinting and exact dedup."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens(col: Column) -> Column:
    """Whitespace tokenization (training-pipeline token counting baseline)."""
    return F.split(F.trim(col), r"\s+")


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 hex of the normalized text. md5 is
    bit-identical across Spark and DuckDB, so dedup decisions replicate
    exactly in the oracle."""
    return F.md5(normalize_text(col))


def span_text_profile(documents: DataFrame) -> DataFrame:
    """Text analysis over interleaved-span documents (input_hint schema):
    concatenate each document's text spans in offset order, then profile.
    ``array_join`` + ``filter`` keep everything JVM-side."""
    by_offset = F.array_sort(
        F.col("spans"),
        lambda l, r: F.when(l["offset"] < r["offset"], -1)
        .when(l["offset"] > r["offset"], 1).otherwise(0),
    )
    joined = F.array_join(
        F.transform(
            F.filter(by_offset, lambda s: s["kind"] == "text"),
            lambda s: s["text"],
        ),
        " ",
    )
    flat = documents.select(
        "doc_id", joined.alias("text"),
        F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "media")).alias("n_media_spans"),
    )
    return text_profile(flat).join(flat.select("doc_id", "n_media_spans"), "doc_id")


def vocabulary_stats(documents: DataFrame, text_col: str = "text",
                     top_k: int = 50) -> DataFrame:
    """Corpus vocabulary: top-k words by document frequency with total
    term frequency — one explode + one groupBy (classic training-pipeline
    vocabulary pass; partial aggregation handles the heavy tail)."""
    words = documents.select(
        "doc_id", F.explode(tokens(normalize_text(F.col(text_col)))).alias("word")
    ).filter(F.length("word") > 0)
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("tf"),
             F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("df"), F.desc("tf"), F.asc("word"))
        .limit(top_k)
    )


def length_histogram(documents: DataFrame, text_col: str = "text",
                     bucket: int = 100) -> DataFrame:
    """Document-length distribution: counts per ``bucket``-char bin — the
    standard corpus-curation length filter input."""
    b = F.floor(F.length(F.col(text_col)) / bucket).cast("long")
    return (
        documents.groupBy(b.alias("bucket"))
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.length(F.col(text_col))).alias("total_chars"))
        .orderBy("bucket")
    )


def text_profile(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per document with the full text-analysis feature set.

    Structured as staged projections so every expensive expression (regex
    split/replace, stopword filter, md5) is evaluated ONCE per row: the
    naive composition evaluated ``split(trim(lower(text)))`` six times and
    the stopword filter three times per row (once each for stopword_ratio,
    quality and lang_pred), because Catalyst expands the shared helpers
    into one giant Project with no common-subexpression reuse across
    higher-order functions.  Since SPARK-36718 ``CollapseProject`` keeps
    stacked projections separate when a non-cheap produced column is
    referenced more than once downstream, so the staging below survives
    optimization.  Output values are bit-identical to the composed form:
    every final expression is the same tree with single-valued integer
    attributes substituted for repeated subtrees (the one substitution
    that is not purely syntactic — mean_word_len's numerator — replaces
    the sequential double sum of token lengths with the integer count of
    non-whitespace chars, equal because whitespace-split tokens partition
    exactly those chars and integer-valued doubles are exact).
    """
    c = F.col(text_col)
    low_toks = tokens(F.lower(c))
    # stage 0: the one array both the stopword count and its denominator need
    s0 = documents.select("doc_id", c.alias(text_col),
                          low_toks.alias("_low_toks"))
    # stage 1: every regex / HOF / digest, each exactly once
    s1 = s0.select(
        "doc_id",
        F.length(c).alias("_len"),
        F.length(F.trim(c)).alias("_trim_len"),
        F.size(tokens(c)).alias("_n_toks"),
        F.size(F.col("_low_toks")).alias("_n_low_toks"),
        F.size(F.filter(F.col("_low_toks"),
                        lambda t: t.isin(EN_STOPWORDS))).alias("_n_stop"),
        F.length(F.regexp_replace(c, r"[^\w\s]", "")).alias("_n_punct_kept"),
        F.length(F.regexp_replace(c, r"\s+", "")).alias("_n_nonws"),
        # [^\p{Alnum}]+ == [^A-Za-z0-9]+ under Java's default POSIX
        # classes; the spelled-out range class hits a ~50x regex slow path
        # on Spark 4.1 (40 CPU-s vs 0.7 CPU-s over 50k docs)
        F.size(F.split(F.trim(c), r"[^\p{Alnum}]+")).alias("_n_units"),
        fingerprint(c).alias("fingerprint"),
    )
    # stage 2: cheap arithmetic over the counters (ratio re-use is trivial)
    stop_ratio = F.col("_n_stop") / F.greatest(F.col("_n_low_toks"), F.lit(1))
    pct_ratio = (F.col("_len") - F.col("_n_punct_kept")) \
        / F.greatest(F.col("_len"), F.lit(1))
    quality = (
        F.lit(0.4) * F.least(F.log1p(F.col("_len")) / F.lit(8.0), F.lit(1.0))
        + F.lit(0.4) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(pct_ratio * 5, F.lit(1.0)))
    )
    return s1.select(
        "doc_id",
        F.when(F.col("_trim_len") == 0, F.lit(0))
        .otherwise(F.col("_n_toks")).alias("n_tokens"),
        (F.col("_n_units").cast("long")
         + F.floor(F.col("_n_nonws") / F.lit(16))).cast("long").alias("n_bpe_tokens"),
        F.col("_len").alias("n_chars"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(pct_ratio, 6).alias("punct_ratio"),
        F.round(F.col("_n_nonws").cast("double")
                / F.greatest(F.col("_n_toks"), F.lit(1)), 6).alias("mean_word_len"),
        F.round(quality, 6).alias("quality"),
        F.when(stop_ratio >= 0.05, F.lit("en")).otherwise(F.lit("unk")).alias("lang_pred"),
        "fingerprint",
    )
