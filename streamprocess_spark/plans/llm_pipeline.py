"""LLM-training-data pipeline queries (SURVEY §2.13, M6): dedup,
similarity search, text analysis over `documents` / `embeddings`.

Oracle SQL mirrors the Spark operators token for token: the shared
md5→60-bit hash makes MinHash/SimHash bit-identical across engines;
dot products accumulate in decimal (order-independent, exact).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocess_spark.io.tables import load_tables
from streamprocess_spark.operators import dedup as D
from streamprocess_spark.operators import similarity as S
from streamprocess_spark.operators import text as X
from streamprocess_spark.plans.registry import QUERIES, register
from streamprocess_spark.plans.util import sql_davg

# DuckDB fragments mirroring operators.text / operators.dedup
_TOKS = r"list_filter(string_split_regex(text, '\s+'), t -> t != '')"
_HASH = f"(('0x' || substr(md5({{v}}), 1, 15))::BIGINT % {D.MOD})"
_STOPLIST = "['" + "','".join(X.STOPWORDS) + "']"

# word 3-gram shingle CTEs (1-indexed lists; range end-exclusive →
# i = 1..len-2 covers every trigram; len<3 → empty)
_SHINGLES = f"""
    tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 1, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS tok
        FROM tk
    )"""


@register(
    "q40_text_stats",
    oracle=f"""
    WITH t AS (
        SELECT lang, {_TOKS} AS toks, text FROM documents
    ), m AS (
        SELECT lang,
               cast(len(toks) AS bigint) AS n_tokens,
               cast(len(list_filter(toks, x -> list_contains({_STOPLIST}, lower(x))))
                    AS bigint) AS n_stop,
               cast(length(text) AS bigint) AS n_chars
        FROM t
    )
    SELECT lang,
           count(*) AS n_docs,
           cast(sum(n_tokens) AS bigint) AS total_tokens,
           {sql_davg('cast(n_tokens as double)', 'avg_tokens')},
           {sql_davg('cast(n_stop as double) / greatest(cast(n_tokens as double), 1.0)',
                     'avg_stop_ratio')},
           cast(sum(n_chars) AS bigint) AS total_chars
    FROM m GROUP BY lang
    """,
    covers=("§2.13-text", "A4"),
    doc="Per-language token statistics: token counting, stopword "
        "ratios, char totals — pure Catalyst expressions, zero UDFs.",
    bench=True,
)
def q40_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    m = docs.select(
        "lang",
        X.token_count("text").alias("n_tokens"),
        X.stopword_count("text").alias("n_stop"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.greatest(
        F.col("n_tokens").cast("double"), F.lit(1.0)
    )
    from streamprocess_spark.plans.util import davg

    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        davg(F.col("n_tokens").cast("double"), "avg_tokens"),
        davg(stop_ratio, "avg_stop_ratio"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q41_quality_buckets",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), m AS (
        SELECT doc_id,
               cast(len(toks) AS double) AS n,
               cast(len(list_filter(toks, x -> list_contains({_STOPLIST}, lower(x))))
                    AS double) AS n_stop,
               cast(list_sum(list_transform(toks, x -> length(x))) AS double) AS sum_len
        FROM t
    ), q AS (
        SELECT doc_id,
               round(greatest(0.0, least(1.0,
                   0.5 * least(n / 64.0, 1.0)
                 + 0.3 * least((sum_len / greatest(n, 1.0)) / 5.0, 1.0)
                 + 0.2 * (1.0 - n_stop / greatest(n, 1.0)))), 6) AS quality
        FROM m
    )
    SELECT cast(floor(quality * 10.0) AS int) AS decile,
           count(*) AS n_docs,
           min(doc_id) AS first_doc
    FROM q GROUP BY 1
    """,
    covers=("§2.13-text", "R5"),
    doc="Document quality scoring (length/stopword/token-shape "
        "heuristics) bucketed into deciles — the filter stage of a "
        "training-data pipeline.",
)
def q41_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    q = docs.select("doc_id", X.quality_score("text").alias("quality"))
    return (
        q.withColumn("decile", F.floor(F.col("quality") * 10.0).cast("int"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


def _lang_score_sql(lang: str) -> str:
    markers = "['" + "','".join(X.LANG_MARKERS[lang]) + "']"
    return f"len(list_filter(toks, x -> list_contains({markers}, lower(x))))"


_N_LANGS = len(X.LANG_MARKERS)
_ENCODED = ", ".join(
    f"{_lang_score_sql(lang)} * {_N_LANGS} + {_N_LANGS - 1 - i}"
    for i, lang in enumerate(X.LANG_MARKERS)
)
_DECODE = "CASE greatest(" + _ENCODED + f") % {_N_LANGS} " + " ".join(
    f"WHEN {_N_LANGS - 1 - i} THEN '{lang}'"
    for i, lang in enumerate(X.LANG_MARKERS)
) + " ELSE 'unknown' END"


@register(
    "q42_lang_id",
    oracle=f"""
    WITH t AS (
        SELECT lang, {_TOKS} AS toks FROM documents
    )
    SELECT lang AS labeled_lang, {_DECODE} AS pred_lang, count(*) AS n_docs
    FROM t GROUP BY 1, 2
    """,
    covers=("§2.13-text",),
    doc="Language-ID heuristic: arg-max over marker-vocabulary hit "
        "counts (confusion matrix vs the labeled lang column).",
)
def q42_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select(
            F.col("lang").alias("labeled_lang"),
            X.predicted_lang("text").alias("pred_lang"),
        )
        .groupBy("labeled_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "q43_fingerprint_dedup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fp
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT fp) AS n_unique,
           count(*) - count(DISTINCT fp) AS n_dups
    FROM t GROUP BY source
    """,
    covers=("§2.13-dedup", "A2-shape"),
    doc="Canonical-form fingerprint dedup (order/duplication-"
        "insensitive md5 of the sorted token set) per source.",
)
def q43_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    t = docs.select("doc_id", "source", X.fingerprint("text").alias("fp"))
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dups"),
    )


@register(
    "q44_exact_dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS canonical_id,
           count(*) AS cluster_size
    FROM documents
    GROUP BY md5(text)
    """,
    covers=("§2.13-dedup",),
    doc="Exact duplicate clusters by content hash; survivor = min id "
        "(the distributed dropDuplicates-with-audit form).",
)
def q44_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return D.exact_dedup(docs, "doc_id", "text")


def _minhash_sig_sql() -> str:
    mins = ", ".join(
        f"min(({a} * hv + {b}) % {D.MOD}) AS m{i}"
        for i, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    return f"""{_SHINGLES}, h AS (
        SELECT doc_id, {_HASH.format(v='tok')} AS hv FROM sh
    ), sig AS (
        SELECT doc_id, {mins} FROM h GROUP BY doc_id
    )"""


_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, m{2*b} * {D.MOD} + m{2*b+1} AS band_key FROM sig"
    for b in range(D.N_BANDS)
)


@register(
    "q45_minhash_lsh",
    oracle=f"""
    WITH {_minhash_sig_sql()}, bands AS ({_BANDS_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    covers=("§2.13-dedup",),
    doc="MinHash+LSH near-dup candidates: shingle→minhash(k=8)→band(4×2)"
        "→bucket join. The only non-doc-keyed shuffle is the band-key "
        "equi-join — the scalable 100 TB layout.",
    bench=True,
)
def q45_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return D.minhash_candidates(docs, "doc_id", "text")


_SIMHASH_SUMS = ", ".join(
    f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(D.SIMHASH_BITS)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(D.SIMHASH_BITS)
)


@register(
    "q46_simhash",
    oracle=f"""
    WITH {_SHINGLES}, h AS (
        SELECT doc_id, {_HASH.format(v='tok')} AS hv FROM sh
    ), sums AS (
        SELECT doc_id, {_SIMHASH_SUMS} FROM h GROUP BY doc_id
    )
    SELECT doc_id, cast({_SIMHASH_FP} AS bigint) AS simhash FROM sums
    """,
    covers=("§2.13-dedup",),
    doc="SimHash fingerprints (16-bit, md5 bit-votes) — near-dup pairs "
        "come from hamming distance over high-byte buckets "
        "(simhash_near_pairs).",
)
def q46_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return D.simhash(docs, "doc_id", "text")


@register(
    "q47_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES}, sk0 AS (
        SELECT doc_id, {_HASH.format(v='tok')} AS gh FROM sh
        WHERE {_HASH.format(v='tok')} % 2 = 0
    ), rare AS (
        SELECT gh FROM sk0 GROUP BY gh HAVING count(*) <= 1000
    ), sk AS (
        SELECT sk0.doc_id, sk0.gh FROM sk0 JOIN rare USING (gh)
    ), sizes AS (
        SELECT doc_id, count(*) AS sz FROM sk GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM sk a JOIN sk b ON a.gh = b.gh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           round(cast(inter AS double)
                 / cast(sa.sz + sb.sz - inter AS double), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(cast(inter AS double)
                / cast(sa.sz + sb.sz - inter AS double), 6) >= 0.5
    """,
    covers=("§2.13-dedup",),
    doc="Word-trigram Jaccard near-dup pairs on a deterministic 1/2 "
        "gram sketch (H(g)%2==0 — consistent sampling, so sketch "
        "Jaccard ≈ true Jaccard); stop-grams with doc-frequency > 1000 "
        "dropped before the pair join (m² pair-blowup guard at scale).",
)
def q47_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return D.ngram_jaccard_pairs(docs, "doc_id", "text")


_DOT_FP = (
    "cast(cast(sum(cast(floor(a * b * 1000000000000.0) AS bigint)) AS bigint)"
    " AS double) / 1000000000000.0"
)
_NORM_FP = (
    "cast(cast(sum(cast(floor(a * a * 1000000000000.0) AS bigint)) AS bigint)"
    " AS double) / 1000000000000.0"
)


@register(
    "q48_embedding_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10
    ), pairs AS (
        SELECT q.qid, c.vec_id AS cid,
               unnest(q.qe)::DOUBLE AS a, unnest(c.embedding)::DOUBLE AS b
        FROM q CROSS JOIN embeddings c
        WHERE c.vec_id != q.qid
    ), dots AS (
        SELECT qid, cid, {_DOT_FP} AS dot FROM pairs GROUP BY qid, cid
    ), norms AS (
        SELECT vec_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS a FROM embeddings)
        GROUP BY vec_id
    ), scored AS (
        SELECT qid, cid,
               round(dot / (nq.nrm * nc.nrm), 6) AS cos_sim
        FROM dots JOIN norms nq ON nq.vec_id = qid
                  JOIN norms nc ON nc.vec_id = cid
    )
    SELECT qid, cid, rank, cos_sim FROM (
        SELECT qid, cid, cos_sim,
               cast(row_number() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, cid) AS int) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    covers=("§2.13-similarity",),
    doc="Brute-force cosine top-5 for 10 query vectors: broadcast "
        "queries, JVM-side zip_with/aggregate dot products in exact "
        "decimal, per-query rank. The exactness baseline for ANN.",
    bench=True,
)
def q48_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    # collected_queries: 10 probe vectors are bounded metadata — the
    # Arrow block scorer replaces the broadcast-NLJ per-pair HOF dot
    # (round-12, bit-identical, ~30% faster; see cosine_topk docstring)
    return S.cosine_topk(emb, queries, k=5, collected_queries=True)


@register(
    "q49_ann_lsh_topk",
    # The md5-seeded hyperplanes are reproducible in DuckDB, so the
    # WHOLE approximate pipeline is oracle-checked: plane generation,
    # sign buckets per table, candidate union, dedup, exact rescoring,
    # final rank. Bucket membership compares an exact fixed-point dot
    # against 0, so no float ulp can flip a bucket bit.
    oracle=f"""
    WITH planes AS (
        SELECT r1.t, r2.p, r3.j,
               (((('0x' || substr(md5(r1.t || ':' || r2.p || ':' || r3.j),
                    1, 15))::BIGINT % 1000000007) % 2001) - 1000) / 1000.0
                   AS comp
        FROM range(0, 8) r1(t), range(0, 4) r2(p), range(0, 64) r3(j)
    ), dots AS (
        SELECT e.vec_id, pl.t, pl.p,
               cast(sum(cast(floor(e.embedding[pl.j + 1]::DOUBLE * pl.comp
                                   * 1000000000000.0) AS BIGINT)) AS BIGINT)
                   AS dfp
        FROM embeddings e, planes pl
        GROUP BY 1, 2, 3
    ), buckets AS (
        SELECT vec_id, t,
               sum(CASE WHEN dfp > 0 THEN (1::BIGINT << p) ELSE 0 END)
                   AS bucket
        FROM dots GROUP BY 1, 2
    ), cand AS (
        SELECT DISTINCT qb.vec_id AS qid, cb.vec_id AS cid
        FROM buckets qb JOIN buckets cb
          ON qb.t = cb.t AND qb.bucket = cb.bucket
         AND cb.vec_id != qb.vec_id
        WHERE qb.vec_id < 10
    ), pairs AS (
        SELECT cand.qid, cand.cid,
               unnest(q.embedding)::DOUBLE AS a,
               unnest(c.embedding)::DOUBLE AS b
        FROM cand JOIN embeddings q ON q.vec_id = cand.qid
                  JOIN embeddings c ON c.vec_id = cand.cid
    ), pair_dots AS (
        SELECT qid, cid, {_DOT_FP} AS dot FROM pairs GROUP BY qid, cid
    ), norms AS (
        SELECT vec_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS a FROM embeddings)
        GROUP BY vec_id
    ), scored AS (
        SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS cos_sim
        FROM pair_dots JOIN norms nq ON nq.vec_id = qid
                       JOIN norms nc ON nc.vec_id = cid
    )
    SELECT qid, cid, rank, cos_sim FROM (
        SELECT qid, cid, cos_sim,
               cast(row_number() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, cid) AS int)
                   AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    covers=("§2.13-similarity",),
    doc="Approximate NN: multi-table sign-random-projection LSH "
        "(md5-seeded hyperplanes, 8 tables x 4 planes), candidates "
        "searched only within shared buckets — the 100 TB scale path "
        "(equi-join on bucket id, no cross join). Fully oracle-checked "
        "including the plane generation.",
)
def q49_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ann_topk_lsh(emb, queries, k=5)


@register(
    "q72_embedding_neardup",
    oracle=f"""
    WITH pairs AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               unnest(q.embedding)::DOUBLE AS a,
               unnest(c.embedding)::DOUBLE AS b
        FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
    ), dots AS (
        SELECT qid, cid, {_DOT_FP} AS dot FROM pairs GROUP BY qid, cid
    ), norms AS (
        SELECT vec_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS a FROM embeddings)
        GROUP BY vec_id
    ), scored AS (
        SELECT qid, cid,
               round(dot / (nq.nrm * nc.nrm), 6) AS cos_sim
        FROM dots JOIN norms nq ON nq.vec_id = qid
                  JOIN norms nc ON nc.vec_id = cid
    )
    SELECT qid AS doc_a, cid AS nearest, cos_sim,
           CASE WHEN cos_sim >= 0.95 THEN true ELSE false END AS is_near_dup
    FROM (
        SELECT qid, cid, cos_sim,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, cid) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
    covers=("§2.13-dedup", "§2.13-similarity"),
    doc="Embedding-cosine near-duplicate detection: every vector's "
        "nearest neighbor + similarity, flagged when above the dup "
        "threshold (no planted dups in the synthetic corpus, so the "
        "report form keeps the check non-degenerate). Same two-level "
        "top-k engine as q48 with k=1; at 100 TB the LSH-bucketed "
        "variant (q49 machinery) generates candidates instead of the "
        "exact all-pairs pass.",
)
def q72_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    nn = S.cosine_topk(emb, emb, k=1)
    return nn.select(
        F.col("qid").alias("doc_a"),
        F.col("cid").alias("nearest"),
        "cos_sim",
        (F.col("cos_sim") >= 0.95).alias("is_near_dup"),
    )


@register(
    "q73_ann_ivf_topk",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cent
        FROM embeddings WHERE vec_id < 16
    ), norms AS (
        SELECT vec_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS a FROM embeddings)
        GROUP BY vec_id
    ), asg_pairs AS (
        SELECT e.vec_id, c.cent_id,
               unnest(e.embedding)::DOUBLE AS a,
               unnest(c.cent)::DOUBLE AS b
        FROM embeddings e, cents c
    ), asg_dots AS (
        SELECT vec_id, cent_id, {_DOT_FP} AS dot
        FROM asg_pairs GROUP BY vec_id, cent_id
    ), asg_scored AS (
        SELECT d.vec_id, d.cent_id,
               round(d.dot / (nv.nrm * nc.nrm), 6) AS s
        FROM asg_dots d JOIN norms nv ON nv.vec_id = d.vec_id
                        JOIN norms nc ON nc.vec_id = d.cent_id
    ), ranked AS (
        SELECT vec_id, cent_id AS bucket,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cent_id) AS rn
        FROM asg_scored
    ), corpus_bucket AS (
        SELECT vec_id AS cid, bucket FROM ranked WHERE rn = 1
    ), q_bucket AS (
        SELECT vec_id AS qid, bucket FROM ranked
        WHERE rn <= 2 AND vec_id < 10
    ), cand AS (
        SELECT DISTINCT q.qid, c.cid
        FROM q_bucket q JOIN corpus_bucket c USING (bucket)
        WHERE c.cid != q.qid
    ), pairs AS (
        SELECT cand.qid, cand.cid,
               unnest(q.embedding)::DOUBLE AS a,
               unnest(c.embedding)::DOUBLE AS b
        FROM cand JOIN embeddings q ON q.vec_id = cand.qid
                  JOIN embeddings c ON c.vec_id = cand.cid
    ), pair_dots AS (
        SELECT qid, cid, {_DOT_FP} AS dot FROM pairs GROUP BY qid, cid
    ), scored AS (
        SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS cos_sim
        FROM pair_dots JOIN norms nq ON nq.vec_id = qid
                       JOIN norms nc ON nc.vec_id = cid
    )
    SELECT qid, cid, rank, cos_sim FROM (
        SELECT qid, cid, cos_sim,
               cast(row_number() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, cid) AS int)
                   AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    covers=("§2.13-similarity",),
    doc="IVF-flat approximate NN: deterministic coarse quantizer "
        "(corpus sample as centroids), corpus vectors in inverted "
        "lists, queries probe their 2 nearest lists and rescore "
        "exactly. The second ANN family next to sign-LSH (q49); fully "
        "oracle-checked including the assignment step.",
)
def q73_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ann_topk_ivf(emb, queries, k=5, n_centroids=16, probe=2)


@register(
    "q74_label_centroids",
    oracle="""
    WITH el AS (
        SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding)::DOUBLE AS v
        FROM embeddings
    )
    SELECT label, cast(dim AS INT) AS dim,
           count(*)::BIGINT AS n,
           cast(sum(cast(floor(v * 1000000.0) AS BIGINT)) AS BIGINT)
               AS sum_fp
    FROM el GROUP BY label, dim
    """,
    covers=("§2.13-similarity", "A13"),
    doc="Per-label mean-pooled centroids via element-wise array "
        "aggregation (posexplode to (label, dim, value), aggregate per "
        "cell): the cluster-centroid / mean-pooling pattern an IVF "
        "trainer or class-prototype pipeline runs at scale. Shuffle "
        "carries (label, dim) cells, never whole vectors.",
)
def q74_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.plans.util import fixed

    emb = load_tables(spark, sf_dir)["embeddings"]
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(fixed(F.col("v").cast("double"))).cast("bigint").alias("sum_fp"),
        )
    )


@register(
    "q75_stratified_sample",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 1000000007 AS h
        FROM documents
    )
    SELECT lang,
           count(*)::BIGINT AS n_total,
           cast(sum(CASE WHEN h % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           cast(min(CASE WHEN h % 10 = 0 THEN doc_id END) AS BIGINT)
               AS first_sampled
    FROM s GROUP BY lang
    """,
    covers=("§2.13-text", "R5"),
    doc="Deterministic stratified sampling: md5(doc_id) mod N selects a "
        "reproducible ~10% per stratum — the shuffle-free, seed-stable "
        "sampling a training-data pipeline needs (TABLESAMPLE/rand() "
        "are not replay-stable across retries; a content hash is).",
)
def q75_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 1000000007
    )
    s = docs.select("doc_id", "lang", h.alias("h"))
    keep = F.col("h") % 10 == 0
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        F.min(F.when(keep, F.col("doc_id"))).cast("bigint").alias("first_sampled"),
    )


_SEG = 1 << 16


@register(
    "q76_simhash_pairs",
    oracle=f"""
    WITH {_SHINGLES}, h AS (
        SELECT doc_id, {_HASH.format(v='tok')} AS hv FROM sh
    ), sums AS (
        SELECT doc_id, {_SIMHASH_SUMS} FROM h GROUP BY doc_id
    ), fp AS (
        SELECT doc_id, cast({_SIMHASH_FP} AS bigint) AS simhash FROM sums
    ), seg AS (
        SELECT doc_id, simhash, t.i AS seg,
               (simhash >> (t.i * 16)) & {_SEG - 1} AS seg_val
        FROM fp, range(0, 3) t(i)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS fp_a, b.simhash AS fp_b
        FROM seg a JOIN seg b
          ON a.seg = b.seg AND a.seg_val = b.seg_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           cast(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 2
    """,
    covers=("§2.13-dedup",),
    doc="SimHash near-dup pairs: 48-bit fingerprints, pigeonhole "
        "3x16-bit segment candidates (hamming<=2 guarantees an exact "
        "segment match — candidate generation is exact, and the "
        "(seg, seg_val) equi-join has 2^16 buckets per segment, no "
        "byte-bucket cross join).",
)
def q76_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    pairs = D.simhash_near_pairs(docs, "doc_id", "text", max_hamming=2)
    return pairs.withColumn("hamming", F.col("hamming").cast("int"))


@register(
    "q77_dedup_pipeline",
    oracle=f"""
    WITH canon_ids AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ), canon AS (
        SELECT d.doc_id, d.text FROM documents d JOIN canon_ids USING (doc_id)
    ), {_minhash_sig_sql().replace("FROM documents", "FROM canon")},
    bands AS ({_BANDS_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    covers=("§2.13-dedup",),
    doc="Production dedup composition: exact-hash collapse to one "
        "canonical doc per content (q44) BEFORE MinHash banding (q45). "
        "At scale this is the guard against identical-copy bucket "
        "blowup — m exact copies would otherwise share every band and "
        "emit m² candidate pairs; after the collapse each content "
        "appears once and LSH only spends pairs on genuine near-dups.",
)
def q77_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    canon_ids = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    canon = docs.join(canon_ids, "doc_id").select("doc_id", "text")
    return D.minhash_candidates(canon, "doc_id", "text")


@register(
    "q85_vocab_topk",
    oracle="""
    SELECT token, count(*)::BIGINT AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
    covers=("§2.13-text", "A4-adjacent", "W3-adjacent"),
    doc="Vocabulary construction + top-k tokens — the first step of "
        "any tokenizer/BPE training pass over a 100 TB corpus. "
        "Deliberately orderBy+limit, NOT a global row_number window: "
        "Catalyst plans TakeOrderedAndProject, which keeps only 20 "
        "rows per partition and never sorts the full vocabulary on "
        "one task (a 100 M-token vocab would kill the window form). "
        "Tie-break on the token string makes the cut deterministic.",
)
def q85_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


_PAIRS_CC_SQL = f"""{_minhash_sig_sql()}, bands AS ({_BANDS_SQL}),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, other) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.other
    ),
    cc AS (
        SELECT node, min(other) AS cluster_id FROM reach GROUP BY node
    )"""


@register(
    "q86_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CC_SQL}
    SELECT node AS doc_id, cluster_id FROM cc
    """,
    covers=("§2.13-dedup",),
    doc="Duplicate-CLUSTER resolution over MinHash candidate pairs: "
        "distributed hash-min connected components "
        "(operators/dedup.py:connected_components). Near-duplicate "
        "similarity is not transitive, but survivorship must be — the "
        "component, not the pair, is the dedup unit. Oracle is a "
        "DuckDB recursive-CTE transitive closure; Spark runs the "
        "O(diameter)-round label propagation with per-round lineage "
        "checkpoints (the form that scales to 100 TB edge sets).",
)
def q86_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    pairs = D.minhash_candidates(docs, "doc_id", "text").select("doc_a", "doc_b")
    return D.connected_components(pairs)


@register(
    "q87_canonical_corpus",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CC_SQL}
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)
    """,
    covers=("§2.13-dedup", "S11-adjacent"),
    doc="The dedup pipeline's final materialization: keep the minimum "
        "doc_id of every near-dup cluster (q86) plus all untouched "
        "docs — one anti-join against the non-canonical members. This "
        "is the 'write the cleaned corpus' step of a training-data "
        "pipeline; at 100 TB the anti-join is a broadcast (cluster "
        "members ≪ corpus) or shuffled-hash join, never a scan-side "
        "filter on a collected list.",
)
def q87_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    pairs = D.minhash_candidates(docs, "doc_id", "text").select("doc_a", "doc_b")
    dupes = (
        D.connected_components(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    return docs.join(dupes, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "q88_embedding_quantize",
    oracle="""
    WITH comps AS (
        SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM embeddings
    ), am AS (
        SELECT vec_id, max(abs(x)) AS amax FROM comps GROUP BY vec_id
    )
    SELECT c.vec_id, a.amax,
           count(CASE WHEN a.amax > 0
                       AND abs(floor(x * 127.0 / a.amax)) >= 127
                      THEN 1 END)::BIGINT AS n_saturated,
           cast(sum(cast(floor(
               (CASE WHEN a.amax > 0
                     THEN abs(x - floor(x * 127.0 / a.amax) * a.amax / 127.0)
                     ELSE 0.0 END) * 1000000.0) AS BIGINT)) AS BIGINT)
               AS recon_err_fp
    FROM comps c JOIN am a USING (vec_id)
    GROUP BY c.vec_id, a.amax
    """,
    covers=("§2.13-similarity", "F27-adjacent"),
    doc="Symmetric int8 vector quantization — the compression step "
        "before shipping a 100 TB embedding corpus into an ANN index "
        "(4x smaller, SIMD-friendly). Pure JVM higher-order array "
        "expressions (array_max/filter/aggregate), zero Python; "
        "quantized code = floor(x*127/amax) so the whole pipeline "
        "(codes, saturation count, fixed-point reconstruction error) "
        "is bit-reproducible in the oracle. Per-vector work is "
        "embarrassingly parallel: no shuffle at all after the scan.",
)
def q88_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    with_amax = emb.withColumn(
        "amax",
        F.expr("array_max(transform(embedding, x -> abs(cast(x AS double))))"),
    )
    n_sat = (
        "cast(size(filter(embedding, x -> amax > 0 AND "
        "abs(floor(cast(x AS double) * 127.0 / amax)) >= 127)) AS bigint)"
    )
    err = (
        "aggregate(embedding, cast(0 AS bigint), (acc, x) -> acc + "
        "cast(floor((CASE WHEN amax > 0 THEN "
        "abs(cast(x AS double) - floor(cast(x AS double) * 127.0 / amax)"
        " * amax / 127.0) ELSE 0.0 END) * 1000000.0) AS bigint))"
    )
    return with_amax.select(
        "vec_id",
        "amax",
        F.expr(n_sat).alias("n_saturated"),
        F.expr(err).alias("recon_err_fp"),
    )


@register(
    "q94_token_counts",
    oracle=r"""
    SELECT doc_id,
           cast(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
           cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
               AS BIGINT) AS bpe_tokens,
           cast(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
               AS alpha_tokens,
           cast(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
               AS num_tokens,
           cast(floor(length(text) * 1000000.0 / greatest(
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')),
               1)) AS BIGINT) AS chars_per_tok_fp
    FROM documents
    """,
    covers=("§2.13-text",),
    doc="Token counting for training-data budgeting (SURVEY §2.13): "
        "whitespace tokens and a BPE-style pre-tokenization (letter "
        "runs | digit runs | single non-alnum — the GPT-2/tiktoken "
        "pre-split shape) as native regexp_extract_all expressions, "
        "zero Python. chars-per-token is the standard corpus heuristic "
        "(~4 chars/token English), emitted fixed-point. Map-only: no "
        "shuffle, embarrassingly parallel at 100 TB.",
)
def q94_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    bpe = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(bpe), F.lit(0)))
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), F.lit(0)))
        .cast("bigint").alias("ws_tokens"),
        n_bpe.cast("bigint").alias("bpe_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z]+"), F.lit(0)))
        .cast("bigint").alias("alpha_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0)))
        .cast("bigint").alias("num_tokens"),
        F.floor(
            F.length("text").cast("double") * 1000000.0
            / F.greatest(n_bpe.cast("double"), F.lit(1.0))
        ).cast("bigint").alias("chars_per_tok_fp"),
    )


@register(
    "q95_winnowing",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
    ),
    sh AS (
        -- unnest(range(len)) so docs of ANY length replay exactly
        -- (a fixed cross-range would cap shingles at its bound)
        SELECT doc_id, i AS pos,
               t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS s
        FROM (SELECT doc_id, t,
                     unnest(range(0, greatest(len(t) - 2, 0))) AS i
              FROM toks) q
    ),
    hv AS (
        SELECT doc_id, pos,
               ('0x' || substr(md5(s), 1, 15))::BIGINT % 1000000007 AS h
        FROM sh
    ),
    wmin AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        FROM hv
    ),
    sel AS (
        SELECT DISTINCT doc_id, fp FROM wmin WHERE pos >= 3
    )
    SELECT doc_id,
           cast(count(*) AS BIGINT) AS n_fingerprints,
           cast(sum(fp) AS BIGINT) AS fp_sum,
           cast(min(fp) AS BIGINT) AS fp_min
    FROM sel GROUP BY doc_id
    """,
    covers=("§2.13-dedup",),
    doc="Winnowing document fingerprints (Schleimer/Wilkerson/Aiken "
        "MOSS scheme): hash every word 3-gram in document order, slide "
        "a w=4 window, keep the window minimum — guarantees any shared "
        "substring of >= w+k-1 tokens produces a shared fingerprint, "
        "at ~2/(w+1) the storage of full shingle sets. The rolling-"
        "hash fingerprinting the §2.13 charter asks for, selected with "
        "a window function (min OVER rows 3 preceding) — one shuffle "
        "by doc_id, oracle bit-for-bit via the shared md5 token hash "
        "(operators/dedup.py token_hash).",
)
def q95_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from streamprocess_spark.operators.dedup import MOD, token_hash

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all("text", F.lit(r"\S+"), F.lit(0)).alias("t"),
    )
    idx = F.when(
        F.size("t") >= 3, F.sequence(F.lit(0), F.size("t") - 3)
    ).otherwise(F.array().cast("array<int>"))
    sh = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.col("t")[i], F.col("t")[i + 1], F.col("t")[i + 2]
                ),
            )
        ).alias("pos", "s"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    sel = (
        sh.select("doc_id", "pos", token_hash(F.col("s")).alias("h"))
        .select("doc_id", "pos", F.min("h").over(w).alias("fp"))
        .filter(F.col("pos") >= 3)
        .select("doc_id", "fp")
        .distinct()
    )
    return sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum("fp").alias("fp_sum"),
        F.min("fp").alias("fp_min"),
    )


# oracle fragment: one k-means assignment round — scores every vector
# against centroid table {C}, keeps the argmax (round-6 cosine,
# centroid-id tie-break). Emitted as a set of CTEs suffixed {T}.
def _km_assign_cte(C: str, T: str) -> str:
    return f"""
    cn{T} AS (
        SELECT cent_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT cent_id, unnest(cent)::DOUBLE AS a FROM {C})
        GROUP BY cent_id
    ), p{T} AS (
        SELECT t.vec_id, c.cent_id,
               unnest(t.embedding)::DOUBLE AS a,
               unnest(c.cent)::DOUBLE AS b
        FROM v t, {C} c
    ), d{T} AS (
        SELECT vec_id, cent_id, {_DOT_FP} AS dot
        FROM p{T} GROUP BY vec_id, cent_id
    ), s{T} AS (
        SELECT d.vec_id, d.cent_id,
               round(d.dot / (vn.nrm * cn{T}.nrm), 6) AS s
        FROM d{T} d JOIN vn ON vn.vec_id = d.vec_id
                    JOIN cn{T} ON cn{T}.cent_id = d.cent_id
    ), a{T} AS (
        SELECT vec_id, cent_id AS bucket, s
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY s DESC, cent_id) AS rn
              FROM s{T})
        WHERE rn = 1
    )"""


# oracle fragment: one Lloyd update — fixed-point per-dimension sums
# over assignment {A}'s clusters; emptied clusters keep the previous
# centroid from {CPREV}. Result centroid table is named {CNEXT}.
def _km_update_cte(A: str, CPREV: str, CNEXT: str, T: str) -> str:
    return f"""
    m{T} AS (
        SELECT a.bucket, r.i,
               sum(floor(t.embedding[r.i + 1]::DOUBLE
                         * 1000000000.0)::BIGINT) AS sfp,
               count(*) AS cnt
        FROM {A} a JOIN v t USING (vec_id), range(0, 64) r(i)
        GROUP BY a.bucket, r.i
    ), {CNEXT}m AS (
        SELECT bucket AS cent_id,
               list((sfp::DOUBLE) / (1000000000.0 * cnt) ORDER BY i) AS cent
        FROM m{T} GROUP BY bucket
    ), {CNEXT} AS (
        SELECT {CPREV}.cent_id, coalesce({CNEXT}m.cent, {CPREV}.cent) AS cent
        FROM {CPREV} LEFT JOIN {CNEXT}m USING (cent_id)
    )"""


@register(
    "q97_kmeans",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    vn AS (
        SELECT vec_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS a FROM v)
        GROUP BY vec_id
    ),
    c0 AS (
        SELECT vec_id AS cent_id,
               list_transform(embedding, x -> x::DOUBLE) AS cent
        FROM v WHERE vec_id < 8
    ),
    {_km_assign_cte("c0", "0")},
    {_km_update_cte("a0", "c0", "c1", "0")},
    {_km_assign_cte("c1", "1")},
    {_km_update_cte("a1", "c1", "c2", "1")},
    {_km_assign_cte("c2", "2")},
    cf AS (
        SELECT cent_id, sum(floor(a * 1000000.0)::BIGINT) AS centroid_fp
        FROM (SELECT cent_id, unnest(cent)::DOUBLE AS a FROM c2)
        GROUP BY cent_id
    )
    SELECT a.bucket,
           count(*)::BIGINT AS cnt,
           cast(sum(cast(round((1 - a.s) * 1000000.0, 0) AS BIGINT))
               AS BIGINT) AS inertia_fp,
           cast(min(cf.centroid_fp) AS BIGINT) AS centroid_fp
    FROM a2 a JOIN cf ON cf.cent_id = a.bucket
    GROUP BY a.bucket
    """,
    covers=("§2.13-similarity",),
    doc="Distributed Lloyd k-means (SURVEY §2.13): 2 iterations, k=8, "
        "deterministic first-k init (same convention as the IVF coarse "
        "quantizer). Assignment is a broadcast map-only argmax; the "
        "update is ONE keyed shuffle per iteration with map-side "
        "partial aggregation; per-dimension sums are fixed-point "
        "bigints (floor(x*1e9)) so centroid means are order-"
        "independent and bit-identical across engines; emptied "
        "clusters keep their previous centroid. The oracle replays "
        "both iterations in SQL — per-cluster sizes, round-6 cosine "
        "inertia, and centroid fingerprints all match exactly. This "
        "is the corpus-curation clustering step (topic balancing, "
        "diversity sampling) of an LLM data pipeline.",
)
def q97_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.operators.similarity import kmeans_fit

    emb = load_tables(spark, sf_dir)["embeddings"]
    assigned, cents = kmeans_fit(emb, k=8, n_iter=2, dim=64)
    cfp = cents.select(
        F.col("cent_id").alias("bucket"),
        F.expr(
            "aggregate(transform(cent, x -> cast(floor(x * 1000000.0) as "
            "bigint)), cast(0 as bigint), (a, x) -> a + x)"
        ).alias("centroid_fp"),
    )
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.round((F.lit(1.0) - F.col("s")) * 1000000.0, 0).cast("bigint")
            ).alias("inertia_fp"),
        )
        .join(cfp, "bucket")
        .select("bucket", "cnt", "inertia_fp", "centroid_fp")
    )


@register(
    "q99_ann_ivf_trained",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    vn AS (
        SELECT vec_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS a FROM v)
        GROUP BY vec_id
    ),
    c0 AS (
        SELECT vec_id AS cent_id,
               list_transform(embedding, x -> x::DOUBLE) AS cent
        FROM v WHERE vec_id < 8
    ),
    {_km_assign_cte("c0", "0")},
    {_km_update_cte("a0", "c0", "c1", "0")},
    {_km_assign_cte("c1", "1")},
    {_km_update_cte("a1", "c1", "c2", "1")},
    {_km_assign_cte("c2", "2")},
    rank2 AS (
        SELECT vec_id, cent_id AS bucket,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cent_id) AS rn
        FROM s2
    ),
    corpus_bucket AS (SELECT vec_id AS cid, bucket FROM rank2 WHERE rn = 1),
    q_bucket AS (
        SELECT vec_id AS qid, bucket FROM rank2
        WHERE rn <= 2 AND vec_id < 10
    ),
    cand AS (
        SELECT DISTINCT q.qid, c.cid
        FROM q_bucket q JOIN corpus_bucket c USING (bucket)
        WHERE c.cid != q.qid
    ),
    pairs AS (
        SELECT cand.qid, cand.cid,
               unnest(q.embedding)::DOUBLE AS a,
               unnest(c.embedding)::DOUBLE AS b
        FROM cand JOIN embeddings q ON q.vec_id = cand.qid
                  JOIN embeddings c ON c.vec_id = cand.cid
    ),
    pair_dots AS (
        SELECT qid, cid, {_DOT_FP} AS dot FROM pairs GROUP BY qid, cid
    ),
    scored AS (
        SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS cos_sim
        FROM pair_dots JOIN vn nq ON nq.vec_id = qid
                       JOIN vn nc ON nc.vec_id = cid
    )
    SELECT qid, cid, rank, cos_sim FROM (
        SELECT qid, cid, cos_sim,
               cast(row_number() OVER (PARTITION BY qid
                                       ORDER BY cos_sim DESC, cid) AS int)
                   AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    covers=("§2.13-similarity",),
    doc="IVF-flat ANN with a TRAINED coarse quantizer: the inverted-"
        "list index is built on kmeans_fit centroids (2 Lloyd rounds, "
        "k=8) instead of q73's corpus sample — train → index → probe "
        "→ exact rescore, the full production IVF lifecycle, every "
        "stage oracle-replayed (the SQL chains the k-means iteration "
        "CTEs into the q73 search CTEs). Same 100 TB shape: broadcast "
        "assignment, bucket equi-join, two-level rescore.",
)
def q99_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.operators.similarity import ann_topk_ivf, kmeans_fit

    emb = load_tables(spark, sf_dir)["embeddings"]
    _, cents = kmeans_fit(emb, k=8, n_iter=2, dim=64)
    trained = cents.select(
        F.col("cent_id").alias("vec_id"), F.col("cent").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_topk_ivf(emb, queries, k=5, probe=2, centroids=trained)


# ---------------------------------------------------------------------------
# BM25 keyword search (§2.13 text-search)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "filter", "vector", "stream", "cache")
_BM25_SQL_TERMS = "('" + "','".join(_BM25_TERMS) + "')"

# shared CTE chain: per-doc BM25 score (used by q102 and the q126
# rerank pipeline)
_BM25_CTES = f"""toks AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl,
               unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, dl, token, count(*)::BIGINT AS tf
        FROM toks WHERE token IN {_BM25_SQL_TERMS}
        GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
    stats AS (
        SELECT count(*)::BIGINT AS n_docs, sum(d.dl)::BIGINT AS tot_dl
        FROM (
            SELECT len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
            FROM documents
        ) d
    ),
    scored AS (
        SELECT t.doc_id,
               floor(ln(1.0 + (cast(s.n_docs AS double) - f.df + 0.5)
                              / (f.df + 0.5)) * 10000.0) / 10000.0
                 * (cast(t.tf AS double) * (1.2 + 1.0))
                 / (cast(t.tf AS double) + 1.2 * (1.0 - 0.75
                      + 0.75 * cast(t.dl AS double)
                        / (cast(s.tot_dl AS double) / cast(s.n_docs AS double))))
                   AS sc
        FROM tf t JOIN dfreq f USING (token), stats s
    ),
    perdoc AS (
        SELECT doc_id,
               cast(cast(sum(cast(floor(sc * 1000000.0) AS bigint)) AS bigint)
                    AS double) / 1000000.0 AS score,
               count(*)::BIGINT AS n_terms
        FROM scored GROUP BY doc_id
    )"""


@register(
    "q102_bm25_search",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, score, n_terms
    FROM perdoc
    ORDER BY score DESC, doc_id LIMIT 10
    """,
    covers=("§2.13-text", "W3-adjacent", "J4-adjacent"),
    doc="Okapi BM25 keyword search over the corpus "
        "(operators/text.py:bm25_topk): tf from a map-side "
        "term-filtered explode + one keyed shuffle; per-term df and "
        "corpus (N, avgdl) stats joined back as broadcasts; final "
        "top-k via TakeOrderedAndProject. idf is floor-quantized at "
        "1e-4 in both engines to absorb the 1-ulp JVM-vs-libm ln() "
        "divergence (see operator docstring); term-score sums use the "
        "fixed-point pattern. The retrieval primitive for "
        "training-data curation (targeted subcorpus pulls) and eval "
        "harnesses.",
)
def q102_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return X.bm25_topk(docs, _BM25_TERMS, k=10)


# ---------------------------------------------------------------------------
# SemDeDup semantic deduplication (§2.13 dedup × similarity)
# ---------------------------------------------------------------------------


@register(
    "q103_semdedup",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    vn AS (
        SELECT vec_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS a FROM v)
        GROUP BY vec_id
    ),
    c0 AS (
        SELECT vec_id AS cent_id,
               list_transform(embedding, x -> x::DOUBLE) AS cent
        FROM v WHERE vec_id < 8
    ),
    {{km}},
    pp AS (
        SELECT x.bucket, x.vec_id AS vx, y.vec_id AS vy,
               x.s AS sx, y.s AS sy,
               unnest(ex.embedding)::DOUBLE AS a,
               unnest(ey.embedding)::DOUBLE AS b
        FROM a2 x JOIN a2 y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
             JOIN v ex ON ex.vec_id = x.vec_id
             JOIN v ey ON ey.vec_id = y.vec_id
    ),
    pd AS (
        SELECT bucket, vx, vy, min(sx) AS sx, min(sy) AS sy,
               {_DOT_FP} AS dot
        FROM pp GROUP BY bucket, vx, vy
    ),
    dup AS (
        SELECT p.bucket, p.vx, p.vy, p.sx, p.sy
        FROM pd p JOIN vn nx ON nx.vec_id = p.vx
                  JOIN vn ny ON ny.vec_id = p.vy
        WHERE round(p.dot / (nx.nrm * ny.nrm), 6) >= 0.35
    ),
    mem AS (SELECT bucket, count(*)::BIGINT AS n_members FROM a2 GROUP BY 1),
    dp AS (SELECT bucket, count(*)::BIGINT AS n_dup_pairs FROM dup GROUP BY 1),
    pr AS (
        SELECT bucket, count(*)::BIGINT AS n_pruned FROM (
            SELECT DISTINCT bucket,
                   CASE WHEN sx > sy THEN vx
                        WHEN sy > sx THEN vy
                        ELSE greatest(vx, vy) END AS vec_id
            FROM dup
        ) GROUP BY bucket
    )
    SELECT m.bucket, m.n_members,
           coalesce(dp.n_dup_pairs, 0)::BIGINT AS n_dup_pairs,
           coalesce(pr.n_pruned, 0)::BIGINT AS n_pruned
    FROM mem m LEFT JOIN dp USING (bucket) LEFT JOIN pr USING (bucket)
    """.format(km=",\n    ".join([
        _km_assign_cte("c0", "0").strip().lstrip(),
        _km_update_cte("a0", "c0", "c1", "0").strip().lstrip(),
        _km_assign_cte("c1", "1").strip().lstrip(),
        _km_update_cte("a1", "c1", "c2", "1").strip().lstrip(),
        _km_assign_cte("c2", "2").strip().lstrip(),
    ])),
    covers=("§2.13-dedup", "§2.13-similarity"),
    doc="SemDeDup semantic deduplication (Abbas et al. 2023, "
        "arXiv:2303.09540; operators/similarity.py:semdedup): k-means "
        "cluster (k=8, 2 Lloyd iterations, the q97 trainer), enumerate "
        "near-dup pairs ONLY within clusters (equi-join on the cluster "
        "id bounds the quadratic to sum(|cluster|^2)), prune the "
        "closer-to-centroid member of each pair (the paper's "
        "diversity-preserving rule). Oracle chains the full k-means "
        "replay CTEs into the pairwise rescoring CTEs; round-6 "
        "fixed-point cosines and id tie-breaks make Spark and DuckDB "
        "agree exactly on clusters, pairs, and prune choices. SCALE "
        "BOUNDARY (measured, round 8): fixed k means cluster size "
        "grows with the corpus, so the within-cluster pair stage "
        "degrades QUADRATICALLY on a growing corpus — the x100 soak "
        "(~25k-row clusters, ~2.5e9 dots) cannot finish. This "
        "configuration is for paper parity on bounded corpora only; "
        "deployments use q149_semdedup_scale, whose coarse-partition "
        "capacity tracking keeps every stage linear in N.",
)
def q103_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.semdedup(emb, k=8, n_iter=2, dim=64, threshold=0.35)


# oracle fragment: one grouped Lloyd assignment — nearest of the k
# centroids WITHIN each coarse group (centroid table {C} is keyed
# (coarse, cent_id)); same fixed-point dots / round-6 / cent_id
# tie-break as _km_assign_cte. Assignment CTE is named a{T}.
def _kmg_assign_cte(C: str, T: str) -> str:
    return f"""
    cn{T} AS (
        SELECT coarse, cent_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT coarse, cent_id, unnest(cent)::DOUBLE AS a FROM {C})
        GROUP BY coarse, cent_id
    ), p{T} AS (
        SELECT t.vec_id, t.coarse, c.cent_id,
               unnest(t.embedding)::DOUBLE AS a,
               unnest(c.cent)::DOUBLE AS b
        FROM v t JOIN {C} c ON c.coarse = t.coarse
    ), d{T} AS (
        SELECT vec_id, coarse, cent_id, {_DOT_FP} AS dot
        FROM p{T} GROUP BY vec_id, coarse, cent_id
    ), s{T} AS (
        SELECT d.vec_id, d.coarse, d.cent_id,
               round(d.dot / (vn.nrm * cn{T}.nrm), 6) AS s
        FROM d{T} d JOIN vn ON vn.vec_id = d.vec_id
                    JOIN cn{T} ON cn{T}.coarse = d.coarse
                              AND cn{T}.cent_id = d.cent_id
    ), a{T} AS (
        SELECT coarse, vec_id, cent_id AS bucket, s
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY s DESC, cent_id) AS rn
              FROM s{T})
        WHERE rn = 1
    )"""


# oracle fragment: one grouped Lloyd update — per-(coarse, bucket)
# fixed-point means; emptied clusters keep the previous centroid.
def _kmg_update_cte(A: str, CPREV: str, CNEXT: str, T: str) -> str:
    return f"""
    m{T} AS (
        SELECT a.coarse, a.bucket, r.i,
               sum(floor(t.embedding[r.i + 1]::DOUBLE
                         * 1000000000.0)::BIGINT) AS sfp,
               count(*) AS cnt
        FROM {A} a JOIN v t USING (vec_id), range(0, 64) r(i)
        GROUP BY a.coarse, a.bucket, r.i
    ), {CNEXT}m AS (
        SELECT coarse, bucket AS cent_id,
               list((sfp::DOUBLE) / (1000000000.0 * cnt) ORDER BY i) AS cent
        FROM m{T} GROUP BY coarse, bucket
    ), {CNEXT} AS (
        SELECT {CPREV}.coarse, {CPREV}.cent_id,
               coalesce({CNEXT}m.cent, {CPREV}.cent) AS cent
        FROM {CPREV} LEFT JOIN {CNEXT}m USING (coarse, cent_id)
    )"""


_Q149_BITS, _Q149_K = 2, 4


@register(
    "q149_semdedup_scale",
    oracle=f"""
    WITH v0 AS (SELECT vec_id, embedding FROM embeddings),
    cplanes AS (
        SELECT r2.p, r3.j,
               (((('0x' || substr(md5(9001 || ':' || r2.p || ':' || r3.j),
                    1, 15))::BIGINT % 1000000007) % 2001) - 1000) / 1000.0
                   AS comp
        FROM range(0, {_Q149_BITS}) r2(p), range(0, 64) r3(j)
    ), cdots AS (
        SELECT e.vec_id, pl.p,
               cast(sum(cast(floor(e.embedding[pl.j + 1]::DOUBLE * pl.comp
                                   * 1000000000000.0) AS BIGINT)) AS BIGINT)
                   AS dfp
        FROM v0 e, cplanes pl
        GROUP BY 1, 2
    ), codes AS (
        SELECT vec_id,
               cast(sum(CASE WHEN dfp > 0 THEN (1::BIGINT << p) ELSE 0 END)
                    AS BIGINT) AS coarse
        FROM cdots GROUP BY vec_id
    ), v AS (
        SELECT e.vec_id, e.embedding, c.coarse
        FROM v0 e JOIN codes c USING (vec_id)
    ),
    vn AS (
        SELECT vec_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS a FROM v0)
        GROUP BY vec_id
    ),
    c0 AS (
        SELECT coarse, rn - 1 AS cent_id, cent FROM (
            SELECT coarse,
                   row_number() OVER (PARTITION BY coarse
                                      ORDER BY vec_id) AS rn,
                   list_transform(embedding, x -> x::DOUBLE) AS cent
            FROM v) WHERE rn <= {_Q149_K}
    ),
    {{km}},
    pp AS (
        SELECT x.coarse, x.bucket, x.vec_id AS vx, y.vec_id AS vy,
               x.s AS sx, y.s AS sy,
               unnest(ex.embedding)::DOUBLE AS a,
               unnest(ey.embedding)::DOUBLE AS b
        FROM a2 x JOIN a2 y ON x.coarse = y.coarse AND x.bucket = y.bucket
                           AND x.vec_id < y.vec_id
             JOIN v0 ex ON ex.vec_id = x.vec_id
             JOIN v0 ey ON ey.vec_id = y.vec_id
    ),
    pd AS (
        SELECT coarse, bucket, vx, vy, min(sx) AS sx, min(sy) AS sy,
               {_DOT_FP} AS dot
        FROM pp GROUP BY coarse, bucket, vx, vy
    ),
    dup AS (
        SELECT p.coarse, p.bucket, p.vx, p.vy, p.sx, p.sy
        FROM pd p JOIN vn nx ON nx.vec_id = p.vx
                  JOIN vn ny ON ny.vec_id = p.vy
        WHERE round(p.dot / (nx.nrm * ny.nrm), 6) >= 0.35
    ),
    mem AS (SELECT coarse, bucket, count(*)::BIGINT AS n_members
            FROM a2 GROUP BY 1, 2),
    dp AS (SELECT coarse, bucket, count(*)::BIGINT AS n_dup_pairs
           FROM dup GROUP BY 1, 2),
    pr AS (
        SELECT coarse, bucket, count(*)::BIGINT AS n_pruned FROM (
            SELECT DISTINCT coarse, bucket,
                   CASE WHEN sx > sy THEN vx
                        WHEN sy > sx THEN vy
                        ELSE greatest(vx, vy) END AS vec_id
            FROM dup
        ) GROUP BY coarse, bucket
    )
    SELECT m.coarse, m.bucket, m.n_members,
           coalesce(dp.n_dup_pairs, 0)::BIGINT AS n_dup_pairs,
           coalesce(pr.n_pruned, 0)::BIGINT AS n_pruned
    FROM mem m LEFT JOIN dp USING (coarse, bucket)
               LEFT JOIN pr USING (coarse, bucket)
    """.format(km=",\n    ".join([
        _kmg_assign_cte("c0", "0").strip().lstrip(),
        _kmg_update_cte("a0", "c0", "c1", "0").strip().lstrip(),
        _kmg_assign_cte("c1", "1").strip().lstrip(),
        _kmg_update_cte("a1", "c1", "c2", "1").strip().lstrip(),
        _kmg_assign_cte("c2", "2").strip().lstrip(),
    ])),
    covers=("§2.13-dedup", "§2.13-similarity"),
    doc="SemDeDup in its at-scale configuration "
        "(operators/similarity.py:semdedup_scaled): a coarse sign-LSH "
        "partition (md5-seeded hyperplanes, the q49 family, namespace "
        "9001) splits the corpus into 2^bits similarity-preserving "
        "groups, then the SAME k-means + within-cluster prune runs "
        "independently per group. Total cluster count (2^bits·k) "
        "tracks the corpus while every stage stays linear: coarse "
        "codes are map-only, grouped Lloyd assignment is a broadcast "
        "equi-join on the group key (N·k scored rows regardless of "
        "group count), pairs stay within (coarse, bucket). Fixed-k "
        "semdedup (q103) degrades quadratically in cluster size as "
        "the corpus grows — the bench soak measures both side by "
        "side. Oracle replays plane generation, group codes, BOTH "
        "grouped Lloyd iterations, and the pairwise prune bit-for-bit.",
)
def q149_semdedup_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.semdedup_scaled(
        emb, bits=_Q149_BITS, k=_Q149_K, n_iter=2, dim=64, threshold=0.35
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filter (§2.13 text quality)
# ---------------------------------------------------------------------------


@register(
    "q104_repetition_filter",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (
        SELECT doc_id,
               cast(len(toks) AS BIGINT) AS n_tokens,
               cast(len(list_distinct(toks)) AS BIGINT) AS n_distinct
        FROM tk
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks), 1)),
                                     i -> toks[i] || ' ' || toks[i+1])) AS b
        FROM tk WHERE len(toks) >= 2
    ),
    bc AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
    tb AS (
        SELECT doc_id, max(c)::BIGINT AS mx, sum(c)::BIGINT AS tot
        FROM bc GROUP BY 1
    )
    SELECT b.doc_id, b.n_tokens,
           1.0 - cast(b.n_distinct AS DOUBLE) / cast(b.n_tokens AS DOUBLE)
               AS dup_ratio,
           coalesce(cast(t.mx AS DOUBLE) / cast(t.tot AS DOUBLE), 0.0)
               AS top_bigram_frac,
           (1.0 - cast(b.n_distinct AS DOUBLE) / cast(b.n_tokens AS DOUBLE)
                <= 0.5
            AND coalesce(cast(t.mx AS DOUBLE) / cast(t.tot AS DOUBLE), 0.0)
                <= 0.05) AS keep
    FROM base b LEFT JOIN tb t USING (doc_id)
    WHERE b.n_tokens > 0
    """,
    covers=("§2.13-text", "A4-adjacent"),
    doc="Repetition-based quality filter (Gopher rules, Rae et al. "
        "2021 arXiv:2112.11446 §A1.1): per-doc duplicate-token ratio "
        "(1 - distinct/total, a native array expression — no shuffle) "
        "and top-bigram fraction (most frequent word 2-gram's share of "
        "all 2-grams — one keyed shuffle on (doc, bigram) with "
        "map-side combine, then a per-doc max/sum). Docs failing "
        "either threshold are marked keep=false — the standard "
        "mechanical quality gate before training-data inclusion. "
        "Ratios are int/int divisions, bit-identical across engines.",
)
def q104_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda t: t != "").alias("toks"),
    )
    base = toks.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_distinct"),
    )
    idx2 = F.when(
        F.size("toks") >= 2, F.sequence(F.lit(0), F.size("toks") - 2)
    ).otherwise(F.array().cast("array<int>"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx2,
                lambda i: F.concat_ws(" ", F.col("toks")[i], F.col("toks")[i + 1]),
            )
        ).alias("b"),
    )
    tb = (
        bg.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
    )
    dup_ratio = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col(
        "n_tokens"
    ).cast("double")
    top_frac = F.coalesce(
        F.col("mx").cast("double") / F.col("tot").cast("double"), F.lit(0.0)
    )
    return (
        base.join(tb, "doc_id", "left")
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            dup_ratio.alias("dup_ratio"),
            top_frac.alias("top_bigram_frac"),
            ((dup_ratio <= F.lit(0.5)) & (top_frac <= F.lit(0.05))).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# PII detection / scrubbing (§2.13 text quality)
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[a-z0-9]+@[a-z]+\.[a-z]+"
_PII_IP = r"\d+\.\d+\.\d+\.\d+"
_PII_PHONE = r"\d{3}-\d{4}"
_PII_ANY = f"({_PII_EMAIL}|{_PII_IP}|{_PII_PHONE})"


@register(
    "q105_pii_scrub",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 4 = 0
                    THEN text || ' contact u' || cast(doc_id AS VARCHAR)
                         || '@mail.com tel 555-'
                         || lpad(cast(doc_id % 10000 AS VARCHAR), 4, '0')
                         || ' ip 10.' || cast(doc_id % 256 AS VARCHAR)
                         || '.0.1'
                    ELSE text END AS text2
        FROM documents
    ),
    per AS (
        SELECT doc_id, source,
               len(regexp_extract_all(text2, '{_PII_EMAIL}')) AS n_email,
               len(regexp_extract_all(text2, '{_PII_IP}')) AS n_ip,
               len(regexp_extract_all(text2, '{_PII_PHONE}')) AS n_phone,
               length(text2)
                 - length(regexp_replace(text2, '{_PII_ANY}', '<pii>', 'g'))
                 + 5 * len(regexp_extract_all(text2, '{_PII_ANY}'))
                 AS chars_removed
        FROM aug
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           cast(sum(n_email) AS BIGINT) AS n_email,
           cast(sum(n_ip) AS BIGINT) AS n_ip,
           cast(sum(n_phone) AS BIGINT) AS n_phone,
           cast(sum(chars_removed) AS BIGINT) AS chars_removed
    FROM per GROUP BY source
    """,
    covers=("§2.13-text", "R5-adjacent"),
    doc="PII detection + scrubbing over the corpus — the mandatory "
        "redaction pass of a training-data pipeline (emails, IPv4, "
        "phone-shaped tokens). Detection is native regexp_extract_all "
        "/ regexp_replace (whole-stage codegen, zero Python, zero "
        "shuffle before the per-source rollup). Deterministic "
        "formula-synthesized PII is appended to every 4th doc so both "
        "engines see identical inputs; chars_removed measures the "
        "scrub delta (masked span length net of the '<pii>' "
        "replacement). The regex subset used is identical under "
        "Java's engine and RE2.",
)
def q105_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    text2 = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.com tel 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.1"),
        ),
    ).otherwise(F.col("text"))
    aug = docs.select("doc_id", "source", text2.alias("text2"))
    n_email = F.size(F.regexp_extract_all("text2", F.lit(_PII_EMAIL), 0))
    n_ip = F.size(F.regexp_extract_all("text2", F.lit(_PII_IP), 0))
    n_phone = F.size(F.regexp_extract_all("text2", F.lit(_PII_PHONE), 0))
    n_any = F.size(F.regexp_extract_all("text2", F.lit(_PII_ANY), 0))
    chars_removed = (
        F.length("text2")
        - F.length(F.regexp_replace("text2", _PII_ANY, "<pii>"))
        + F.lit(5) * n_any
    )
    return (
        aug.select(
            "source",
            n_email.alias("e"),
            n_ip.alias("i"),
            n_phone.alias("p"),
            chars_removed.alias("cr"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("e").cast("bigint").alias("n_email"),
            F.sum("i").cast("bigint").alias("n_ip"),
            F.sum("p").cast("bigint").alias("n_phone"),
            F.sum("cr").cast("bigint").alias("chars_removed"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark-contamination detection (§2.13 text quality)
# ---------------------------------------------------------------------------


@register(
    "q106_contamination",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 2, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3]))) AS gram
        FROM tk
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 3)
    SELECT g.doc_id, count(*)::BIGINT AS n_shared
    FROM g JOIN bench USING (gram)
    WHERE g.doc_id >= 3
    GROUP BY g.doc_id
    """,
    covers=("§2.13-text", "§2.13-dedup"),
    doc="Benchmark-contamination detection: flag training docs sharing "
        "any word 4-gram with the held-out eval set (docs 0-2 stand in "
        "as the benchmark; the GPT-3 appendix-C / C4 decontamination "
        "op, scaled from 13-grams to the synthetic corpus). Scale "
        "shape: eval-set grams are a BROADCAST build side (eval "
        "suites are tiny vs a 100 TB corpus), so matching is a "
        "map-side hash join over the corpus gram stream — one keyed "
        "shuffle for the per-doc count, no corpus self-join. Reuses "
        "operators/dedup.doc_shingles(n=4).",
)
def q106_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    grams = D.doc_shingles(docs, "doc_id", "text", n=4)
    bench = (
        grams.filter(F.col("doc_id") < 3).select("tok").distinct()
    )
    return (
        grams.filter(F.col("doc_id") >= 3)
        .join(F.broadcast(bench), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# q111: product-quantization ANN (§2.13 similarity — ADC search)
# ---------------------------------------------------------------------------

_PQ_M, _PQ_KSUB, _PQ_SUBDIM, _PQ_NQ, _PQ_K = 4, 8, 16, 10, 5
# ADC-top-R exact-rescore tail (round-10 verdict #3): final ranking by
# exact cosine over the R best ADC candidates per query. Measured
# depth sweep (round 11, sf0.1 leg / jittered-deep leg, min-of-2):
#   R=0   0.22 / 0.46 recall@5   3.2 / 3.8 s
#   R=25  0.46 / 0.84            4.7 / 5.5 s
#   R=50  0.58 / 0.84            4.6 / 5.6 s
#   R=100 0.70 / 0.86            4.2 / 5.7 s
#   R=200 0.82 / 0.90            4.0 / 5.7 s
# Cost is FLAT in R (the one candidate-fetch corpus pass dominates;
# the n_q·R exact scores are trivial), so R=200 is strictly better at
# this corpus scale — recall then tracks P(true top-5 ∈ ADC top-200).
# At 100 TB the fetch stays one broadcast-semi-join pass whatever R.
_PQ_RESCORE = 200


def _pq_sub_ctes(s: int) -> str:
    """One subspace's CTE chain: slice → 1-iter Lloyd (assign c0,
    update to c1) → final codes a{s}f. Mirrors kmeans_fit(n_iter=1)
    on the sliced vectors."""
    lo, hi = s * _PQ_SUBDIM + 1, (s + 1) * _PQ_SUBDIM
    return f"""
    v{s} AS (
        SELECT vec_id,
               list_transform(list_slice(embedding, {lo}, {hi}),
                              x -> x::DOUBLE) AS e
        FROM embeddings
    ),
    vn{s} AS (
        SELECT vec_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT vec_id, unnest(e) AS a FROM v{s}) GROUP BY vec_id
    ),
    c{s}0 AS (
        SELECT vec_id AS cent_id, e AS cent FROM v{s} WHERE vec_id < {_PQ_KSUB}
    ),
    cn{s}0 AS (
        SELECT cent_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT cent_id, unnest(cent) AS a FROM c{s}0) GROUP BY cent_id
    ),
    d{s}0 AS (
        SELECT vec_id, cent_id, {_DOT_FP} AS dot FROM (
            SELECT t.vec_id, c.cent_id,
                   unnest(t.e) AS a, unnest(c.cent) AS b
            FROM v{s} t, c{s}0 c
        ) GROUP BY vec_id, cent_id
    ),
    a{s}0 AS (
        SELECT vec_id, cent_id AS bucket FROM (
            SELECT d.vec_id, d.cent_id,
                   row_number() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY round(d.dot / (vn.nrm * cn.nrm), 6) DESC,
                                d.cent_id) AS rn
            FROM d{s}0 d JOIN vn{s} vn USING (vec_id)
                         JOIN cn{s}0 cn USING (cent_id)
        ) WHERE rn = 1
    ),
    m{s} AS (
        SELECT a.bucket, r.i,
               sum(floor(t.e[r.i + 1] * 1000000000.0)::BIGINT) AS sfp,
               count(*) AS cnt
        FROM a{s}0 a JOIN v{s} t USING (vec_id), range(0, {_PQ_SUBDIM}) r(i)
        GROUP BY a.bucket, r.i
    ),
    c{s}1m AS (
        SELECT bucket AS cent_id,
               list((sfp::DOUBLE) / (1000000000.0 * cnt) ORDER BY i) AS cent
        FROM m{s} GROUP BY bucket
    ),
    c{s}1 AS (
        SELECT c{s}0.cent_id, coalesce(c{s}1m.cent, c{s}0.cent) AS cent
        FROM c{s}0 LEFT JOIN c{s}1m USING (cent_id)
    ),
    cn{s}1 AS (
        SELECT cent_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT cent_id, unnest(cent) AS a FROM c{s}1) GROUP BY cent_id
    ),
    d{s}1 AS (
        SELECT vec_id, cent_id, {_DOT_FP} AS dot FROM (
            SELECT t.vec_id, c.cent_id,
                   unnest(t.e) AS a, unnest(c.cent) AS b
            FROM v{s} t, c{s}1 c
        ) GROUP BY vec_id, cent_id
    ),
    a{s}f AS (
        SELECT vec_id, {s} AS sub, cent_id AS code FROM (
            SELECT d.vec_id, d.cent_id,
                   row_number() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY round(d.dot / (vn.nrm * cn.nrm), 6) DESC,
                                d.cent_id) AS rn
            FROM d{s}1 d JOIN vn{s} vn USING (vec_id)
                         JOIN cn{s}1 cn USING (cent_id)
        ) WHERE rn = 1
    ),
    t{s} AS (
        SELECT z.vec_id AS qid, z.cent_id AS code,
               sum(floor(z.a * z.b * 1000000000000.0)::BIGINT) AS pd_fp
        FROM (
            SELECT q0.vec_id, c0.cent_id,
                   unnest(q0.e) AS a, unnest(c0.cent) AS b
            FROM v{s} q0, c{s}1 c0
            WHERE q0.vec_id < {_PQ_NQ}
        ) z
        GROUP BY z.vec_id, z.cent_id
    )"""


@register(
    "q111_pq_ann",
    oracle=lambda: f"""
    WITH {",".join(_pq_sub_ctes(s) for s in range(_PQ_M))},
    codes AS (
        {" UNION ALL ".join(f"SELECT * FROM a{s}f" for s in range(_PQ_M))}
    ),
    tables AS (
        {" UNION ALL ".join(
            f"SELECT qid, {s} AS sub, code, pd_fp FROM t{s}"
            for s in range(_PQ_M))}
    ),
    adc AS (
        SELECT t.qid, c.vec_id AS cid,
               round(cast(sum(t.pd_fp) AS DOUBLE) / 1000000000000.0, 6)
                   AS adc_score
        FROM codes c JOIN tables t ON t.sub = c.sub AND t.code = c.code
        WHERE c.vec_id != t.qid
        GROUP BY t.qid, c.vec_id
    ),
    cand AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY adc_score DESC, cid) AS rn
            FROM adc
        ) WHERE rn <= {_PQ_RESCORE}
    ),
    rpairs AS (
        SELECT cand.qid, cand.cid,
               unnest(q.embedding)::DOUBLE AS a,
               unnest(c.embedding)::DOUBLE AS b
        FROM cand JOIN embeddings q ON q.vec_id = cand.qid
                  JOIN embeddings c ON c.vec_id = cand.cid
    ),
    rdots AS (
        SELECT qid, cid, {_DOT_FP} AS dot FROM rpairs GROUP BY qid, cid
    ),
    rnorms AS (
        SELECT vec_id, sqrt({_NORM_FP}) AS nrm
        FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS a FROM embeddings)
        GROUP BY vec_id
    ),
    rescored AS (
        SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS score
        FROM rdots JOIN rnorms nq ON nq.vec_id = qid
                   JOIN rnorms nc ON nc.vec_id = cid
    )
    SELECT qid, cid, rank, score FROM (
        SELECT qid, cid, score,
               cast(row_number() OVER (PARTITION BY qid
                                       ORDER BY score DESC, cid) AS int)
                   AS rank
        FROM rescored
    ) WHERE rank <= {_PQ_K}
    """,
    covers=("§2.13-similarity",),
    doc="Product-quantization ANN with ADC search (Jégou et al. 2011, "
        "operators/similarity.py:pq_ann_topk): 4 subspaces x 4-entry "
        "codebooks, all trained in ONE corpus pass per Lloyd iteration "
        "(map-side explode into subspace slices + the grouped trainer, bit-equal to per-subspace q97 training); the corpus is stored as 4 small ints per vector "
        "(16x compression — what makes a 100 TB embedding index fit); "
        "queries precompute a broadcastable n_q x m x k_sub "
        "partial-dot table and scoring is a map-side hash join on "
        "(subspace, code) + one keyed fixed-point sum; the ADC top-200 "
        "per query is then exact-rescored (Jégou §V.C re-ranking, "
        "round-10 verdict #3) by ONE candidate-pruned corpus pass — "
        "final ranking is exact cosine, so quantization error only "
        "costs candidate recall. Oracle replays per-subspace training, "
        "encoding, table build, ADC candidate ranking and the exact "
        "rescore end-to-end.",
)
def q111_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.pq_ann_topk(
        emb, n_queries=_PQ_NQ, m=_PQ_M, ksub=_PQ_KSUB, n_iter=1, dim=64,
        k=_PQ_K, rescore=_PQ_RESCORE,
    )


# ---------------------------------------------------------------------------
# q112: BPE tokenizer training (§2.13 text — the tokenizer-training op)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _bpe_round_sql(r: int) -> str:
    """One BPE merge round: count adjacent symbol pairs over the
    frequency-weighted word vocab sym{r-1}, pick the most frequent
    (pair-string tie-break), merge it in every word."""
    prev = f"sym{r - 1}"
    return f"""
    pr{r} AS (
        SELECT wcount,
               unnest(list_transform(range(1, greatest(len(a), 1)),
                                     i -> a[i] || '  ' || a[i+1])) AS pair
        FROM (SELECT wcount, string_split(trim(s), '  ') AS a FROM {prev})
        WHERE len(a) >= 2
    ),
    pc{r} AS (
        SELECT pair, sum(wcount)::BIGINT AS freq FROM pr{r} GROUP BY pair
    ),
    best{r} AS (
        SELECT pair, freq FROM pc{r}
        ORDER BY freq DESC, pair LIMIT 1
    ),
    sym{r} AS (
        SELECT v.wcount,
               replace(v.s, ' ' || b.pair || ' ',
                       ' ' || replace(b.pair, '  ', '') || ' ') AS s
        FROM {prev} v, best{r} b
    )"""


@register(
    "q112_bpe_train",
    oracle=f"""
    WITH vocab AS (
        SELECT token AS word, count(*)::BIGINT AS wcount
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> '' GROUP BY token
    ),
    sym0 AS (
        SELECT wcount,
               ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' '
                   AS s
        FROM vocab
    ),
    {",".join(_bpe_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))}
    {" UNION ALL ".join(
        f"SELECT {r} AS rank, pair, freq FROM best{r}"
        for r in range(1, _BPE_ROUNDS + 1))}
    """,
    covers=("§2.13-text", "A4-adjacent"),
    doc="BPE tokenizer training (Sennrich et al. 2016, "
        "arXiv:1508.07909) as a distributed dataflow — the actual "
        "tokenizer-construction step of an LLM data pipeline, not "
        "just token counting (q94). The corpus collapses to a "
        "frequency-weighted word VOCAB first (the classic trick: "
        "merge work scales with |vocab|, not corpus size — at 100 TB "
        "the vocab is a few million rows while the corpus is "
        "trillions of tokens); each round is one keyed pair-count "
        "shuffle + a 1-row argmax (TakeOrderedAndProject) broadcast "
        "back for the merge rewrite. Merges use the two-space symbol "
        "encoding so replace() is exact left-to-right non-overlapping "
        "pair substitution in both engines. Output: the learned "
        "merge table (rank, pair, corpus frequency).",
)
def q112_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return bpe_train(spark, docs, rounds=_BPE_ROUNDS)


def bpe_train(
    spark: SparkSession,
    docs: DataFrame,
    rounds: int = _BPE_ROUNDS,
    round_times: list | None = None,
) -> DataFrame:
    """The q112 trainer at any merge depth — the deployment surface.

    Round-10 verdict #4 (the k-means treatment): the previous form
    chained every round's rewrite + 1-row broadcast join into one lazy
    lineage, so round r's pair count re-executed the corpus scan, the
    vocab aggregation and all r-1 earlier rewrites — invisible at
    _BPE_ROUNDS=3, the round-7 k-means lineage blowup again at a
    realistic 32k-merge depth. Now:

      - the frequency-weighted word vocab (the classic |vocab|-not-
        |corpus| reduction) is localCheckpointed ONCE up front — the
        corpus is scanned exactly once per training run whatever the
        depth (`_materialize_centroids` pattern,
        operators/similarity.py:467);
      - each round's best pair is a 1-ROW driver collect (the same
        bounded-metadata class as the k-means centroid table —
        txlog-class, fine at 100 TB) substituted into the rewrite as a
        literal, so the merge rewrite is a pure map expression — no
        per-round join of any kind;
      - the rewritten symbol table is localCheckpointed per round, so
        every round costs exactly one vocab-pass pair-count shuffle +
        one map rewrite, flat in r (pinned by
        tests/test_llm_pipeline.py::test_bpe_train_depth64_flat_cost).

    Values are unchanged — the per-round (freq DESC, pair ASC) argmax
    and the two-space merge encoding are exactly the prior semantics,
    so the q112/q124 oracles replay bit-identically. If the vocab runs
    out of adjacent pairs before `rounds` merges (possible at depth >>
    distinct-pair count), training stops early — mirroring the
    oracle's empty best{r} cascade. `round_times` (tests) receives one
    wall-clock float per executed round.

    Checkpoint retention (round-10 advice): each round's eager
    localCheckpoint would otherwise pin its MEMORY_AND_DISK blocks
    until Python GC + the JVM ContextCleaner get around to them — at
    32k-merge depth that accumulates thousands of dead symbol-table
    generations in the executors' block managers. The trainer now
    explicitly unpersists round r-1's checkpointed RDD as soon as
    round r's checkpoint has materialized (and the last one before
    returning), so live checkpoint storage is exactly one symbol-table
    generation whatever the depth."""
    import time as _time

    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )
    sym = vocab.select(
        "wcount",
        F.concat(
            F.lit(" "),
            F.rtrim(F.regexp_replace("word", "(.)", "$1  ")),
            F.lit(" "),
        ).alias("s"),
    ).localCheckpoint(eager=True)
    merge_rows: list[tuple[int, str, int]] = []
    for r in range(1, rounds + 1):
        t0 = _time.perf_counter()
        arr = F.split(F.trim("s"), "  ")
        idx = F.when(
            F.size(arr) >= 2, F.sequence(F.lit(0), F.size(arr) - 2)
        ).otherwise(F.array().cast("array<int>"))
        pairs = sym.select(
            "wcount",
            F.explode(
                F.transform(
                    idx, lambda i: F.concat_ws("  ", arr[i], arr[i + 1])
                )
            ).alias("pair"),
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("wcount").cast("bigint").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, freq = best[0]["pair"], int(best[0]["freq"])
        merge_rows.append((r, pair, freq))
        prev = sym
        sym = prev.select(
            "wcount",
            F.replace(
                F.col("s"),
                F.lit(f" {pair} "),
                F.lit(f" {pair.replace('  ', '')} "),
            ).alias("s"),
        ).localCheckpoint(eager=True)
        _release_local_checkpoint(prev)  # new generation is live; drop r-1
        if round_times is not None:
            round_times.append(_time.perf_counter() - t0)
    _release_local_checkpoint(sym)  # merge table collected; nothing reads sym
    return spark.createDataFrame(
        merge_rows, "rank bigint, pair string, freq bigint"
    )


def _release_local_checkpoint(df: DataFrame) -> None:
    """Deterministically drop a localCheckpoint's storage blocks.

    A localCheckpointed DataFrame's analyzed plan is a LogicalRDD over
    the persisted (MEMORY_AND_DISK) internal RDD; unpersisting that RDD
    frees the blocks now instead of whenever Python GC + the JVM
    ContextCleaner notice. Best-effort: the py4j internals are the
    classic-mode surface (Spark Connect has no _jdf), and a DataFrame
    that is not a bare checkpoint leaf simply no-ops into the GC path."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


# ---------------------------------------------------------------------------
# q113: feature-hashing text embedder (§2.13 — embed without a model)
# ---------------------------------------------------------------------------

_FH_DIM = 16


@register(
    "q113_feature_hashing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               {_HASH.format(v="t")} % {_FH_DIM} AS bucket,
               CASE WHEN ({_HASH.format(v="t")} // {_FH_DIM}) % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM toks WHERE t <> ''
    )
    SELECT doc_id, bucket,
           cast(sum(sgn) AS BIGINT) AS w,
           count(*)::BIGINT AS n_hits
    FROM hashed GROUP BY doc_id, bucket
    """,
    covers=("§2.13-text", "§2.13-similarity"),
    doc="Feature-hashing text embedder (the hashing trick, Weinberger "
        "et al. 2009, ICML): every token hashes to one of 16 buckets "
        "with a sign hash; the signed term-frequency vector is a "
        "model-free document embedding — the cheap first-pass vector "
        "for clustering/dedup when no encoder model is in the loop "
        "(the md5 bucket+sign reuses the engine-agnostic token_hash). "
        "Long-format output (doc, bucket, weight) keeps weights "
        "integer and the result exactly hashable. Scale: map-side "
        "explode+hash, ONE keyed shuffle — embedding 100 TB of text "
        "is a single aggregation pass, no model servers.",
)
def q113_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    h = D.token_hash(F.col("t"))
    return (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("t")
        )
        .filter(F.col("t") != "")
        .select(
            "doc_id",
            (h % _FH_DIM).alias("bucket"),
            F.when((h / _FH_DIM).cast("bigint") % 2 == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("sgn"),
        )
        .groupBy("doc_id", "bucket")
        .agg(
            F.sum("sgn").cast("bigint").alias("w"),
            F.count(F.lit(1)).alias("n_hits"),
        )
    )


# ---------------------------------------------------------------------------
# q116: bigram-LM perplexity scoring (CCNet-style quality filter)
# ---------------------------------------------------------------------------

_LM_Q = 10000.0  # idf-style ln() quantization (see q102)


@register(
    "q116_lm_perplexity",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS a FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(a), 1)),
                                     i -> a[i] || ' ' || a[i+1])) AS b,
               unnest(list_transform(range(1, greatest(len(a), 1)),
                                     i -> a[i])) AS w1
        FROM toks WHERE len(a) >= 2
    ),
    bgc AS (SELECT b, count(*)::BIGINT AS cb FROM bg GROUP BY b),
    ugc AS (SELECT w1, count(*)::BIGINT AS cu FROM bg GROUP BY w1),
    scored AS (
        SELECT g.doc_id,
               floor(ln((c.cb + 1.0) / (u.cu + 1.0)) * {_LM_Q}) / {_LM_Q}
                   AS lp
        FROM bg g JOIN bgc c USING (b) JOIN ugc u USING (w1)
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_bigrams,
           cast(cast(sum(cast(floor(-lp * 1000000.0) AS bigint)) AS bigint)
                AS double) / 1000000.0 / count(*) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
    covers=("§2.13-text", "A1-adjacent"),
    doc="Bigram language-model perplexity scoring (the CCNet/KenLM "
        "quality-filter family, Wenzek et al. 2020 arXiv:1911.00359, "
        "with the LM trained ON the corpus itself): bigram and "
        "unigram-context counts are two keyed shuffles; per-token "
        "add-one log-probs ln((c(w1,w2)+1)/(c(w1)+1)) join back on "
        "the bigram/unigram keys; a doc's score is its mean negative "
        "log-likelihood — high avg_nll = improbable word sequences = "
        "the filter signal. ln() is floor-quantized at 1e-4 (the "
        "q102 trick) and the per-doc mean uses the fixed-point sum, "
        "so both engines agree exactly. At 100 TB the LM tables are "
        "the shuffled aggregate of the corpus itself — no model "
        "server, the way CCNet actually ran.",
)
def q116_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.plans.util import SCALE

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select("doc_id", F.split("text", " ").alias("a"))
    idx = F.when(
        F.size("a") >= 2, F.sequence(F.lit(0), F.size("a") - 2)
    ).otherwise(F.array().cast("array<int>"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.concat_ws(" ", F.col("a")[i], F.col("a")[i + 1]).alias("b"),
                    F.col("a")[i].alias("w1"),
                ),
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.b").alias("b"), F.col("e.w1").alias("w1"))
    bgc = bg.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    ugc = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    lp = (
        F.floor(
            F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.lit(1.0)))
            * F.lit(_LM_Q)
        )
        / F.lit(_LM_Q)
    )
    return (
        bg.join(bgc, "b")
        .join(ugc, "w1")
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(F.floor(-F.col("lp") * F.lit(SCALE)).cast("bigint"))
                .cast("double")
                / F.lit(SCALE)
                / F.count(F.lit(1))
            ).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# q118: domain mixing / sampling weights (DoReMi-lite corpus assembly)
# ---------------------------------------------------------------------------


@register(
    "q118_domain_mixing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ), m AS (
        SELECT doc_id, source,
               cast(len(toks) AS double) AS n,
               cast(len(list_filter(toks, x -> list_contains({_STOPLIST}, lower(x))))
                    AS double) AS n_stop,
               cast(list_sum(list_transform(toks, x -> length(x))) AS double) AS sum_len
        FROM t
    ), q AS (
        SELECT doc_id, source,
               round(greatest(0.0, least(1.0,
                   0.5 * least(n / 64.0, 1.0)
                 + 0.3 * least((sum_len / greatest(n, 1.0)) / 5.0, 1.0)
                 + 0.2 * (1.0 - n_stop / greatest(n, 1.0)))), 6) AS quality
        FROM m
    ),
    src AS (
        SELECT source, count(*)::BIGINT AS n_docs,
               cast(sum(cast(floor(quality * 1000000.0) AS bigint)) AS BIGINT)
                   AS q_fp
        FROM q GROUP BY source
    ),
    wts AS (
        SELECT source, n_docs,
               floor((cast(q_fp AS double) / 1000000.0 / n_docs)
                     * sqrt(cast(n_docs AS double)) * 1000000.0) AS w_fp
        FROM src
    ),
    norm AS (SELECT sum(w_fp)::BIGINT AS tot FROM wts),
    rates AS (
        SELECT w.source, w.n_docs,
               round(w.w_fp / cast(n.tot AS double), 6) AS weight,
               cast(floor(w.w_fp / cast(n.tot AS double) * 1000000.0) AS BIGINT)
                   AS thr
        FROM wts w, norm n
    )
    SELECT r.source, r.n_docs, r.weight,
           cast(sum(CASE WHEN ('0x' || substr(md5(cast(q.doc_id AS VARCHAR)), 1, 15))::BIGINT
                              % 1000000007 % 1000000 < r.thr
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM rates r JOIN q ON q.source = r.source
    GROUP BY r.source, r.n_docs, r.weight
    """,
    covers=("§2.13-text", "A13-adjacent"),
    doc="Domain mixing weights + deterministic sampling (the "
        "DoReMi/data-mixture step of corpus assembly, arXiv:2305.10429 "
        "simplified to quality x sqrt(size) heuristic weights): "
        "per-source quality aggregates (fixed-point), weight "
        "normalization over the tiny source table, then hash-threshold "
        "sampling — every doc's keep/drop decision is a pure function "
        "of (doc_id, source rate), reproducible across engines and "
        "cluster layouts, the property that makes a 100 TB sampling "
        "pass auditable. One corpus shuffle (per-source agg) + one "
        "broadcast join back.",
)
def q118_domain_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.operators.dedup import MOD

    docs = load_tables(spark, sf_dir)["documents"]
    q = docs.select(
        "doc_id", "source", X.quality_score("text").alias("quality")
    )
    src = q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.floor(F.col("quality") * F.lit(1000000.0)).cast("bigint"))
        .cast("bigint")
        .alias("q_fp"),
    )
    wts = src.select(
        "source",
        "n_docs",
        F.floor(
            (F.col("q_fp").cast("double") / F.lit(1000000.0) / F.col("n_docs"))
            * F.sqrt(F.col("n_docs").cast("double"))
            * F.lit(1000000.0)
        ).alias("w_fp"),
    )
    norm = wts.agg(F.sum("w_fp").cast("bigint").alias("tot")).withColumn(
        "one", F.lit(1)
    )
    rates = (
        wts.withColumn("one", F.lit(1))
        .join(F.broadcast(norm), "one")
        .select(
            "source",
            "n_docs",
            F.round(F.col("w_fp") / F.col("tot").cast("double"), 6).alias("weight"),
            F.floor(
                F.col("w_fp") / F.col("tot").cast("double") * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("thr"),
        )
    )
    h = D.token_hash(F.col("doc_id").cast("string")) % 1000000
    return (
        q.join(F.broadcast(rates), "source")
        .select("source", "n_docs", "weight", (h < F.col("thr")).alias("keep"))
        .groupBy("source", "n_docs", "weight")
        .agg(F.sum(F.col("keep").cast("bigint")).cast("bigint").alias("n_sampled"))
    )


# ---------------------------------------------------------------------------
# q122: incremental dedup — new batch vs indexed corpus (daily-run shape)
# ---------------------------------------------------------------------------


@register(
    "q122_incremental_dedup",
    oracle=f"""
    WITH {_minhash_sig_sql()}, bands AS ({_BANDS_SQL}),
    idx AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
    new AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
    vs_index AS (
        SELECT n.doc_id AS new_doc, i.doc_id AS corpus_doc,
               count(*) AS n_shared_bands
        FROM new n JOIN idx i
          ON i.band = n.band AND i.band_key = n.band_key
        GROUP BY 1, 2
    ),
    within AS (
        SELECT a.doc_id AS new_doc, b.doc_id AS corpus_doc,
               count(*) AS n_shared_bands
        FROM new a JOIN new b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT 'vs_index' AS kind, new_doc, corpus_doc, n_shared_bands
    FROM vs_index
    UNION ALL
    SELECT 'within_batch' AS kind, new_doc, corpus_doc, n_shared_bands
    FROM within
    """,
    covers=("§2.13-dedup", "S12-adjacent"),
    doc="INCREMENTAL near-dedup — the shape a production pipeline "
        "actually runs daily: the arriving batch (odd doc_ids) is "
        "checked against the EXISTING corpus's persisted band index "
        "(even doc_ids) plus within itself, never re-scanning or "
        "re-pairing the historical corpus against itself. At 100 TB "
        "the index side is a bucketed/pre-partitioned table keyed on "
        "(band, band_key), so the daily cost is O(batch) — shuffle "
        "the increment, join into the co-located index — instead of "
        "the O(corpus) full self-join q45 demonstrates. Both edges "
        "(vs_index and within_batch) are tagged in one output.",
)
def q122_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-12 note: a collect_list bucket-grouping rewrite and a
    # merge-hinted join variant were both measured against this form at
    # sf0.1/×10/×100 (0.86/1.22/4.67 s here vs 1.17/1.47/4.63 bucket,
    # 0.96/1.34/4.92 merge) — the original shape wins or ties at every
    # scale (AQE exchange reuse already dedupes the shared band
    # subtree at runtime), so it stays.
    docs = load_tables(spark, sf_dir)["documents"]
    bands = D.minhash_bands(D.minhash_signatures(docs, "doc_id", "text"))
    idx = bands.filter(F.col("doc_id") % 2 == 0)
    new = bands.filter(F.col("doc_id") % 2 == 1)
    vs_index = (
        new.select(F.col("doc_id").alias("new_doc"), "band", "band_key")
        .join(
            idx.select(F.col("doc_id").alias("corpus_doc"), "band", "band_key"),
            ["band", "band_key"],
        )
        .groupBy("new_doc", "corpus_doc")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .select(F.lit("vs_index").alias("kind"), "new_doc", "corpus_doc",
                "n_shared_bands")
    )
    na = new.select(F.col("doc_id").alias("new_doc"), "band", "band_key")
    nb = new.select(F.col("doc_id").alias("corpus_doc"), "band", "band_key")
    within = (
        na.join(nb, ["band", "band_key"])
        .filter(F.col("new_doc") < F.col("corpus_doc"))
        .groupBy("new_doc", "corpus_doc")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .select(F.lit("within_batch").alias("kind"), "new_doc", "corpus_doc",
                "n_shared_bands")
    )
    return vs_index.unionByName(within)


# ---------------------------------------------------------------------------
# q153: bloom-prefiltered exact admission (the anti-join reduction)
# ---------------------------------------------------------------------------


@register(
    "q153_bloom_admission",
    oracle="""
    WITH c AS (
        SELECT md5(text) AS content_hash FROM documents WHERE doc_id % 2 = 0
    ),
    n AS (
        SELECT doc_id, md5(text) AS content_hash
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT n.doc_id, n.content_hash
    FROM n
    WHERE n.content_hash NOT IN (SELECT content_hash FROM c)
    """,
    covers=("§2.13-dedup",),
    doc="EXACT incremental admission via a partitioned Bloom index "
        "(operators/bloom.py): the arriving batch (odd doc_ids) is "
        "admitted iff its content hash is absent from the corpus "
        "(even doc_ids). The naive `new ANTI JOIN corpus` shuffles "
        "the WHOLE corpus every daily run (the anti join's right side "
        "can never broadcast); here the corpus is reduced to a "
        "bucketed (bucket, bitmap) Bloom table — built with ONE "
        "shuffle of the 8-byte hash column, persistable and "
        "incrementally maintainable — the batch cogroups with it on "
        "bucket, one shuffle of ONLY the batch's hash rows (no "
        "false negatives), and only the maybe-dup "
        "remainder (true dups + a ~1e-4 FP fraction) is confirmed "
        "exactly through broadcast-sized joins. Zero corpus shuffles; "
        "the result is exact anti-join semantics for ANY filter "
        "sizing, so the oracle is the plain NOT IN. Spark keeps this "
        "reduction internal (bloom_filter_agg / might_contain are not "
        "in the public FunctionRegistry); the operator rebuilds it on "
        "the repo's Arrow-scorer pattern. Degenerate-batch note: if "
        "the batch is mostly dups the maybe set approaches batch size "
        "and the broadcast confirm stops fitting — the fallback is an "
        "equi-join of the maybe set into a hash-bucketed corpus "
        "fingerprint table, which shuffles ONLY the maybe set, still "
        "never the corpus.",
)
def q153_bloom_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from streamprocess_spark.operators import bloom as BL

    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    # size the index to the corpus (the knob a deployment turns as data
    # grows): ~400 keys/bucket at 2 KiB/bucket keeps the fill ~17% and
    # FPs ~1e-5 at ANY scale — without this, a fixed filter saturates
    # on upscaled corpora and the confirm path degrades to the naive
    # join it exists to avoid. Output is exact either way.
    n = corpus.count()
    n_buckets = max(
        BL.N_BUCKETS, 1 << math.ceil(math.log2(max(1, n // 400)))
    )
    idx = BL.bloom_index(corpus, "content_hash", n_buckets=n_buckets)
    # materialize the routed batch once: three branches below (fresh,
    # hits' semi side, cleared) would otherwise each re-execute the
    # cogroup probe subtree — O(batch) rows, the bounded side by design
    probed = BL.bloom_probe(
        new, "content_hash", idx, n_buckets=n_buckets
    ).localCheckpoint(eager=True)
    fresh = probed.filter(~F.col("maybe_dup"))
    maybes = probed.filter(F.col("maybe_dup"))
    # exact confirm: corpus scanned map-side against the broadcast
    # maybe-hash set (bounded by the batch); survivors anti-join the
    # (even smaller) confirmed-hit set
    hits = (
        corpus.join(
            F.broadcast(maybes.select("content_hash").distinct()),
            "content_hash",
        )
        .select("content_hash")
        .distinct()
    )
    cleared = maybes.join(F.broadcast(hits), "content_hash", "left_anti")
    return fresh.select("doc_id", "content_hash").unionByName(
        cleared.select("doc_id", "content_hash")
    )


# ---------------------------------------------------------------------------
# q123: corpus admission verdict (the end-to-end curation decision table)
# ---------------------------------------------------------------------------


def _admission_signals(docs: DataFrame):
    """Shared Spark side of the q123/q150 admission decision table
    (the oracles already share _ADMISSION_CTES; this keeps the Spark
    builders from drifting the same way): exact-dup flag against the
    canonical-fingerprint survivor, eval-set 4-gram contamination
    flag, and quality + repetition scores. Returns (dup, contam, q)
    keyed by doc_id; `docs` needs (doc_id, text)."""
    t = docs.select("doc_id", X.fingerprint("text").alias("fp"))
    canon = t.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    dup = t.join(canon, "fp").select(
        "doc_id", (F.col("doc_id") != F.col("keeper")).alias("is_dup")
    )
    grams = D.doc_shingles(docs, "doc_id", "text", n=4)
    bench = grams.filter(F.col("doc_id") < 3).select("tok").distinct()
    contam = (
        grams.filter(F.col("doc_id") >= 3)
        .join(F.broadcast(bench), "tok")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    toks = X.tokens_col("text")
    n = F.size(toks).cast("double")
    q = docs.select(
        "doc_id",
        X.quality_score("text").alias("quality"),
        (
            (F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double")
             / F.greatest(n, F.lit(1.0))) > F.lit(0.5)
        ).alias("repetitive"),
    )
    return dup, contam, q


def _admission_verdict(near_dup: bool = False):
    """The precedence-ordered verdict CASE shared by q123 and q150;
    q150 inserts its MinHash near-dup stage between the exact-dup and
    contamination branches."""
    v = (
        F.when(F.col("doc_id") < 3, "eval_holdout")
        .when(F.col("is_dup"), "drop_duplicate")
    )
    if near_dup:
        v = v.when(F.col("near_dup"), "drop_near_dup")
    return (
        v.when(F.col("contaminated"), "drop_contaminated")
        .when(F.col("repetitive"), "drop_repetitive")
        .when(F.col("quality") < 0.5, "drop_quality")
        .when(F.col("doc_id") % 4 == 0, "keep_scrubbed")
        .otherwise("keep")
    )


# Shared WITH-body of the corpus-admission decision table: used by
# q123 and extended (near-dup stage + splits) by the q150 curation DAG.
_ADMISSION_CTES = f"""t AS (
        SELECT doc_id, {_TOKS} AS toks,
               md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))
                   AS fp
        FROM documents
    ),
    canon AS (SELECT fp, min(doc_id) AS keeper FROM t GROUP BY fp),
    dup AS (
        SELECT t.doc_id, (t.doc_id != c.keeper) AS is_dup
        FROM t JOIN canon c USING (fp)
    ),
    g AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 2, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3]))) AS gram
        FROM t
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 3),
    contam AS (
        SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
        WHERE g.doc_id >= 3
    ),
    m AS (
        SELECT doc_id,
               cast(len(toks) AS double) AS n,
               cast(len(list_filter(toks, x -> list_contains({_STOPLIST}, lower(x))))
                    AS double) AS n_stop,
               cast(list_sum(list_transform(toks, x -> length(x))) AS double)
                   AS sum_len,
               cast(len(list_distinct(toks)) AS double) AS n_distinct
        FROM t
    ),
    q AS (
        SELECT doc_id,
               round(greatest(0.0, least(1.0,
                   0.5 * least(n / 64.0, 1.0)
                 + 0.3 * least((sum_len / greatest(n, 1.0)) / 5.0, 1.0)
                 + 0.2 * (1.0 - n_stop / greatest(n, 1.0)))), 6) AS quality,
               (1.0 - n_distinct / greatest(n, 1.0)) > 0.5 AS repetitive
        FROM m
    )"""


@register(
    "q123_corpus_admission",
    oracle=f"""
    WITH {_ADMISSION_CTES}
    SELECT d.doc_id AS doc_id,
           CASE WHEN d.doc_id < 3 THEN 'eval_holdout'
                WHEN dup.is_dup THEN 'drop_duplicate'
                WHEN contam.doc_id IS NOT NULL THEN 'drop_contaminated'
                WHEN q.repetitive THEN 'drop_repetitive'
                WHEN q.quality < 0.5 THEN 'drop_quality'
                WHEN d.doc_id % 4 = 0 THEN 'keep_scrubbed'
                ELSE 'keep' END AS verdict,
           q.quality
    FROM documents d
    JOIN dup USING (doc_id)
    LEFT JOIN contam ON contam.doc_id = d.doc_id
    JOIN q USING (doc_id)
    """,
    covers=("§2.13-text", "§2.13-dedup", "R7-adjacent"),
    doc="Corpus ADMISSION verdict — the end-to-end curation decision "
        "table a training pipeline materializes per document, "
        "composing the individual signals in precedence order: eval "
        "holdout (docs 0-2 = the q106 benchmark) > exact-duplicate "
        "non-survivor (canonical-fingerprint groupBy, q43/q87 "
        "survivorship) > benchmark contamination (q106 4-grams) > "
        "Gopher repetition (q104 dup-token ratio) > quality floor "
        "(q41 score < 0.5) > PII-bearing docs admitted as "
        "'keep_scrubbed' (the q105 redaction path) > keep. Every "
        "signal is one keyed shuffle joined back on doc_id; at 100 TB "
        "this is the materialized audit artifact that makes a corpus "
        "reproducible and reviewable.",
)
def q123_corpus_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    dup, contam, q = _admission_signals(docs)
    return (
        docs.select("doc_id")
        .join(dup, "doc_id")
        .join(contam, "doc_id", "left")
        .join(q, "doc_id")
        .select("doc_id", _admission_verdict().alias("verdict"), "quality")
    )


# ---------------------------------------------------------------------------
# q124: BPE apply — tokenize the corpus with the learned merges
# ---------------------------------------------------------------------------


@register(
    "q124_bpe_apply",
    oracle=f"""
    WITH vocab AS (
        SELECT token AS word, count(*)::BIGINT AS wcount
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> '' GROUP BY token
    ),
    sym0 AS (
        SELECT wcount,
               ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' '
                   AS s
        FROM vocab
    ),
    {",".join(_bpe_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))},
    mg AS (
        SELECT max(CASE WHEN r = 1 THEN pair END) AS p1,
               max(CASE WHEN r = 2 THEN pair END) AS p2,
               max(CASE WHEN r = 3 THEN pair END) AS p3
        FROM (
            {" UNION ALL ".join(
                f"SELECT {r} AS r, pair FROM best{r}"
                for r in range(1, _BPE_ROUNDS + 1))}
        )
    ),
    docsym AS (
        SELECT d.doc_id,
               list_transform(
                   list_filter(string_split(d.text, ' '), w -> w <> ''),
                   w -> replace(replace(replace(
                            ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g'))
                                || ' ',
                            ' ' || m.p1 || ' ',
                            ' ' || replace(m.p1, '  ', '') || ' '),
                            ' ' || m.p2 || ' ',
                            ' ' || replace(m.p2, '  ', '') || ' '),
                            ' ' || m.p3 || ' ',
                            ' ' || replace(m.p3, '  ', '') || ' ')
               ) AS syms
        FROM documents d, mg m
    )
    SELECT doc_id,
           cast(len(syms) AS BIGINT) AS n_tokens,
           cast(list_sum(list_transform(
                    syms, s -> len(string_split(trim(s), '  ')))) AS BIGINT)
               AS n_symbols
    FROM docsym
    """,
    covers=("§2.13-text", "A4-adjacent"),
    doc="BPE APPLY — tokenize the corpus with the merges q112 learned "
        "(the train→apply lifecycle, like q99's train→index→search for "
        "IVF): the 3-row merge table is pivoted to one row and "
        "broadcast; every word is symbolized and the merge rewrites "
        "run IN ORDER inside a native array transform (codegen string "
        "ops, zero Python, zero extra shuffle — tokenizing 100 TB is "
        "a map-only pass once the merges exist). Output: per-doc "
        "whitespace-token vs BPE-symbol counts — n_symbols < "
        "n_chars-per-token x n_tokens proves the merges actually "
        "compress. Oracle replays training AND application end-to-end.",
)
def q124_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    # retrain (same plan as q112) and pivot the merges to one row
    merges = QUERIES["q112_bpe_train"].builder(spark, sf_dir)
    mg = (
        merges.agg(
            *[
                F.max(F.when(F.col("rank") == r, F.col("pair"))).alias(f"p{r}")
                for r in range(1, _BPE_ROUNDS + 1)
            ]
        )
        .withColumn("one", F.lit(1))
    )
    def apply_merge(col, p):
        return F.replace(
            col,
            F.concat(F.lit(" "), p, F.lit(" ")),
            F.concat(F.lit(" "), F.replace(p, F.lit("  "), F.lit("")), F.lit(" ")),
        )

    docsym = (
        docs.withColumn("one", F.lit(1))
        .join(F.broadcast(mg), "one")
        .select(
            "doc_id",
            F.transform(
                F.filter(F.split("text", " "), lambda t: t != ""),
                lambda w: F.size(
                    F.split(
                        F.trim(
                            apply_merge(
                                apply_merge(
                                    apply_merge(
                                        F.concat(
                                            F.lit(" "),
                                            F.rtrim(
                                                F.regexp_replace(w, "(.)", "$1  ")
                                            ),
                                            F.lit(" "),
                                        ),
                                        F.col("p1"),
                                    ),
                                    F.col("p2"),
                                ),
                                F.col("p3"),
                            )
                        ),
                        "  ",
                    )
                ),
            ).alias("counts"),
        )
    )
    return docsym.select(
        "doc_id",
        F.size("counts").cast("bigint").alias("n_tokens"),
        F.aggregate(
            "counts", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("n_symbols"),
    )


# ---------------------------------------------------------------------------
# q125: per-source embedding drift audit (domain-shift monitoring)
# ---------------------------------------------------------------------------


@register(
    "q125_embedding_drift",
    oracle="""
    WITH j AS (
        SELECT d.source, e.embedding
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ),
    dims AS (
        SELECT source, t.i,
               sum(floor(embedding[t.i + 1]::DOUBLE * 1000000000.0)::BIGINT)
                   AS sfp,
               count(*) AS cnt
        FROM j, range(0, 64) t(i)
        GROUP BY source, t.i
    ),
    means AS (
        SELECT source, i,
               (sfp::DOUBLE) / (1000000000.0 * cnt) AS ms,
               (sum(sfp) OVER (PARTITION BY i)::DOUBLE)
                   / (1000000000.0 * sum(cnt) OVER (PARTITION BY i)) AS mg,
               cnt
        FROM dims
    ),
    dots AS (
        SELECT source, min(cnt)::BIGINT AS n_vecs,
               cast(sum(floor(ms * mg * 1000000000000.0)::BIGINT) AS DOUBLE)
                   / 1000000000000.0 AS d_sg,
               cast(sum(floor(ms * ms * 1000000000000.0)::BIGINT) AS DOUBLE)
                   / 1000000000000.0 AS d_ss,
               cast(sum(floor(mg * mg * 1000000000000.0)::BIGINT) AS DOUBLE)
                   / 1000000000000.0 AS d_gg
        FROM means GROUP BY source
    )
    SELECT source, n_vecs,
           round(1.0 - d_sg / (sqrt(d_ss) * sqrt(d_gg)), 6) AS drift
    FROM dots
    """,
    covers=("§2.13-similarity", "M-ops"),
    doc="Per-source embedding DRIFT audit — domain-shift monitoring "
        "for a corpus assembled from many sources: each source's mean "
        "embedding is compared to the global mean by cosine, and "
        "drift = 1 - cos flags sources whose content distribution "
        "diverges (the check that catches a crawler gone off-domain "
        "before it poisons the mixture weights q118 computes). Scale "
        "shape: ONE keyed shuffle on (source, dim); the global mean "
        "is derived from the per-source partial sums by an exact "
        "integer window over the tiny source x dim table — the corpus "
        "is read once, and no second aggregation pass or broadcast "
        "join exists. All means/dots are fixed-point, bit-identical "
        "across engines.",
)
def q125_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    j = t["embeddings"].join(
        t["documents"].select(F.col("doc_id").alias("vec_id"), "source"),
        "vec_id",
    )
    dims = (
        j.select("source", F.posexplode("embedding").alias("i", "x"))
        .groupBy("source", "i")
        .agg(
            F.sum(
                F.floor(F.col("x").cast("double") * F.lit(1e9)).cast("bigint")
            ).alias("sfp"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    wi = Window.partitionBy("i")
    means = dims.select(
        "source",
        "i",
        "cnt",
        (F.col("sfp").cast("double") / (F.lit(1e9) * F.col("cnt"))).alias("ms"),
        (
            F.sum("sfp").over(wi).cast("double")
            / (F.lit(1e9) * F.sum("cnt").over(wi))
        ).alias("mg"),
    )

    def fdot(a, b):
        return (
            F.sum(F.floor(a * b * F.lit(1e12)).cast("bigint")).cast("double")
            / F.lit(1e12)
        )

    dots = means.groupBy("source").agg(
        F.min("cnt").cast("bigint").alias("n_vecs"),
        fdot(F.col("ms"), F.col("mg")).alias("d_sg"),
        fdot(F.col("ms"), F.col("ms")).alias("d_ss"),
        fdot(F.col("mg"), F.col("mg")).alias("d_gg"),
    )
    return dots.select(
        "source",
        "n_vecs",
        F.round(
            F.lit(1.0)
            - F.col("d_sg") / (F.sqrt("d_ss") * F.sqrt("d_gg")),
            6,
        ).alias("drift"),
    )


# ---------------------------------------------------------------------------
# q126: retrieve -> rerank pipeline (BM25 recall + cross-encoder precision)
# ---------------------------------------------------------------------------

_RERANK_QUERY = " ".join(_BM25_TERMS)


@register(
    "q126_retrieve_rerank",
    oracle=f"""
    WITH {_BM25_CTES},
    cand AS (
        SELECT doc_id, score FROM perdoc
        ORDER BY score DESC, doc_id LIMIT 20
    ),
    mx AS (SELECT max(score) AS ms FROM cand),
    rr AS (
        SELECT c.doc_id, c.score,
               round(0.5 * (c.score / m.ms)
                     + 0.5 * ((('0x' || substr(md5('{_RERANK_QUERY} [SEP] '
                                 || d.text), 1, 15))::BIGINT
                               % 1000000007 % 1000) / 1000.0), 6) AS final
        FROM cand c JOIN documents d USING (doc_id), mx m
    )
    SELECT doc_id, final,
           row_number() OVER (ORDER BY final DESC, doc_id) AS rank
    FROM rr
    ORDER BY rank LIMIT 10
    """,
    covers=("§2.13-text", "S14-adjacent"),
    doc="Two-stage retrieval pipeline — BM25 RECALL stage (the q102 "
        "scorer, top-20 candidates via TakeOrderedAndProject) feeding "
        "a cross-encoder RERANK stage (the mock pluggable model "
        "boundary, functions/inference.py style: md5-reproducible "
        "query x document score), blended 50/50 with the min-max-"
        "normalized BM25 signal — the standard retrieve->rerank shape "
        "of RAG/eval harnesses. Scale: the expensive model only ever "
        "sees the CANDIDATE set (20 rows vs the corpus — the entire "
        "point of two-stage retrieval); candidate text is fetched by "
        "one keyed join; the normalization window runs over the "
        "bounded candidate set only.",
)
def q126_retrieve_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir)["documents"]
    cand = X.bm25_topk(docs, _BM25_TERMS, k=20).select("doc_id", "score")
    wall = Window.partitionBy()           # bounded: |candidates| = 20
    mock = (
        D.token_hash(
            F.concat(F.lit(_RERANK_QUERY + " [SEP] "), F.col("text"))
        )
        % 1000
    ).cast("double") / F.lit(1000.0)
    rr = (
        cand.join(docs.select("doc_id", "text"), "doc_id")
        .withColumn("ms", F.max("score").over(wall))
        .select(
            "doc_id",
            F.round(
                F.lit(0.5) * (F.col("score") / F.col("ms"))
                + F.lit(0.5) * mock,
                6,
            ).alias("final"),
        )
    )
    wrank = Window.partitionBy().orderBy(F.desc("final"), F.asc("doc_id"))
    return (
        rr.withColumn("rank", F.row_number().over(wrank))
        .filter(F.col("rank") <= 10)
        .select("doc_id", "final", "rank")
    )


# ---------------------------------------------------------------------------
# q127: reproducible train/val/test splits (stratified, hash-assigned)
# ---------------------------------------------------------------------------


@register(
    "q127_data_splits",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, source,
               CASE WHEN h < 80 THEN 'train'
                    WHEN h < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id, source,
                   ('0x' || substr(md5('split:' || cast(doc_id AS VARCHAR)),
                                   1, 15))::BIGINT % 1000000007 % 100 AS h
            FROM documents
        )
    )
    SELECT source, split,
           count(*)::BIGINT AS n_docs,
           cast(sum(doc_id) AS BIGINT) AS membership_sum
    FROM assigned GROUP BY source, split
    """,
    covers=("§2.13-text", "A13-adjacent"),
    doc="Reproducible train/val/test assignment (80/10/10): the split "
        "is a pure salted-hash function of doc_id — stable across "
        "runs, cluster layouts, engines, and corpus growth (a doc "
        "never migrates between splits when new data arrives, the "
        "property random() sampling cannot give and the reason "
        "leakage audits are possible at all). membership_sum "
        "fingerprints the exact member set per (source, split) cell, "
        "so the oracle check proves assignment identity, not just "
        "counts. Map-only + one keyed rollup.",
)
def q127_data_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    h = D.token_hash(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return (
        docs.select("doc_id", "source", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("membership_sum"),
        )
    )


# ---------------------------------------------------------------------------
# q135: content-defined-chunking (FastCDC) byte-level near-dup
# ---------------------------------------------------------------------------

from pyspark.sql import types as _T
from pyspark.sql.functions import pandas_udf as _pandas_udf


@_pandas_udf(_T.BinaryType())
def _synth_blob_udf(doc_id):
    """Byte-level dup fixture: group g = d % 40 shares a seeded base
    stream of 4000 + g*50 bytes; each member appends its own distinct
    suffix of 16 + ((d // 40) % 64) * 8 bytes — the re-uploaded-with-
    appended-metadata situation byte-level dedup exists for.

    The suffix length is bounded (mod 64): the first cut grew linearly
    with doc_id, so upscaled corpora (deep/soak ids reach 10^7-10^8)
    silently ballooned to megabyte payloads — TOTAL input bytes grew
    quadratically with corpus size and the 'q135 is ~17 min at x100'
    reading measured the fixture, not the operator. Per-doc content
    stays distinct (the fill byte is d % 251) and within-group length
    diversity survives; for d < 2560 the bytes are unchanged."""
    import numpy as _np

    def synth(d: int) -> bytes:
        g = d % 40
        base = _np.random.default_rng(7000 + g).integers(
            0, 256, 4000 + g * 50, dtype=_np.uint8).tobytes()
        return base + bytes([d % 251]) * (16 + ((d // 40) % 64) * 8)

    return doc_id.apply(lambda d: synth(int(d)))


@register(
    "q135_cdc_dedup",
    oracle="""
    SELECT doc_id,
           cast(4000 + (doc_id % 40) * 50 + 16 + ((doc_id // 40) % 64) * 8
                AS BIGINT) AS payload_len,
           cast(doc_id % 40 AS BIGINT) AS dup_group,
           cast((SELECT count(*) FROM documents d2
                 WHERE d2.doc_id % 40 = d.doc_id % 40) AS BIGINT)
               AS group_size
    FROM documents d
    """,
    covers=("§2.13-multimodal", "§2.13-text"),
    doc="Byte-level near-dup via FastCDC content-defined chunking "
        "(operators/cdc.py — gear rolling hash, normalized two-mask "
        "chunking, min/max bounds): payloads chunk at content-defined "
        "boundaries, docs pair on shared chunk hashes (equi-join, "
        "frequency-capped — never all-pairs), pairs at Jaccard >= 0.5 "
        "collapse to min-id groups. The oracle checks THREE semantic "
        "invariants in closed form: chunk partition covers every byte "
        "(payload_len = sum of chunk lengths = the fixture formula), "
        "every doc recovers its true duplication group (d % 40 — "
        "wrong boundaries would break the >= 50% overlap), and the "
        "full group size is recovered (the within-group similarity "
        "graph must be complete). Scale: map-only chunking, one "
        "bucket-local hash join, one pair rollup — the same 100 TB "
        "layout as MinHash banding.",
)
def q135_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.operators.cdc import (
        cdc_chunks_udf, cdc_near_dup_groups,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    chunked = docs.select("doc_id").withColumn(
        "chunks", cdc_chunks_udf()(_synth_blob_udf(F.col("doc_id")))
    )
    return cdc_near_dup_groups(chunked)


# ---------------------------------------------------------------------------
# q139_substring_spans — corpus-duplicated substring detection
# ---------------------------------------------------------------------------

_K_SPAN = 8  # detection resolution: duplicated runs of >= K tokens


@register(
    "q139_substring_spans",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
    ),
    grams AS (
        -- unnest(range(len)) instead of a fixed cross-range so docs of
        -- ANY length replay exactly (a hard 4096 cap would silently
        -- drop grams of longer documents)
        SELECT doc_id, i AS pos,
               t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] || ' ' ||
               t[i + 4] || ' ' || t[i + 5] || ' ' || t[i + 6] || ' ' ||
               t[i + 7] || ' ' || t[i + 8] AS s
        FROM (SELECT doc_id, t,
                     unnest(range(0, greatest(len(t) - {_K_SPAN} + 1, 0)))
                         AS i
              FROM toks) q
    ),
    hv AS (
        SELECT doc_id, pos,
               ('0x' || substr(md5(s), 1, 15))::BIGINT % 1000000007 AS h
        FROM grams
    ),
    dupes AS (
        SELECT h FROM hv GROUP BY h HAVING count(*) > 1
    ),
    marked AS (
        SELECT doc_id, pos FROM hv WHERE h IN (SELECT h FROM dupes)
    ),
    islands AS (
        SELECT doc_id, pos,
               sum(CASE WHEN prev IS NULL OR pos > prev + {_K_SPAN}
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM (SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              FROM marked) q
    ),
    spans AS (
        SELECT doc_id, island,
               max(pos) + {_K_SPAN} - min(pos) AS span_tokens
        FROM islands GROUP BY doc_id, island
    )
    SELECT d.doc_id,
           cast(coalesce(count(s.island), 0) AS BIGINT) AS n_spans,
           cast(coalesce(sum(s.span_tokens), 0) AS BIGINT) AS dup_tokens,
           cast(coalesce(max(s.span_tokens), 0) AS BIGINT) AS longest_span
    FROM documents d LEFT JOIN spans s USING (doc_id)
    GROUP BY d.doc_id
    """,
    covers=("§2.13-dedup",),
    doc="Corpus-duplicated substring spans — the distributed k-gram "
        "form of exact-substring dedup (Lee et al. 2022, "
        "'Deduplicating Training Data Makes Language Models Better': "
        "their suffix-array ExactSubstr pass flags duplicated byte "
        "runs; the k-token-gram formulation detects every duplicated "
        "run of >= k tokens at k-token resolution and is "
        "shuffle-friendly at 100 TB). One gram explosion, one "
        "count-by-hash shuffle, a semi-join back, and an islands "
        "merge per doc — duplicated-gram starts whose intervals "
        "overlap fuse into maximal spans. Emits per-doc span count, "
        "total duplicated-token mass, and the longest span; the "
        "whole pipeline is replayed bit-for-bit by the DuckDB oracle "
        "through the shared md5 gram hash.",
)
def q139_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from streamprocess_spark.operators.dedup import token_hash

    k = _K_SPAN
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all("text", F.lit(r"\S+"), F.lit(0)).alias("t"),
    )
    idx = F.when(
        F.size("t") >= k, F.sequence(F.lit(0), F.size("t") - k)
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.col("t")[i + j] for j in range(k)]
                ),
            )
        ).alias("pos", "s"),
    )
    hashed = grams.select("doc_id", "pos", token_hash(F.col("s")).alias("h"))
    # Duplicated-gram marking as ONE pass: count(*) over (partition by
    # h) — a single (doc_id, pos, h) exchange keyed on h. The previous
    # groupBy-h → semi-join-back form computed the whole gram subtree
    # (tokenize → 8-gram posexplode → md5) TWICE (once under the
    # aggregate, once under the join probe) and its `dupes` build side
    # grows with the duplicated-hash count — on the ×100 replicated
    # soak corpus nearly every gram is duplicated, so the join side
    # approached the full distinct-hash set (the measured 12.4× soak
    # ratio). The window form's shuffle is corpus-linear and carries 20
    # bytes/row regardless of duplication rate.
    wh = Window.partitionBy("h")
    marked = (
        hashed
        .withColumn("hcnt", F.count(F.lit(1)).over(wh))
        .filter(F.col("hcnt") > 1)
        .select("doc_id", "pos")
    )

    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        marked.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("pos") > F.col("prev") + k),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(w))
        .groupBy("doc_id", "island")
        .agg((F.max("pos") + k - F.min("pos")).alias("span_tokens"))
    )
    return (
        docs.select("doc_id")
        .join(spans, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.count("island").cast("bigint").alias("n_spans"),
            F.coalesce(F.sum("span_tokens"), F.lit(0))
            .cast("bigint").alias("dup_tokens"),
            F.coalesce(F.max("span_tokens"), F.lit(0))
            .cast("bigint").alias("longest_span"),
        )
    )


# ---------------------------------------------------------------------------
# q141_sequence_packing — concat-and-chunk training-example packing
# ---------------------------------------------------------------------------

_CTX_LEN = 2048  # training context length (tokens per packed example)
_PACK_BUCKET = 64  # doc_ids per scan bucket (two-level prefix sum)


@register(
    "q141_sequence_packing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '\\S+')) + 1 AS n_tok
        FROM documents  -- +1 separator token after each doc
    ),
    scan AS (
        SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok AS off
        FROM toks
    )
    SELECT doc_id,
           cast(off AS BIGINT) AS tok_offset,
           cast(off // {_CTX_LEN} AS BIGINT) AS first_chunk,
           cast((off + n_tok - 1) // {_CTX_LEN} AS BIGINT) AS last_chunk,
           cast((off + n_tok - 1) // {_CTX_LEN} - off // {_CTX_LEN} + 1
                AS BIGINT) AS n_chunks
    FROM scan
    """,
    covers=("§2.13-text",),
    doc="Concat-and-chunk sequence packing — the GPT-style training "
        "prep: documents (plus one separator token each) are "
        "concatenated in doc_id order and split into fixed "
        f"{_CTX_LEN}-token context windows; each doc learns its global "
        "token offset and the chunk range it lands in. The global "
        "prefix sum is computed SCALABLY as a two-level scan: "
        "per-bucket token totals (one small aggregate), a window over "
        "the bucket totals (runs on #buckets rows, not the corpus), "
        "broadcast of the bucket offsets back, and a per-bucket "
        "cumulative window — no global single-partition sort of the "
        "full corpus anywhere, so the plan holds at 100 TB where a "
        "bare `sum() OVER (ORDER BY doc_id)` would serialize. The "
        "oracle IS the naive global scan, so the test proves the "
        "two-level decomposition is exactly equivalent.",
)
def q141_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        (F.size(F.regexp_extract_all("text", F.lit(r"\S+"), F.lit(0))) + 1)
        .cast("bigint").alias("n_tok"),
        (F.col("doc_id") / _PACK_BUCKET).cast("bigint").alias("bucket"),
    )
    # level 1: bucket totals — tiny (corpus/64 rows)
    bucket_offsets = (
        toks.groupBy("bucket").agg(F.sum("n_tok").alias("btotal"))
        .withColumn(
            "boff",
            F.coalesce(
                F.sum("btotal").over(
                    Window.orderBy("bucket")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "boff")
    )
    # level 2: within-bucket scan + broadcast bucket base offsets
    w = (
        Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        toks.join(F.broadcast(bucket_offsets), "bucket")
        .withColumn(
            "off", F.col("boff") + F.coalesce(F.sum("n_tok").over(w), F.lit(0))
        )
    )
    return packed.select(
        "doc_id",
        F.col("off").alias("tok_offset"),
        (F.col("off") / _CTX_LEN).cast("bigint").alias("first_chunk"),
        ((F.col("off") + F.col("n_tok") - 1) / _CTX_LEN).cast("bigint")
        .alias("last_chunk"),
        (
            ((F.col("off") + F.col("n_tok") - 1) / _CTX_LEN).cast("bigint")
            - (F.col("off") / _CTX_LEN).cast("bigint") + 1
        ).alias("n_chunks"),
    )


# ---------------------------------------------------------------------------
# q142_nb_quality_classifier — weak-supervision Naive Bayes quality scorer
# ---------------------------------------------------------------------------



@register(
    "q142_nb_quality_classifier",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    labels AS (
        SELECT doc_id, (lang = 'en') AS hi FROM documents
    ),
    lt AS (
        SELECT t.doc_id, t.tok, l.hi FROM toks t JOIN labels l USING (doc_id)
    ),
    cls AS (
        SELECT tok,
               sum(CASE WHEN hi THEN 1 ELSE 0 END)::BIGINT AS c1,
               sum(CASE WHEN hi THEN 0 ELSE 1 END)::BIGINT AS c0
        FROM lt GROUP BY tok
    ),
    tot AS (
        SELECT sum(c1) AS t1, sum(c0) AS t0, count(*) AS v FROM cls
    ),
    pri AS (
        SELECT sum(CASE WHEN hi THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN hi THEN 0 ELSE 1 END) AS n0
        FROM labels
    ),
    scored AS (
        SELECT l.doc_id,
               floor((ln((c.c1 + 1.0) / (tot.t1 + tot.v))
                      - ln((c.c0 + 1.0) / (tot.t0 + tot.v))) * 10000.0)
                   AS lo_fp
        FROM lt l JOIN cls c USING (tok), tot
    )
    SELECT s.doc_id,
           count(*)::BIGINT AS n_tokens,
           cast(sum(s.lo_fp) +
                cast(floor(ln((pri.n1 + 1.0) / (pri.n0 + 1.0)) * 10000.0)
                     AS BIGINT) AS BIGINT) AS logodds_fp,
           (sum(s.lo_fp) +
            cast(floor(ln((pri.n1 + 1.0) / (pri.n0 + 1.0)) * 10000.0)
                 AS BIGINT)) > 0 AS pred_hi
    FROM scored s, pri
    GROUP BY s.doc_id, pri.n1, pri.n0
    """,
    covers=("§2.13-text",),
    doc="Weak-supervision multinomial Naive Bayes text classifier — "
        "the fastText/CCNet-style quality/language scorer family "
        "trained ON the corpus with a metadata weak label (lang='en', "
        "the way CCNet seeds quality with in-domain data). The "
        "synthetic corpus draws all languages from one shared token "
        "pool, so there is no real signal to learn here — the check "
        "is the MECHANICS: the distributed training pass (per-class "
        "token counts), the smoothed log-ratio model, and the scoring "
        "join must reproduce the oracle's model bit-for-bit. "
        "Per-class token "
        "counts are one "
        "keyed shuffle, the model (class-conditional log-ratios with "
        "add-one smoothing + class prior) joins back on the token key "
        "— no model server, the training pass and the scoring pass "
        "are both corpus-shaped shuffles that scale like word count. "
        "Every ln() is floor-quantized at 1e-4 (the q102/q116 trick) "
        "so Spark and DuckDB agree bit-for-bit on the fixed-point "
        "log-odds and the predicted class.",
)
def q142_nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    # round 12: the weak label rides the token explode — the previous
    # `toks.join(broadcast(labels), doc_id)` broadcast a one-row-per-
    # DOC table (corpus-sized, unbounded at 100 TB) to re-attach a
    # column that comes from the very same scan. Zero joins now.
    labels = docs.select("doc_id", (F.col("lang") == "en").alias("hi"))
    lt = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("hi"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    cls = lt.groupBy("tok").agg(
        F.sum(F.when(F.col("hi"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("hi"), 0).otherwise(1)).alias("c0"),
    )
    tot = cls.agg(
        F.sum("c1").alias("t1"), F.sum("c0").alias("t0"),
        F.count(F.lit(1)).alias("v"),
    ).withColumn("k", F.lit(1))
    pri = labels.agg(
        F.sum(F.when(F.col("hi"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("hi"), 0).otherwise(1)).alias("n0"),
    ).withColumn("k", F.lit(1))

    lo_fp = F.floor(
        (
            F.log((F.col("c1") + F.lit(1.0)) / (F.col("t1") + F.col("v")))
            - F.log((F.col("c0") + F.lit(1.0)) / (F.col("t0") + F.col("v")))
        )
        * F.lit(10000.0)
    ).cast("bigint")
    prior_fp = F.floor(
        F.log((F.col("n1") + F.lit(1.0)) / (F.col("n0") + F.lit(1.0)))
        * F.lit(10000.0)
    ).cast("bigint")

    scored = (
        lt.join(cls, "tok")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(tot), "k")
        .select("doc_id", lo_fp.alias("lo_fp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("lo_fp").alias("s"))
        .withColumn("k", F.lit(1))
        .join(F.broadcast(pri), "k")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("s") + prior_fp).alias("logodds_fp"),
            ((F.col("s") + prior_fp) > 0).alias("pred_hi"),
        )
    )


# ---------------------------------------------------------------------------
# q143_warc_ingest — WARC (Common Crawl) source, oracle-hashed
# ---------------------------------------------------------------------------

from pyspark.sql import types as _T

_WARC_ROW = _T.StructType([
    _T.StructField("n_records", _T.LongType()),
    _T.StructField("n_responses", _T.LongType()),
    _T.StructField("n_ok", _T.LongType()),
    _T.StructField("body_bytes", _T.LongType()),
    _T.StructField("body_md5_fp", _T.LongType()),
])


@F.pandas_udf(_WARC_ROW)
def _warc_probe_udf(doc_id: pd.Series) -> pd.DataFrame:
    """Builds a deterministic per-doc WARC file (Common Crawl layout:
    gzip members for odd doc_ids, plain for even — both parse through
    the same record walk), parses it with the ISO 28500 reader, and
    emits record counts, HTTP status tallies, body byte mass, and the
    md5 content fingerprint of every body (the engine-agnostic hash
    the oracle recomputes from the same closed-form text)."""
    import hashlib

    from streamprocess_spark.functions.warc import (
        np_build_warc,
        np_parse_warc,
    )

    mod = 1_000_000_007
    rows = []
    for d in doc_id.astype("int64"):
        k = 1 + int(d % 3)
        recs = [{
            "warc_type": "warcinfo", "record_id": f"uuid:{d}-info",
            "date": "2026-08-14T00:00:00Z", "body": b"software: sp\r\n",
        }]
        for i in range(k):
            body = (f"doc {d} rec {i} " * (5 + (d + i) % 7)).encode()
            recs.append({
                "warc_type": "response",
                "record_id": f"uuid:{d}-{i}",
                "date": "2026-08-14T00:00:01Z",
                "target_uri": f"http://ex.com/{d}/{i}",
                "http_status": 200 if (d + i) % 5 else 404,
                "http_content_type": "text/plain",
                "body": body,
            })
        raw = np_build_warc(recs, gzip_members=bool(d % 2))
        parsed = np_parse_warc(raw)
        resp = [r for r in parsed if r["warc_type"] == "response"]
        h = 0
        for r in resp:
            h += int(hashlib.md5(r["body"]).hexdigest()[:15], 16) % mod
        rows.append({
            "n_records": len(parsed),
            "n_responses": len(resp),
            "n_ok": sum(1 for r in resp if r["http_status"] == 200),
            "body_bytes": sum(len(r["body"]) for r in resp),
            "body_md5_fp": h,
        })
    return pd.DataFrame(rows)


@register(
    "q143_warc_ingest",
    oracle="""
    WITH rec AS (
        SELECT d.doc_id, i.i,
               repeat('doc ' || d.doc_id || ' rec ' || i.i || ' ',
                      5 + (d.doc_id + i.i) % 7) AS body,
               CASE WHEN (d.doc_id + i.i) % 5 <> 0 THEN 200 ELSE 404 END
                   AS status
        FROM documents d, range(0, 3) i(i)
        WHERE i.i < 1 + d.doc_id % 3
    )
    SELECT doc_id,
           cast(count(*) + 1 AS BIGINT) AS n_records,
           cast(count(*) AS BIGINT) AS n_responses,
           cast(sum(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ok,
           cast(sum(length(body)) AS BIGINT) AS body_bytes,
           cast(sum(('0x' || substr(md5(body), 1, 15))::BIGINT
                    % 1000000007) AS BIGINT) AS body_md5_fp
    FROM rec GROUP BY doc_id
    """,
    covers=("S15", "§2.13-text"),
    doc="WARC source (ISO 28500 / Common Crawl, functions/warc.py, "
        "from-scratch record walk + multi-member gzip + HTTP response "
        "split): per-doc archives — alternating plain and "
        "member-gzipped layouts — are parsed end-to-end and every "
        "body is md5-fingerprinted; the oracle reconstructs the exact "
        "record set, statuses, byte mass, and content hashes in SQL. "
        "Map-only, zero shuffle; at 100 TB each crawl segment file "
        "parses independently inside its scan partition, which is "
        "exactly how Common Crawl is laid out.",
)
def q143_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    return docs.withColumn("w", _warc_probe_udf(F.col("doc_id"))).select(
        "doc_id",
        F.col("w.n_records").alias("n_records"),
        F.col("w.n_responses").alias("n_responses"),
        F.col("w.n_ok").alias("n_ok"),
        F.col("w.body_bytes").alias("body_bytes"),
        F.col("w.body_md5_fp").alias("body_md5_fp"),
    )


# ---------------------------------------------------------------------------
# q144_html_extract — crawl HTML -> training text, JVM-side only
# ---------------------------------------------------------------------------


def html_to_text(html) -> "F.Column":
    """Crawl HTML -> training text, entirely JVM-side (q144's chain,
    shared with the q150 curation DAG): drop script/style blocks,
    strip tags to spaces, decode the five basic entities, collapse
    whitespace, trim. DuckDB runs the identical regexp/replace chain."""
    return F.trim(
        F.regexp_replace(
            F.replace(
                F.replace(
                    F.replace(
                        F.replace(
                            F.replace(
                                F.regexp_replace(
                                    F.regexp_replace(
                                        F.regexp_replace(
                                            html,
                                            r"(?s)<script[^>]*>.*?</script>",
                                            "",
                                        ),
                                        r"(?s)<style[^>]*>.*?</style>",
                                        "",
                                    ),
                                    r"<[^>]+>",
                                    " ",
                                ),
                                F.lit("&amp;"), F.lit("&"),
                            ),
                            F.lit("&lt;"), F.lit("<"),
                        ),
                        F.lit("&gt;"), F.lit(">"),
                    ),
                    F.lit("&quot;"), F.lit('"'),
                ),
                F.lit("&#39;"), F.lit("'"),
            ),
            r"\s+",
            " ",
        )
    )


@register(
    "q144_html_extract",
    oracle="""
    WITH page AS (
        SELECT doc_id,
               '<html><head><title>Doc ' || doc_id ||
               '</title><style>p {color: red}</style></head><body>' ||
               '<h1>Doc ' || doc_id || ' &amp; friends</h1>' ||
               '<script>var x = ' || doc_id || ';</script>' ||
               (SELECT string_agg('<p>para ' || i.i || ' of doc ' ||
                                  p2.doc_id || ' &lt;ok&gt;</p>', ''
                                  ORDER BY i.i)
                FROM range(0, 6) i(i), (SELECT 1) x
                WHERE i.i < 2 + p2.doc_id % 4) ||
               '</body></html>' AS html
        FROM documents p2(doc_id)
    ),
    ext AS (
        SELECT doc_id,
               trim(regexp_replace(
                 replace(replace(replace(replace(replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html,
                         '(?s)<script[^>]*>.*?</script>', '', 'g'),
                       '(?s)<style[^>]*>.*?</style>', '', 'g'),
                     '<[^>]+>', ' ', 'g'),
                   '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&#39;', ''''),
                 '\\s+', ' ', 'g')) AS txt
        FROM page
    )
    SELECT doc_id,
           cast(length(txt) AS BIGINT) AS n_chars,
           cast(len(string_split(txt, ' ')) AS BIGINT) AS n_words,
           cast(('0x' || substr(md5(txt), 1, 15))::BIGINT % 1000000007
                AS BIGINT) AS text_md5_fp
    FROM ext
    """,
    covers=("§2.13-text", "S15"),
    doc="HTML -> training-text extraction, the stage after the WARC "
        "source in a crawl pipeline: drop script/style blocks "
        "((?s) non-greedy), strip tags to spaces, decode the five "
        "basic entities, collapse whitespace. Implemented ENTIRELY as "
        "JVM-side column expressions (regexp_replace/replace chains — "
        "no Python UDF in the hot path; whole-stage codegen keeps it "
        "inside the scan stage), with DuckDB running the identical "
        "chain; the md5 fingerprint of every extracted string must "
        "match bit-for-bit, which pins both engines to the same "
        "extraction semantics. Map-only, zero shuffle.",
)
def q144_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    paras = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), (F.col("doc_id") % 4 + 1).cast("int")),
            lambda i: F.concat(
                F.lit("<p>para "), i.cast("string"),
                F.lit(" of doc "), F.col("doc_id").cast("string"),
                F.lit(" &lt;ok&gt;</p>"),
            ),
        ),
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title><style>p {color: red}</style></head><body>"),
        F.lit("<h1>Doc "), F.col("doc_id").cast("string"),
        F.lit(" &amp; friends</h1>"),
        F.lit("<script>var x = "), F.col("doc_id").cast("string"),
        F.lit(";</script>"),
        paras,
        F.lit("</body></html>"),
    )
    txt = html_to_text(html)
    from streamprocess_spark.operators.dedup import MOD

    return docs.withColumn("txt", txt).select(
        "doc_id",
        F.length("txt").cast("bigint").alias("n_chars"),
        F.size(F.split("txt", " ")).cast("bigint").alias("n_words"),
        (
            F.conv(F.substring(F.md5("txt"), 1, 15), 16, 10).cast("bigint")
            % MOD
        ).alias("text_md5_fp"),
    )


# ---------------------------------------------------------------------------
# q145_url_curation — crawl URL canonicalization + domain policy
# ---------------------------------------------------------------------------

_URL_BLOCKLIST = ("dom3.com", "dom7.org", "dom11.com")


@register(
    "q145_url_curation",
    oracle=f"""
    WITH u AS (
        SELECT doc_id,
               'http://' ||
               CASE WHEN doc_id % 3 = 0 THEN 'sub' || (doc_id % 5) || '.'
                    ELSE '' END ||
               'dom' || (doc_id % 17) ||
               CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END ||
               '/p/' || doc_id ||
               CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&sid=' || doc_id
                    ELSE '' END AS url
        FROM documents
    ),
    parsed AS (
        SELECT doc_id, url,
               regexp_extract(url, '^https?://([^/?]+)', 1) AS host,
               regexp_extract(url, '^[^?]+') AS canonical,
               len(string_split(regexp_extract(url, '^https?://[^/?]+([^?]*)', 1),
                                '/')) - 1 AS path_depth,
               url LIKE '%?%' AS has_query
        FROM u
    ),
    dom AS (
        SELECT doc_id, canonical, path_depth, has_query,
               regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain
        FROM parsed
    )
    SELECT domain,
           cast(count(*) AS BIGINT) AS n_docs,
           cast(sum(CASE WHEN has_query THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_query,
           cast(sum(path_depth) AS BIGINT) AS depth_sum,
           cast(sum(('0x' || substr(md5(canonical), 1, 15))::BIGINT
                    % 1000000007) AS BIGINT) AS canon_md5_fp,
           (domain IN {_URL_BLOCKLIST}) AS blocked
    FROM dom GROUP BY domain
    """,
    covers=("§2.13-text", "R5"),
    doc="Crawl URL curation — host extraction, registered-domain "
        "rollup, query-string canonicalization (the dedup key crawl "
        "pipelines group on), path-depth stats, and a domain "
        "blocklist verdict — all native string/regexp column "
        "expressions on both engines, md5-pinned on the canonical "
        "URLs. One groupBy(domain) shuffle; at 100 TB domain is the "
        "natural partition key for crawl policy and the blocklist "
        "broadcast is a constant.",
)
def q145_url_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.operators.dedup import MOD

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    url = F.concat(
        F.lit("http://"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("sub"), (F.col("doc_id") % 5).cast("string"),
                     F.lit(".")),
        ).otherwise(F.lit("")),
        F.lit("dom"), (F.col("doc_id") % 17).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(".com")).otherwise(
            F.lit(".org")
        ),
        F.lit("/p/"), F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("?utm_source=x&sid="),
                     F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
    )
    parsed = docs.withColumn("url", url).select(
        "doc_id",
        "url",
        F.regexp_extract("url", r"^https?://([^/?]+)", 1).alias("host"),
        F.regexp_extract("url", r"^[^?]+", 0).alias("canonical"),
        (
            F.size(
                F.split(
                    F.regexp_extract("url", r"^https?://[^/?]+([^?]*)", 1),
                    "/",
                )
            )
            - 1
        ).alias("path_depth"),
        F.col("url").contains("?").alias("has_query"),
    )
    dom = parsed.withColumn(
        "domain", F.regexp_extract("host", r"([^.]+\.[^.]+)$", 1)
    )
    return dom.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("has_query").cast("int")).cast("bigint")
        .alias("n_with_query"),
        F.sum("path_depth").cast("bigint").alias("depth_sum"),
        F.sum(
            F.conv(F.substring(F.md5("canonical"), 1, 15), 16, 10)
            .cast("bigint") % MOD
        ).cast("bigint").alias("canon_md5_fp"),
        F.first(
            F.col("domain").isin(*_URL_BLOCKLIST)
        ).alias("blocked"),
    )


# ---------------------------------------------------------------------------
# q147_warc_source_scan — the native `warc` DataSource end-to-end
# ---------------------------------------------------------------------------


def _stage_warc_segments(sf_dir: str) -> str:
    """Producer edge for the native WARC source: materialize the
    documents table as 8 crawl segment files (alternating plain .warc
    and member-gzipped .warc.gz — the two on-disk forms Common Crawl
    ships), one warcinfo + the q143 record formula per doc. Runs on
    the driver because it IS the crawler's writer side, not an engine
    operator; deterministic and cached by source mtime (the
    _stage_queue_logs pattern)."""
    import os
    import tempfile

    import pyarrow.parquet as pq

    from streamprocess_spark.functions.warc import np_build_warc
    from streamprocess_spark.io.tables import table_path

    src = table_path(sf_dir, "documents")
    key = src.strip("/").replace("/", "_")
    wdir = os.path.join(tempfile.gettempdir(), "spark_graft_warc_cache", key)
    marker = os.path.join(wdir, "_READY")
    if os.path.exists(marker) \
            and os.path.getmtime(marker) >= os.path.getmtime(src):
        return wdir
    doc_ids = sorted(
        int(x) for x in pq.read_table(src, columns=["doc_id"])
        .to_pandas()["doc_id"]
    )
    os.makedirs(wdir, exist_ok=True)
    for b in range(8):
        recs = [{
            "warc_type": "warcinfo",
            "record_id": f"uuid:seg-{b}-info",
            "target_uri": None,
            "date": "2024-01-01T00:00:00Z",
            "body": b"software: streamprocess-crawler\r\n",
        }]
        for d in doc_ids:
            if d % 8 != b:
                continue
            for i in range(1 + d % 3):
                body = (f"doc {d} rec {i} " * (5 + (d + i) % 7)).encode()
                recs.append({
                    "warc_type": "response",
                    "record_id": f"uuid:{d}-{i}",
                    "target_uri": f"http://ex.com/{d}/{i}",
                    "date": "2024-01-01T00:00:00Z",
                    "http_status": 200 if (d + i) % 5 else 404,
                    "http_content_type": "text/html",
                    "body": body,
                })
        name = f"seg-{b}.warc.gz" if b % 2 else f"seg-{b}.warc"
        with open(os.path.join(wdir, name), "wb") as f:
            f.write(np_build_warc(recs, gzip_members=bool(b % 2)))
    with open(marker, "w") as f:
        f.write(src)
    return wdir


@register(
    "q147_warc_source_scan",
    oracle="""
    WITH rec AS (
        SELECT d.doc_id, i.i,
               repeat('doc ' || d.doc_id || ' rec ' || i.i || ' ',
                      5 + (d.doc_id + i.i) % 7) AS body,
               CASE WHEN (d.doc_id + i.i) % 5 <> 0 THEN 200 ELSE 404 END
                   AS status
        FROM documents d, range(0, 3) i(i)
        WHERE i.i < 1 + d.doc_id % 3
    )
    SELECT doc_id,
           cast(count(*) AS BIGINT) AS n_responses,
           cast(sum(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ok,
           cast(sum(length(body)) AS BIGINT) AS body_bytes,
           cast(sum(('0x' || substr(md5(body), 1, 15))::BIGINT
                    % 1000000007) AS BIGINT) AS body_md5_fp
    FROM rec GROUP BY doc_id
    """,
    covers=("S15", "§2.13-text"),
    doc="The native `warc` DataSource (io/warc_source.py) end-to-end: "
        "spark.read.format('warc') over 8 staged crawl segment files "
        "(alternating plain and member-gzipped, the Common Crawl "
        "on-disk forms), one InputPartition per file — the exact "
        "100 TB fan-out shape, no shuffle until the per-doc rollup. "
        "Bodies are md5-fingerprinted and the oracle reconstructs the "
        "record set, statuses, byte mass, and content hashes in SQL "
        "(same closed forms as q143, now arriving through a "
        "first-class source instead of a parse UDF).",
)
def q147_warc_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.io.warc_source import register_warc_source
    from streamprocess_spark.operators.dedup import MOD

    register_warc_source(spark)
    wdir = _stage_warc_segments(sf_dir)
    recs = spark.read.format("warc").load(wdir)
    return (
        recs.filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract("target_uri", r"http://ex\.com/(\d+)/", 1)
            .cast("bigint").alias("doc_id"),
            "http_status",
            "body",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_responses"),
            F.sum((F.col("http_status") == 200).cast("int")).cast("bigint")
            .alias("n_ok"),
            F.sum(F.length("body")).cast("bigint").alias("body_bytes"),
            F.sum(
                F.conv(F.substring(F.md5("body"), 1, 15), 16, 10)
                .cast("bigint") % MOD
            ).cast("bigint").alias("body_md5_fp"),
        )
    )


# ---------------------------------------------------------------------------
# q156_warc_intake_ledger — S5 continuous intake, planner vs contract
# ---------------------------------------------------------------------------

# maxFilesPerTrigger-analog cap for the replay: 3 over the 8 staged
# segments, so the drain exercises both a full batch and a short tail.
_WARC_INTAKE_CAP = 3


@register(
    "q156_warc_intake_ledger",
    oracle=f"""
    WITH seg AS (
        SELECT b.b AS bno,
               'seg-' || b.b ||
                   CASE WHEN b.b % 2 = 1 THEN '.warc.gz'
                        ELSE '.warc' END AS segment,
               cast(b.b // {_WARC_INTAKE_CAP} AS INT) AS batch_id
        FROM range(0, 8) b(b)
    ), rec AS (
        SELECT d.doc_id % 8 AS bno,
               length(repeat('doc ' || d.doc_id || ' rec ' || i.i || ' ',
                             5 + (d.doc_id + i.i) % 7)) AS blen
        FROM documents d, range(0, 3) i(i)
        WHERE i.i < 1 + d.doc_id % 3
    )
    SELECT s.batch_id, s.segment,
           cast(count(r.bno) + 1 AS BIGINT) AS n_records,
           cast(count(r.bno) AS BIGINT) AS n_responses,
           cast(coalesce(sum(r.blen), 0) AS BIGINT) AS body_bytes
    FROM seg s LEFT JOIN rec r ON r.bno = s.bno
    GROUP BY s.batch_id, s.segment
    """,
    covers=("S5",),
    doc="S5 continuous crawl intake, driver-hashable: the REAL "
        "streaming planner (io/warc_source.py WarcStreamReader — "
        "whole-file exactly-once offsets, max_files_per_batch "
        "backpressure cap, pure latestOffset with _planned advanced "
        "only at plan time) is driven to a full drain of the 8 staged "
        "crawl segments on the driver, producing the per-trigger file "
        "admission ledger Spark's offset log would persist; every "
        "planned (batch, segment) is then joined against the source's "
        "own distributed read and rolled up to per-segment record "
        "counts and body byte mass. The oracle reconstructs the "
        "ledger from the CONTRACT alone: immutable sorted-name "
        "admission in cap-sized batches (batch_id = name rank // cap) "
        "and the q143 closed-form record set per segment. "
        "Bit-equality proves each file is admitted exactly once, in "
        "listing order, within the per-trigger cap, and fully (record "
        "counts match the whole file — never a partial file split "
        "across triggers). The planner loop is driver-side bounded "
        "metadata (8 rows); record data moves through the source's "
        "one-partition-per-file distributed scan.",
)
def q156_warc_intake_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.io.warc_source import (
        WarcStreamReader,
        register_warc_source,
    )

    register_warc_source(spark)
    wdir = _stage_warc_segments(sf_dir)
    reader = WarcStreamReader(
        {"path": wdir, "max_files_per_batch": str(_WARC_INTAKE_CAP)}
    )
    start = reader.initialOffset()
    rows: list[tuple[int, str]] = []
    batch_id = 0
    while True:
        end = reader.latestOffset()
        if end == start:
            break
        reader.partitions(start, end)  # the plan step that commits the
        for name in sorted(             # admitted set into _planned
            set(end["files"]) - set(start["files"])
        ):
            rows.append((batch_id, name))
        start = end
        batch_id += 1
    planned = spark.createDataFrame(rows, "batch_id int, segment string")
    recs = spark.read.format("warc").load(wdir).select(
        F.element_at(F.split("path", "/"), -1).alias("segment"),
        "warc_type",
        F.length("body").alias("blen"),
    )
    return (
        recs.join(F.broadcast(planned), "segment")
        .groupBy("batch_id", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum((F.col("warc_type") == "response").cast("int"))
            .cast("bigint").alias("n_responses"),
            F.sum(
                F.when(F.col("warc_type") == "response", F.col("blen"))
                .otherwise(0)
            ).cast("bigint").alias("body_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# q150_curation_dag — the corpus-curation pipeline as ONE composed job
# (round-7 verdict #5): WARC source -> HTML->text -> exact + near dedup
# -> contamination -> admission -> splits, with every stage boundary
# materialized through the txlog table format the way a real 100 TB
# curation run checkpoints its stages.
# ---------------------------------------------------------------------------


def _stage_curation_warc(sf_dir: str) -> str:
    """Producer edge for the curation DAG: the documents corpus as 8
    crawl segment files whose response bodies are the REAL document
    texts wrapped in HTML boilerplate (empty-title head, a style
    block, a script block, the text in one <p>) — so the engine-side
    extraction chain has genuine markup to strip and the recovered
    text is token-identical to the source document (the oracle replays
    the downstream signals from `documents` directly; every signal is
    token-based, so the extraction trim is invisible to it). Driver-
    side because it IS the crawler's writer edge (the
    _stage_warc_segments pattern), deterministic, cached by mtime."""
    import tempfile

    import pyarrow.parquet as pq

    from streamprocess_spark.functions.warc import np_build_warc
    from streamprocess_spark.io.tables import table_path

    src = table_path(sf_dir, "documents")
    key = src.strip("/").replace("/", "_")
    # v2: bodies are entity-escaped (cache key bumped so stale
    # unescaped segment dirs are never reused)
    wdir = os.path.join(
        tempfile.gettempdir(), "spark_graft_curation_warc_v2", key
    )
    marker = os.path.join(wdir, "_READY")
    if os.path.exists(marker) \
            and os.path.getmtime(marker) >= os.path.getmtime(src):
        return wdir
    tbl = pq.read_table(src, columns=["doc_id", "source", "text"]) \
        .to_pandas().sort_values("doc_id")
    os.makedirs(wdir, exist_ok=True)
    for b in range(8):
        recs = [{
            "warc_type": "warcinfo",
            "record_id": f"uuid:curation-seg-{b}-info",
            "target_uri": None,
            "date": "2024-01-01T00:00:00Z",
            "body": b"software: streamprocess-crawler\r\n",
        }]
        for d, srcname, text in zip(
            tbl["doc_id"], tbl["source"], tbl["text"]
        ):
            d = int(d)
            if d % 8 != b:
                continue
            # escape the five entities html_to_text decodes, in
            # &-first order, so markup characters in corpus text
            # round-trip token-exactly through the production
            # extraction chain instead of being eaten by the
            # tag-strip / entity-decode. (Residual hazard, accepted
            # and documented: source text containing a LITERAL
            # entity string like '&lt;' double-decodes — the
            # sequential-replace decoder's classic limit.)
            esc = (
                str(text)
                .replace("&", "&amp;")
                .replace("<", "&lt;")
                .replace(">", "&gt;")
                .replace('"', "&quot;")
                .replace("'", "&#39;")
            )
            html = (
                "<html><head><title></title>"
                "<style>p {color: red}</style></head><body>"
                f"<script>var x = {d};</script>"
                f"<p>{esc}</p></body></html>"
            )
            recs.append({
                "warc_type": "response",
                "record_id": f"uuid:curation-{d}",
                "target_uri": f"http://ex.com/{srcname}/{d}",
                "date": "2024-01-01T00:00:00Z",
                "http_status": 200,
                "http_content_type": "text/html",
                "body": html.encode(),
            })
        name = f"crawl-{b:02d}.warc" + (".gz" if b % 2 else "")
        with open(os.path.join(wdir, name), "wb") as f:
            f.write(np_build_warc(recs, gzip_members=bool(b % 2)))
    with open(marker, "w") as f:
        f.write("ok")
    return wdir


@register(
    "q150_curation_dag",
    oracle=f"""
    WITH {_minhash_sig_sql()}, bands AS ({_BANDS_SQL}),
    near AS (
        SELECT DISTINCT b.doc_id AS doc_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    {_ADMISSION_CTES},
    v AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id < 3 THEN 'eval_holdout'
                    WHEN dup.is_dup THEN 'drop_duplicate'
                    WHEN near.doc_id IS NOT NULL THEN 'drop_near_dup'
                    WHEN contam.doc_id IS NOT NULL THEN 'drop_contaminated'
                    WHEN q.repetitive THEN 'drop_repetitive'
                    WHEN q.quality < 0.5 THEN 'drop_quality'
                    WHEN d.doc_id % 4 = 0 THEN 'keep_scrubbed'
                    ELSE 'keep' END AS verdict
        FROM documents d
        JOIN dup USING (doc_id)
        LEFT JOIN near ON near.doc_id = d.doc_id
        LEFT JOIN contam ON contam.doc_id = d.doc_id
        JOIN q USING (doc_id)
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN h < 80 THEN 'train'
                    WHEN h < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     ('0x' || substr(md5('split:' || cast(doc_id AS VARCHAR)),
                                     1, 15))::BIGINT % {D.MOD} % 100 AS h
              FROM documents)
    )
    SELECT v.verdict AS verdict, s.split AS split,
           count(*)::BIGINT AS n_docs,
           cast(sum(v.doc_id) AS BIGINT) AS membership_sum
    FROM v JOIN s USING (doc_id)
    WHERE v.verdict LIKE 'keep%'
    GROUP BY 1, 2
    """,
    covers=("§2.13-text", "§2.13-dedup", "S15", "§2.13-layout"),
    doc="The corpus-curation pipeline run as ONE composed job — the "
        "shape a real 100 TB curation run has, where stage-boundary "
        "materialization and shuffle reuse matter (round-7 verdict "
        "#5). Stage 1 (ingest): crawl segments read through the "
        "native WARC DataSource (q143/q147 path), HTML bodies "
        "reduced to training text with the q144 JVM extraction chain "
        "(script/style drop, tag strip, entity decode — zero Python "
        "in the extraction), committed to a txlog table (io/txlog.py "
        "— the Delta-protocol commit layer, so each stage is an "
        "atomic, reviewable snapshot). Stage 2 (admission): q123's "
        "decision table extended with a MinHash-LSH near-dup stage "
        "(q45's banded candidates; verdict precedence eval_holdout > "
        "exact-dup > near-dup > contamination > repetition > quality "
        "> PII-scrub > keep), committed as the audit artifact. Stage "
        "3 (splits): q127's salted-hash 80/10/10 assignment over the "
        "ADMITTED corpus only, rolled up to (verdict, split) cells "
        "with membership_sum fingerprinting the exact member sets. "
        "The oracle replays the WHOLE composed decision — minhash "
        "bands, admission CTEs, split hash — from `documents` in one "
        "DuckDB query (the extraction round-trip is token-exact by "
        "construction, asserted in tests). Scale: the only non-doc-"
        "keyed shuffle is the LSH band join; each txlog commit is an "
        "executor-parallel parquet write plus O(#files) driver "
        "metadata.",
)
def q150_curation_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from streamprocess_spark.io.txlog import TxTable
    from streamprocess_spark.io.warc_source import register_warc_source

    register_warc_source(spark)
    wdir = _stage_curation_warc(sf_dir)
    # fixed per-process scratch, wiped on reuse: the txlog stage tables
    # ARE the measured work (bench times the DAG end-to-end, so they
    # must be rebuilt every invocation), but a fresh mkdtemp per call
    # leaked a full corpus copy per run — now at most one copy persists
    # per process, and the pid suffix keeps concurrent sessions apart
    base = os.path.join(
        tempfile.gettempdir(), f"sp_curation_{os.getpid()}"
    )
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)

    # stage 1: WARC -> HTML -> text, committed
    recs = spark.read.format("warc").load(wdir)
    extracted = (
        recs.filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract("target_uri", r"/(\d+)$", 1)
            .cast("bigint").alias("doc_id"),
            F.regexp_extract("target_uri", r"http://ex\.com/([^/]+)/", 1)
            .alias("source"),
            html_to_text(F.decode("body", "UTF-8")).alias("text"),
        )
    )
    ext = TxTable.create(
        spark, os.path.join(base, "extracted"), extracted
    ).read(spark)

    # stage 2: admission decision table — q123's shared signals +
    # verdict (see _admission_signals/_admission_verdict) extended
    # with the MinHash near-dup stage, committed
    dup, contam, q = _admission_signals(ext)
    near = (
        D.minhash_candidates(ext, "doc_id", "text")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    admission = (
        ext.select("doc_id", "source")
        .join(dup, "doc_id")
        .join(near, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .join(q, "doc_id")
        .select(
            "doc_id", "source",
            _admission_verdict(near_dup=True).alias("verdict"),
        )
    )
    adm = TxTable.create(
        spark, os.path.join(base, "admission"), admission
    ).read(spark)

    # stage 3: reproducible splits over the ADMITTED corpus
    h = D.token_hash(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return (
        adm.filter(F.col("verdict").startswith("keep"))
        .select("verdict", split.alias("split"), "doc_id")
        .groupBy("verdict", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("membership_sum"),
        )
    )
