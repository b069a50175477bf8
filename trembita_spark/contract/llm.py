"""LLM-data-pipeline contract queries (SURVEY.md §3.10 — north-star
extensions over the `documents` and `embeddings` fixtures): dedup
(exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine),
similarity search (brute-force + IVF), text analysis (word counts,
tf-idf, language-ID, quality, token counting, fingerprints), multimodal
binary columns, and file sinks.

Oracle notes: every hash is md5 (identical across engines); 60-bit
integers come from the first 15 hex chars — ``checksum.md5_int60`` in
Spark, ``checksum.HEX60_SQL`` in DuckDB (no ``conv`` there); all float
similarity math is sequential double folds (``F.aggregate`` ↔
``list_reduce``), which both engines evaluate left-to-right →
bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trembita_spark.contract import (
    basket_pairs,
    customer_points,
    order_baskets,
    register,
    run_tmp,
    table,
)
from trembita_spark.operators import dedup as D
from trembita_spark.operators import multimodal as M
from trembita_spark.operators import similarity as S
from trembita_spark.operators import sampling as SMP
from trembita_spark.operators import text as TX
from trembita_spark.io import spread_scan

# The 60-bit md5 fold on both engines (checksum.py).
from trembita_spark.checksum import HEX60_SQL as _HEX60, md5_int60

# DuckDB fragment: word k-shingles (1-based list indexing).
def _sh_sql(k: int) -> str:
    parts = ", ".join(f"t[i+{j}]" if j else "t[i]" for j in range(k))
    return (
        f"CASE WHEN len(t) >= {k} THEN list_transform(generate_series(1, len(t) - {k - 1}), "
        f"i -> concat_ws(' ', {parts})) ELSE [] END"
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(table(spark, sf_dir, "documents"))


@register(
    "q_dedup_near",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT doc_id, {_sh_sql(3)} AS shingles FROM tok),
    sig AS (
      SELECT doc_id, band,
             list_min(list_transform(shingles, s -> substring(md5(concat('g', band // 4, '|', s)), 1 + 8 * (band % 4), 8))) AS sig
      FROM sh, (SELECT unnest([0, 1, 2, 3]) AS band) bands
      WHERE len(shingles) > 0
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sig a JOIN sig b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """,
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinHash+LSH candidate pairs: 4 bands over word-trigram shingles.
    return D.minhash_lsh_candidates(table(spark, sf_dir, "documents"), bands=4, k=3)


_SIMHASH_BITS = 16
_simhash_sums = ",\n      ".join(
    f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(_SIMHASH_BITS)
)
_simhash_fp = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS)
)


@register(
    "q_dedup_simhash",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), h AS (
      SELECT doc_id, {_HEX60.format(md5="md5(token)")} AS h FROM ex
    ), s AS (
      SELECT doc_id,
      {_simhash_sums}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id, CAST({_simhash_fp} AS BIGINT) AS simhash FROM s
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(table(spark, sf_dir, "documents"), bits=_SIMHASH_BITS)


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    shl AS (SELECT doc_id, {_sh_sql(4)} AS shingles FROM tok),
    ds AS (SELECT DISTINCT doc_id, unnest(shingles) AS sh FROM shl),
    dsf AS (SELECT doc_id, sh FROM ds WHERE md5(sh) < '2'),
    sz AS (SELECT doc_id, count(*) AS sz FROM dsf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM dsf a JOIN dsf b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter, jaccard FROM (
      SELECT doc_a, doc_b, inter,
             inter / (sa.sz + sb.sz - inter) AS jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = doc_a
      JOIN sz sb ON sb.doc_id = doc_b
    ) WHERE jaccard >= 0.2
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact Jaccard on a deterministic 1/8 content-keyed shingle sample.
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), k=4, sample_prefix="2", min_jaccard=0.2
    )


_NORM_SQL = (
    "sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "(a, b) -> a + b))"
)
_PAIR_DOT_SQL = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)"
)


@register(
    "q_dedup_embedding",
    oracle=f"""
    WITH n AS (SELECT vec_id, label, embedding, {_NORM_SQL} AS norm FROM embeddings)
    SELECT vec_a, vec_b, cos FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_PAIR_DOT_SQL} / (a.norm * b.norm) AS cos
      FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE cos >= 0.3
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Embedding near-dup pairs, blocked by the label column (the bucket
    # key stands in for an LSH cell: pair work is per-bucket-squared,
    # never corpus-squared).
    return S.cosine_pairs_within(table(spark, sf_dir, "embeddings"), threshold=0.3)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "q_similarity_topk",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQL} AS norm FROM embeddings),
    scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
             {_PAIR_DOT_SQL} / (a.norm * b.norm) AS cos
      FROM n a JOIN n b ON b.vec_id < 8 AND a.vec_id <> b.vec_id
    )
    SELECT query_id, vec_id, cos, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Brute-force exact cosine top-3 for 8 query vectors (broadcast
    # queries; corpus never shuffles).
    emb = table(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=3)


# Shared IVF probe pipeline (centroids → route queries → nprobe=2
# nearest cells) — prefix of both the plain and the SQ8-refined oracle.
_IVF_PROBE_CTES = f"""cent AS (
      SELECT label AS cell, i,
             CAST(sum(CAST(embedding[i] AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS m
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) dims
      GROUP BY label, i
    ),
    cvec AS (SELECT cell, list(m ORDER BY i) AS centroid FROM cent GROUP BY cell),
    cn AS (
      SELECT cell, centroid,
             sqrt(list_reduce(list_transform(centroid, x -> x * x), (a, b) -> a + b)) AS c_norm
      FROM cvec
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS q_vec, {_NORM_SQL} AS q_norm
      FROM embeddings WHERE vec_id < 8
    ),
    routed AS (
      SELECT q.query_id, q.q_vec, q.q_norm, cn.cell,
             list_reduce(list_transform(generate_series(1, 64),
               i -> CAST(q.q_vec[i] AS DOUBLE) * cn.centroid[i]), (x, y) -> x + y)
               / (q.q_norm * cn.c_norm) AS cos_c
      FROM q CROSS JOIN cn
    ),
    probe AS (
      SELECT query_id, q_vec, q_norm, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_c DESC, cell) AS r
        FROM routed
      ) WHERE r <= 2
    )"""


_IVF_ORACLE = f"""
    WITH {_IVF_PROBE_CTES},
    c AS (SELECT vec_id, label AS cell, embedding AS c_vec, {_NORM_SQL} AS c_norm FROM embeddings),
    scored AS (
      SELECT p.query_id, c.vec_id, c.cell,
             list_reduce(list_transform(generate_series(1, 64),
               i -> CAST(p.q_vec[i] AS DOUBLE) * CAST(c.c_vec[i] AS DOUBLE)), (x, y) -> x + y)
               / (p.q_norm * c.c_norm) AS cos
      FROM c JOIN probe p ON c.cell = p.cell AND c.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cell, cos, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 3
"""


@register("q_similarity_ivf", oracle=_IVF_ORACLE)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF scale path: decimal-exact centroid means → route each query to
    # its nprobe nearest cells → exact rerank inside. Fully
    # oracle-checked (the oracle replays the whole routing+rerank).
    emb = table(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, emb.filter(F.col("vec_id") < 8), k=3, nprobe=2)


_IVF_REFINED_ORACLE = f"""
    WITH {_IVF_PROBE_CTES},
    stats AS (
      SELECT i AS dim,
             min(CAST(embedding[i] AS DOUBLE)) AS lo,
             max(CAST(embedding[i] AS DOUBLE)) AS hi
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) dims
      GROUP BY i
    ),
    sarr AS (
      SELECT list(lo ORDER BY dim) AS lo_arr, list(hi ORDER BY dim) AS hi_arr
      FROM stats
    ),
    recon AS (
      SELECT vec_id, label AS cell,
             list_transform(generate_series(1, 64), i ->
               CASE WHEN hi_arr[i] = lo_arr[i] THEN lo_arr[i]
               ELSE lo_arr[i]
                    + (least(255, floor((CAST(embedding[i] AS DOUBLE) - lo_arr[i])
                                        / (hi_arr[i] - lo_arr[i]) * 256)) + 0.5)
                      * (hi_arr[i] - lo_arr[i]) / 256
               END) AS rv
      FROM embeddings CROSS JOIN sarr
    ),
    rn AS (
      SELECT vec_id, cell, rv,
             sqrt(list_reduce(list_transform(rv, x -> x * x), (a, b) -> a + b)) AS r_norm
      FROM recon
    ),
    cand AS (
      SELECT p.query_id, r.vec_id, r.cell,
             list_reduce(list_transform(generate_series(1, 64),
               i -> CAST(p.q_vec[i] AS DOUBLE) * r.rv[i]), (x, y) -> x + y)
               / (p.q_norm * r.r_norm) AS cos_q
      FROM rn r JOIN probe p ON r.cell = p.cell AND r.vec_id <> p.query_id
    ),
    short AS (
      SELECT query_id, vec_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, vec_id) AS r
        FROM cand
      ) WHERE r <= 12
    ),
    cfull AS (SELECT vec_id, embedding AS c_vec, {_NORM_SQL} AS c_norm FROM embeddings),
    qfull AS (
      SELECT vec_id AS query_id, embedding AS q_vec, {_NORM_SQL} AS q_norm
      FROM embeddings WHERE vec_id < 8
    ),
    rescored AS (
      SELECT s.query_id, s.vec_id, s.cell,
             list_reduce(list_transform(generate_series(1, 64),
               i -> CAST(qf.q_vec[i] AS DOUBLE) * CAST(cf.c_vec[i] AS DOUBLE)), (x, y) -> x + y)
               / (qf.q_norm * cf.c_norm) AS cos
      FROM short s
      JOIN cfull cf ON s.vec_id = cf.vec_id
      JOIN qfull qf ON s.query_id = qf.query_id
    )
    SELECT query_id, vec_id, cell, cos, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      FROM rescored
    ) WHERE rank <= 3
"""


@register("q_similarity_ivf_refined", oracle=_IVF_REFINED_ORACLE)
def q_similarity_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF + SQ8 + exact re-rank (operators/similarity.py:
    # ivf_topk_refined): probe 2 cells, score candidates on 256-level
    # scalar-quantized reconstructions, keep a 12-wide shortlist, exact
    # cosine re-rank only the shortlist. Quantization is exact-IEEE
    # (sub/div/mul/floor, no round()) so DuckDB replays it bit-for-bit.
    emb = table(spark, sf_dir, "embeddings")
    return S.ivf_topk_refined(
        emb, emb.filter(F.col("vec_id") < 8), k=3, nprobe=2, shortlist=12
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "q_text_wordcount",
    oracle="""
    SELECT lang, token, count(*) AS n FROM (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ) GROUP BY lang, token
    """,
)
def q_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.word_counts(table(spark, sf_dir, "documents"), by=["lang"])


@register(
    "q_text_tfidf",
    oracle="""
    WITH tfc AS (
      SELECT doc_id, token, count(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      ) GROUP BY 1, 2
    ),
    dfc AS (SELECT token, count(*) AS df FROM tfc GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, token, tf, df, tf * (n_docs + 1) / (df + 1) AS tfidf
    FROM tfc JOIN dfc USING (token) CROSS JOIN n
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.tf_idf_ratio(table(spark, sf_dir, "documents"))


_MARKER_SQL = ",\n           ".join(
    f"CAST(len(list_intersect(vocab, {mk})) AS INT) AS hits_{lang}"
    for lang, mk in TX.LANG_MARKERS.items()
)
_LANGS = list(TX.LANG_MARKERS)
_GREATEST = "greatest(" + ", ".join(f"hits_{l}" for l in _LANGS) + ")"
_PRED_SQL = (
    "CASE "
    + " ".join(
        f"WHEN hits_{l} > 0 AND hits_{l} = {_GREATEST} THEN '{l}'" for l in _LANGS
    )
    + " ELSE 'und' END"
)


@register(
    "q_text_langid",
    oracle=f"""
    WITH v AS (
      SELECT doc_id, lang AS lang_true,
             list_distinct(string_split(text, ' ')) AS vocab
      FROM documents
    ), s AS (
      SELECT doc_id, lang_true,
           {_MARKER_SQL}
      FROM v
    )
    SELECT doc_id, lang_true, {", ".join(f"hits_{l}" for l in _LANGS)},
           {_PRED_SQL} AS lang_pred
    FROM s
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Marker-word language-ID heuristic (argmax with declaration-order
    # ties). The fixture's synthetic vocabulary mostly reads as 'en' —
    # the CHECK is that both engines agree on the whole feature+argmax
    # pipeline; real profiles drop into LANG_MARKERS unchanged.
    return TX.lang_id(table(spark, sf_dir, "documents"))


@register(
    "q_text_quality",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             CAST(length(text) AS INT)                 AS n_chars,
             CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
             CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                  {[m for ms in TX.LANG_MARKERS.values() for m in ms]})) AS INT) AS stop_hits
      FROM documents
    )
    SELECT doc_id, n_tokens, n_chars,
           (n_chars - (n_tokens - 1)) / n_tokens AS mean_tok_len,
           n_distinct / n_tokens                 AS distinct_ratio,
           stop_hits,
           least(n_tokens / 50.0, 1.0) * 0.4
             + (n_distinct / n_tokens) * 0.4
             + least(stop_hits / 3.0, 1.0) * 0.2 AS quality,
           (least(n_tokens / 50.0, 1.0) * 0.4
             + (n_distinct / n_tokens) * 0.4
             + least(stop_hits / 3.0, 1.0) * 0.2) >= 0.5 AS keep
    FROM f
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_features(table(spark, sf_dir, "documents"))


@register(
    "q_text_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')) AS INT) AS bpe_tokens,
           length(text) / len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')) AS chars_per_chunk
    FROM documents
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_counts(table(spark, sf_dir, "documents"))


@register(
    "q_text_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
      FROM documents
    )
    SELECT doc_id, fingerprint, {_HEX60.format(md5="fingerprint")} AS fp_bucket FROM fp
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprint(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Multimodal + sinks
# ---------------------------------------------------------------------------


@register(
    "q_multimodal_meta",
    oracle="""
    SELECT source,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           count(*)                         AS n_assets,
           count(DISTINCT md5(text))        AS n_unique
    FROM documents GROUP BY source
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Metadata-only analytics over binary payloads: prune/aggregate on
    # the cheap struct BEFORE any decode touches bytes.
    docs = M.attach_payload(table(spark, sf_dir, "documents"))
    return docs.groupBy("source").agg(
        F.sum(F.col("meta.n_bytes").cast("bigint")).alias("total_bytes"),
        F.count(F.lit(1)).alias("n_assets"),
        F.countDistinct("meta.checksum").alias("n_unique"),
    )


@register(
    "q_multimodal_features",
    oracle="""
    SELECT doc_id,
           array_to_string(list_transform(generate_series(1, 8),
                          i -> CAST(ascii(substr(text, i, 1)) AS INT)), '|') AS features,
           CAST(list_sum(list_transform(generate_series(1, length(text)),
                         i -> ascii(substr(text, i, 1)))) AS BIGINT)      AS byte_sum
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mapInPandas byte features over binary payloads. Oracle-checkable
    # because the fixture corpus is pure ASCII (verified: octet_length ==
    # length for every doc, min length 48 > FEATURE_DIM) — byte values
    # equal character codes. The feature vector is serialized to a
    # '|'-joined int string for the contract (array cells crash
    # driver-style canon; values are exact byte codes so int-stringify is
    # engine-stable); extract_features keeps the array<double> form.
    docs = M.attach_payload(table(spark, sf_dir, "documents"))
    feats = M.extract_features(docs)
    return feats.select(
        "doc_id",
        F.array_join(
            F.transform("features", lambda x: x.cast("int").cast("string")), "|"
        ).alias("features"),
        "byte_sum",
    )


@register(
    "q_dedup_paragraph",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    n AS (SELECT doc_id, t, greatest(CAST(ceil(len(t) / 3.0) AS INT), 1) AS n_chunks FROM tok),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(0, n_chunks - 1),
                    i -> array_to_string(list_slice(t, i * 3 + 1, i * 3 + 3), ' '))) AS chunk_text
      FROM n
    ),
    hh AS (SELECT doc_id, md5(chunk_text) AS h FROM ch),
    cnt AS (SELECT h, count(*) AS c FROM hh GROUP BY h)
    SELECT doc_id,
           CAST(count(*) AS BIGINT)                 AS n_chunks,
           CAST(count(*) FILTER (c > 1) AS BIGINT)  AS n_dup_chunks,
           round(count(*) FILTER (c > 1) * 1.0 / count(*), 6) AS dup_frac
    FROM hh JOIN cnt USING (h) GROUP BY doc_id
    """,
)
def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Paragraph-granularity dup statistics (the CCNet-style signal): cut
    # each doc into fixed token windows, hash them, count occurrences
    # across the WHOLE corpus, report per-doc duplicated fraction. At
    # sf0.01 a third of chunks are corpus-duplicated, so the signal is
    # non-trivial. Cost shape: chunk explode (map-side) + one
    # combiner-friendly count shuffle on the 128-bit hash + broadcast-safe
    # join back + one doc agg — no n², no all-pairs; at 100 TB identical
    # to exact dedup but on chunk keys (~8× the rows, same plan).
    docs = table(spark, sf_dir, "documents")
    ch = TX.chunk_documents(docs, chunk_tokens=3, overlap=0).select(
        "doc_id", F.md5("chunk_text").alias("h")
    )
    cnt = ch.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    return (
        ch.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6).alias("dup_frac"),
        )
    )


@register(
    "q_dedup_paragraph_scrub",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    n AS (SELECT doc_id, t, greatest(CAST(ceil(len(t) / 3.0) AS INT), 1) AS n_chunks FROM tok),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(0, n_chunks - 1),
                    i -> struct_pack(chunk_id := i,
                         txt := array_to_string(list_slice(t, i * 3 + 1, i * 3 + 3), ' ')))) AS c
      FROM n
    ),
    hh AS (SELECT doc_id, c.chunk_id AS chunk_id, c.txt AS txt, md5(c.txt) AS h FROM ch),
    first_owner AS (SELECT h, min(doc_id) AS keeper FROM hh GROUP BY h),
    kept AS (
      SELECT doc_id, chunk_id, txt
      FROM hh JOIN first_owner USING (h)
      WHERE doc_id = keeper
    )
    SELECT doc_id,
           string_agg(txt, ' ' ORDER BY chunk_id) AS scrubbed_text,
           CAST(count(*) AS BIGINT) AS n_kept_chunks
    FROM kept GROUP BY doc_id
    """,
)
def q_dedup_paragraph_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The transform half of paragraph dedup (q_dedup_paragraph is the
    # stats half): drop every chunk whose content already appears in a
    # lower-doc_id document (keep-first canonicalization — deterministic,
    # no RNG), then reassemble each surviving document in chunk order.
    # Docs whose every chunk is owned elsewhere vanish entirely — the
    # oracle's GROUP BY drops them identically. Cost shape: chunk explode
    # + min-owner hash agg + join back + ordered re-agg
    # (sort_array(collect_list(struct))) — two shuffles, no pair
    # expansion, combiner-friendly both times.
    docs = table(spark, sf_dir, "documents")
    ch = TX.chunk_documents(docs, chunk_tokens=3, overlap=0).select(
        "doc_id", "chunk_id", F.col("chunk_text").alias("txt"),
        F.md5("chunk_text").alias("h"),
    )
    first_owner = ch.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    kept = ch.join(first_owner, "h").where(F.col("doc_id") == F.col("keeper"))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_id", "txt"))),
                    lambda s: s.getField("txt"),
                ),
                " ",
            ).alias("scrubbed_text"),
            F.count(F.lit(1)).alias("n_kept_chunks"),
        )
    )


@register(
    "q_shard_assign",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS INT) AS shard
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS INT) AS pos
    FROM h
    """,
)
def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic global shuffle + sharding (the training-ingest
    # terminal op): content-hash shard + md5-ordered within-shard
    # position, reproducible under retries/speculation because nothing
    # draws randomness. One balanced window shuffle; written out with
    # partitionBy(shard) the corpus lands pre-shuffled.
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return SMP.shard_assign(docs, id_col="doc_id", n_shards=16).select(
        "doc_id", "shard", "pos"
    )


@register(
    "q_corpus_budget_select",
    oracle="""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 30000
    """,
)
def q_corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token-budget corpus selection: take documents in priority order
    # (longest-first here; any scoring column slots in) until the
    # cumulative token count hits the budget. The running sum is the
    # two-phase distributed prefix sum (range-partition + local window +
    # broadcast offsets — operators/sampling.budget_select), NOT a
    # single-partition global window: the plan this op must have at
    # 100 TB. Oracle uses the plain global window (fine at oracle scale).
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return SMP.budget_select(
        docs,
        weight_col="n_tokens",
        order_by=[F.col("n_tokens").desc(), F.col("doc_id")],
        budget=30000,
        cum_col="cum_tokens",
    ).select("doc_id", "n_tokens", "cum_tokens")


@register(
    "q_text_strip_markup",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             '<html><body class="' || source || '"><p>' || text || '</p>'
             || CASE WHEN doc_id % 2 = 0
                     THEN '<br/>&amp; &lt;tail&gt;'
                     ELSE '&nbsp;the&#39;end&quot;' END
             || '</body></html>' AS dec
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(dec, '<[^>]+>')) AS BIGINT) AS n_tags,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(dec, '<[^>]+>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             '\\s+', ' ', 'g')) AS clean
    FROM d
    """,
)
def q_text_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HTML/boilerplate removal (web-crawl pass 1): the raw fixture has no
    # markup, so wrap each doc in deterministic tags + entities keyed on
    # doc_id, then strip with operators/text.strip_markup — tag removal,
    # entity decode (&amp; last to avoid double-decode), whitespace
    # collapse. '<[^>]+>' parses identically under Java regex and RE2,
    # so the oracle runs the same chain verbatim. Scan-local, zero
    # shuffle.
    docs = table(spark, sf_dir, "documents")
    decorated = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><body class="'), F.col("source"), F.lit('"><p>'),
            F.col("text"), F.lit("</p>"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("<br/>&amp; &lt;tail&gt;"))
            .otherwise(F.lit("&nbsp;the&#39;end&quot;")),
            F.lit("</body></html>"),
        ).alias("text"),
    )
    return TX.strip_markup(decorated)


@register(
    "q_multimodal_decode",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                           WHEN 2 THEN 'gif' ELSE 'bmp' END AS format,
           CAST(16 + doc_id % 64 AS INT) AS width,
           CAST(16 + doc_id % 48 AS INT) AS height,
           CAST(CASE doc_id % 4 WHEN 0 THEN 33 WHEN 1 THEN 35
                                WHEN 2 THEN 14 ELSE 54 END AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL image header decode, no imaging library: synthesize
    # structurally-valid PNG/JPEG/GIF/BMP bytes per doc (format and
    # dimensions are deterministic functions of doc_id), then parse
    # format/width/height back out of the binary container headers via
    # Arrow-batched mapInPandas (operators/multimodal.py:
    # parse_image_header). Encode and decode are independent code paths;
    # the oracle recomputes the expected values from doc_id arithmetic,
    # so a parser bug (e.g. endianness, JPEG marker walk) fails parity.
    docs = M.attach_image_payload(table(spark, sf_dir, "documents").select("doc_id"))
    return M.decode_headers(docs)


@register(
    "q_multimodal_pixels",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
             CAST(8 + doc_id % 16 AS INT) AS width,
             CAST(8 + doc_id % 12 AS INT) AS height,
             doc_id % 256 AS seed
      FROM documents
    ),
    px AS (
      SELECT d.*, x.x, y.y
      FROM d
      JOIN (SELECT unnest(generate_series(0, 22)) AS x) x ON x.x < d.width
      JOIN (SELECT unnest(generate_series(0, 18)) AS y) y ON y.y < d.height
    )
    SELECT doc_id, format, width, height,
           CAST(sum((7 * x + 13 * y + 0 + seed) % 256) AS BIGINT) AS sum_r,
           CAST(sum((7 * x + 13 * y + 3 + seed) % 256) AS BIGINT) AS sum_g,
           CAST(sum((7 * x + 13 * y + 6 + seed) % 256) AS BIGINT) AS sum_b
    FROM px
    GROUP BY doc_id, format, width, height
    """,
)
def q_multimodal_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL full pixel decode, stdlib only — the last multimodal stub is
    # gone. Per doc: synthesize a true image file (PNG 8-bit RGB whose
    # scanlines cycle through ALL five PNG filter types, or 24bpp
    # bottom-up padded BGR BMP; pixel (x,y,c) = (7x+13y+3c+seed) mod
    # 256), then decode it back — PNG chunk walk → zlib inflate →
    # Sub/Up/Average/Paeth unfiltering; BMP stride/BGR/bottom-up
    # handling — and reduce to exact integer channel sums
    # (operators/multimodal.py: synth_image_rgb / decode_image_pixels /
    # pixel_stats). The oracle recomputes the sums in closed form from
    # doc_id arithmetic, so any decoder bug (filter math, row order,
    # padding, channel swap) breaks parity. Decode runs Arrow-batched in
    # mapInPandas; output is one tiny row per image regardless of pixel
    # count — scan-local, zero shuffle.
    docs = M.attach_pixel_payload(table(spark, sf_dir, "documents").select("doc_id"))
    return M.pixel_stats(docs)


@register(
    "q_multimodal_frame_sample",
    oracle="""
    WITH p AS (SELECT doc_id, text AS payload FROM documents),
    f AS (
      SELECT doc_id, payload,
             unnest(generate_series(0,
               CAST(floor(strlen(payload) / 16) AS INT) - 1, 4)) AS frame_id
      FROM p
    )
    SELECT doc_id, CAST(frame_id AS INT) AS frame_id,
           md5(substring(payload, frame_id * 16 + 1, 16)) AS frame_md5
    FROM f
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyframe-style sampling over a binary stream column: every 4th
    # 16-byte frame's content hash, pure expressions (sequence +
    # binary substring + md5), zero Python and zero shuffle. The fixture
    # corpus is ASCII, so the oracle's VARCHAR substring sees the same
    # bytes the Spark side slices from the true binary payload.
    docs = M.attach_payload(table(spark, sf_dir, "documents"))
    return M.frame_sample(docs, frame_bytes=16, stride=4)


@register("q_scan_text", oracle="SELECT text AS value FROM documents")
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-trip the reference's text-file source (Input.file): write the
    # corpus as text, scan it back as lines.
    path = run_tmp("text_demo")
    docs = table(spark, sf_dir, "documents").select("text")
    docs.write.mode("overwrite").text(path)
    return spark.read.text(path)


@register(
    "q_sink_partitioned",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE lang IN ('en', 'de')
    """,
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partitioned parquet sink + partition-pruned read-back — the 100 TB
    # layout contract: write documents partitioned by lang, then read
    # with a lang predicate; only the matching partition directories are
    # scanned (PartitionFilters in the plan — asserted in
    # tests/test_plans.py::test_sink_partitioned_prunes_partitions).
    # lang is restored to a regular column for the value check (partition
    # columns come back typed-but-reordered; select re-normalizes).
    from trembita_spark.io import write_parquet

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    tmp = run_tmp("part_sink")
    write_parquet(docs, tmp, partition_by=["lang"])
    back = spark.read.parquet(tmp).where(F.col("lang").isin("en", "de"))
    return back.select("doc_id", "lang", "n_chars")


@register(
    "q_sink_compacted",
    oracle="SELECT doc_id, lang, n_chars FROM documents",
)
def q_sink_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Compaction round trip (operators/maintenance.py): fragment the
    # table into 64 small files (the streaming-sink pathology), compact
    # to 4 range-sorted files, read back — content must be bit-identical
    # to the source (compaction is layout-only). File-count and
    # disjoint-min/max layout evidence is asserted from parquet footers
    # in tests/test_operators.py::test_compact_parquet_layout.
    from trembita_spark.operators.maintenance import compact_parquet

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    frag = run_tmp("frag_sink")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    compacted = run_tmp("compact_sink")
    return compact_parquet(spark, frag, compacted, target_files=4, sort_by="n_chars")


@register(
    "q_sink_parquet",
    oracle="""
    SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The read-back must equal what was computed — the round-trip through
    # the partitioned layout is lossless (the partition column comes back
    # from directory names with its original string values).
    # Partitioned sink layout (100 TB posture: partition by a
    # low-cardinality pruning key) + read-back.
    path = run_tmp("sink_demo")
    out = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    out.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    return spark.read.parquet(path)


@register(
    "q_text_chunk",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    n AS (SELECT doc_id, t, greatest(CAST(ceil((len(t) - 4) / 12.0) AS INT), 1) AS n_chunks FROM tok),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(0, n_chunks - 1),
                    i -> struct_pack(chunk_id := i, toks := list_slice(t, i * 12 + 1, i * 12 + 16)))) AS c
      FROM n
    )
    SELECT doc_id,
           CAST(c.chunk_id AS INT)            AS chunk_id,
           array_to_string(c.toks, ' ')       AS chunk_text,
           CAST(len(c.toks) AS INT)           AS n_chunk_tokens
    FROM ch
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token-budgeted chunking (16-token chunks, 4-token overlap) — the
    # LLM-ingest operator; chunk boundaries are pure integer arithmetic.
    return TX.chunk_documents(
        table(spark, sf_dir, "documents"), chunk_tokens=16, overlap=4
    )


@register(
    "q_embedding_stats",
    oracle=f"""
    WITH n AS (SELECT label, {_NORM_SQL} AS norm FROM embeddings)
    SELECT label,
           count(*) AS n_vecs,
           CAST(sum(CAST(norm AS DECIMAL(18,12))) AS DOUBLE) AS norm_sum,
           CAST(sum(CAST(norm AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS mean_norm
    FROM n GROUP BY label
    """,
)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-cluster embedding statistics; norms are full-precision doubles
    # so the sum goes through the decimal trick (discipline rule 4).
    emb = S.with_norm(table(spark, sf_dir, "embeddings"))
    cnt = F.count(F.lit(1))
    dec_sum = F.sum(F.col("norm").cast("decimal(18,12)")).cast("double")
    return emb.groupBy("label").agg(
        cnt.alias("n_vecs"),
        dec_sum.alias("norm_sum"),
        (dec_sum / cnt).alias("mean_norm"),
    )


@register(
    "q_pipeline_clean_corpus",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, lang, source, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS distinct_ratio,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank
      FROM documents
    )
    SELECT doc_id, lang, source, n_tokens, distinct_ratio
    FROM f
    WHERE dup_rank = 1
      AND n_tokens >= 10
      AND distinct_ratio >= 0.3
      AND lang IN ('en', 'de', 'es', 'fr')
    """,
)
def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # End-to-end training-data cleaning pipeline: exact-dedup (keep
    # min-id copy) → length floor → repetition filter → language
    # allowlist. One window + one scan; each stage is a pushdown-friendly
    # expression, so Catalyst fuses the whole policy into the scan.
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("n_tokens", F.size(toks))
        .withColumn("distinct_ratio", F.size(F.array_distinct(toks)) / F.size(toks))
        .withColumn("dup_rank", F.row_number().over(w))
        .filter(
            (F.col("dup_rank") == 1)
            & (F.col("n_tokens") >= 10)
            & (F.col("distinct_ratio") >= 0.3)
            & F.col("lang").isin("en", "de", "es", "fr")
        )
        .select("doc_id", "lang", "source", "n_tokens", "distinct_ratio")
    )


# ---------------------------------------------------------------------------
# Round 3 additions: cluster-resolved dedup, sign-LSH ANN, PII scrub,
# benchmark decontamination
# ---------------------------------------------------------------------------


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT doc_id, {_sh_sql(3)} AS shingles FROM tok),
    sig AS (
      SELECT doc_id, band,
             list_min(list_transform(shingles, s -> substring(md5(concat('g', band // 4, '|', s)), 1 + 8 * (band % 4), 8))) AS sig
      FROM sh, (SELECT unnest([0, 1, 2, 3]) AS band) bands
      WHERE len(shingles) > 0
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node
    ),
    cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id AS doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The full near-dedup DECISION, not just candidates: MinHash+LSH
    # pairs resolved into connected components (distributed min-label
    # propagation, trembita_spark/operators/dedup.py:138), singletons
    # kept as their own cluster. The oracle reproduces the transitive
    # closure with a recursive CTE — an iterative distributed algorithm
    # still hash-checked exactly.
    return D.dedup_clusters(table(spark, sf_dir, "documents"), bands=4, k=3)


_LSH_PLANES = 8


def _lsh_proj_sql(p: int) -> str:
    return (
        "list_reduce(list_transform(generate_series(1, len(embedding)), "
        f"i -> CASE WHEN substr(md5(concat('h{p}|', CAST(i - 1 AS VARCHAR))), 1, 1) < '8' "
        "THEN CAST(embedding[i] AS DOUBLE) ELSE -CAST(embedding[i] AS DOUBLE) END), "
        "(a, b) -> a + b)"
    )


_LSH_SIG_SQL = "concat(" + ", ".join(
    f"CASE WHEN {_lsh_proj_sql(p)} > 0 THEN '1' ELSE '0' END" for p in range(_LSH_PLANES)
) + ")"


@register(
    "q_similarity_lsh",
    oracle=f"""
    WITH s AS (SELECT vec_id, {_LSH_SIG_SQL} AS sig FROM embeddings)
    SELECT vec_id, sig, count(*) OVER (PARTITION BY sig) AS bucket_n FROM s
    """,
)
def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Random-hyperplane (sign) LSH bucketing for cosine ANN: 8
    # deterministic md5-derived ±1 hyperplanes → 8-bit bucket signature
    # per vector + bucket population. Signatures are the partition /
    # pruning key at scale (same posture as IVF cells); projections are
    # sequential double folds so the oracle is bit-exact.
    return S.signlsh_buckets(table(spark, sf_dir, "embeddings"), planes=_LSH_PLANES)


_PII_DECORATED_SQL = """
    concat(
      repeat(concat(source, '.', CAST(doc_id AS VARCHAR), '@mail.example.com '),
             CAST(doc_id % 3 AS INT)),
      CASE WHEN doc_id % 2 = 0
           THEN concat('visit https://example.com/', source, '/', CAST(doc_id AS VARCHAR), ' ')
           ELSE '' END,
      'call 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' ', text)
"""

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_URL = r"https?://[^ ]+"
_PII_PHONE = r"\b555-[0-9]{4}\b"


@register(
    "q_text_pii",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_PII_DECORATED_SQL} AS dec FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(dec, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(dec, '{_PII_URL}')) AS BIGINT) AS n_url,
           CAST(len(regexp_extract_all(dec, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(dec,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_URL}', '<URL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed
    FROM d
    """,
)
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII detect + redact over a deterministically decorated corpus (the
    # raw fixture text contains no PII, so emails/URLs/phones are
    # synthesized per doc_id — 0-2 emails, url on even ids — making the
    # counts non-constant). Pure regexp expressions: scan-local, no
    # shuffle, codegen'd.
    docs = table(spark, sf_dir, "documents")
    decorated = docs.withColumn(
        "dec",
        F.concat(
            F.repeat(
                F.concat(
                    F.col("source"), F.lit("."), F.col("doc_id").cast("string"),
                    F.lit("@mail.example.com "),
                ),
                (F.col("doc_id") % 3).cast("int"),
            ),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit("visit https://example.com/"), F.col("source"),
                    F.lit("/"), F.col("doc_id").cast("string"), F.lit(" "),
                ),
            ).otherwise(F.lit("")),
            F.lit("call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" "), F.col("text"),
        ),
    )
    return TX.pii_scrub(
        decorated, text_col="dec", id_col="doc_id",
        patterns={"email": _PII_EMAIL, "url": _PII_URL, "phone": _PII_PHONE},
    )


@register(
    "q_text_contamination",
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    shl AS (SELECT doc_id, source, {_sh_sql(5)} AS shingles FROM tok),
    ds AS (
      SELECT DISTINCT doc_id, source, md5(sh) AS shash
      FROM (SELECT doc_id, source, unnest(shingles) AS sh FROM shl)
    ),
    bench AS (SELECT DISTINCT shash FROM ds WHERE source = 'src0'),
    corp AS (SELECT doc_id, shash FROM ds WHERE source <> 'src0')
    SELECT c.doc_id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN b.shash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(sum(CASE WHEN b.shash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS BIGINT) AS hit_frac
    FROM corp c LEFT JOIN bench b USING (shash)
    GROUP BY c.doc_id
    """,
)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Benchmark decontamination: fraction of each (non-benchmark) doc's
    # word 5-shingles that appear anywhere in the 'src0' benchmark
    # split. Benchmark shingle-hash set is broadcast; the corpus side is
    # explode → broadcast-join → per-doc re-agg, never shuffled by
    # shingle.
    docs = table(spark, sf_dir, "documents")
    return TX.contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        k=5,
    )


# ---------------------------------------------------------------------------
# Round 3: repetition quality signals, deterministic sampling / mixing
# ---------------------------------------------------------------------------


@register(
    "q_text_repetition",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bgr AS (
      SELECT doc_id, l,
             list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1]) AS bg
      FROM t
    ),
    per_row AS (
      SELECT doc_id, CAST(len(l) AS INT) AS n_tokens,
             CASE WHEN len(l) - 1 > 0 THEN
               1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / (len(l) - 1)
             END AS dup_bigram_frac
      FROM bgr
    ),
    cnt AS (
      SELECT doc_id, tok, count(*) AS c
      FROM (SELECT doc_id, unnest(l) AS tok FROM t)
      GROUP BY doc_id, tok
    ),
    top AS (
      SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_token_share
      FROM cnt GROUP BY doc_id
    )
    SELECT per_row.doc_id, n_tokens, dup_bigram_frac, top_token_share
    FROM per_row JOIN top USING (doc_id)
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition filters: duplicate-bigram fraction (pure
    # per-row HOF, zero shuffle) + top-token share (explode + two
    # partial-friendly aggs). Integer-ratio arithmetic → bit-exact.
    return TX.repetition_signals(table(spark, sf_dir, "documents"))


@register(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ) t
    WHERE rn <= ceil(n * 0.1)
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT 10%-per-language sample, md5-rank selection: deterministic
    # (retry/partitioning-independent — no RNG, unlike sampleBy), quota
    # met exactly per stratum. Ranks ride the distributed prefix sum
    # over the (lang, md5, id) range order — no |langs|-task window.
    from trembita_spark.operators.sampling import stratified_sample

    docs = table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "doc_id", 0.1).select(
        "doc_id", "lang", "source"
    )


_MIX_RATES_SQL = (
    "CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 50 ELSE 100 END"
)


@register(
    "q_corpus_mix",
    oracle=f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             {_HEX60.format(md5="md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
      FROM documents
    ) t
    WHERE bucket < {_MIX_RATES_SQL}
    """,
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic weighted corpus blending (training-mixture op):
    # src0 keeps 10%, src1 keeps 50%, everything else passes through.
    # Content-hash bucketing → shuffle-free map-side filter; the same
    # rows survive at any scale factor and under any retry.
    from trembita_spark.operators.sampling import weighted_mix

    docs = table(spark, sf_dir, "documents")
    return weighted_mix(docs, "source", "doc_id", {"src0": 10, "src1": 50}).select(
        "doc_id", "source"
    )


@register(
    "q_text_gini",
    oracle="""
    WITH cnt AS (
      SELECT doc_id, tok, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(sum(c * c) AS BIGINT)                          AS sq_sum,
           CAST(sum(c) AS BIGINT)                              AS n_tokens,
           1.0 - CAST(sum(c * c) AS DOUBLE) / (sum(c) * sum(c)) AS gini_diversity
    FROM cnt GROUP BY doc_id
    """,
)
def q_text_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token-diversity quality signal: Gini impurity 1 - Σp² (≈ how close
    # the token distribution is to degenerate). Deliberately Gini, NOT
    # Shannon entropy: entropy needs ln and JVM-vs-glibc libm differs by
    # 1 ulp (parity rule 7); Gini is pure integer-ratio arithmetic →
    # bit-exact. One explode + two partial-friendly aggs on doc_id.
    docs = table(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sq = F.sum(F.col("c") * F.col("c"))
    tot = F.sum("c")
    return cnt.groupBy("doc_id").agg(
        sq.alias("sq_sum"),
        tot.alias("n_tokens"),
        (F.lit(1.0) - sq.cast("double") / (tot * tot)).alias("gini_diversity"),
    )


def _bigrams(spark: SparkSession, sf_dir: str, *keep: str) -> DataFrame:
    """The corpus's bigram positions ``(*keep, w1, w2)``. Each document
    is split once into a materialized array that ``TX.bigram_structs``
    zips two slices of (an inline-split HOF would re-split the string
    per element, and interpreted lambdas get no codegen). The spread
    fans the single-split local scan across cores (no-op at production
    split counts)."""
    docs = table(spark, sf_dir, "documents")
    return (
        spread_scan(docs.select("doc_id", "text"), "doc_id")
        .select(*keep, F.split(F.col("text"), " ").alias("__toks"))
        .select(*keep, F.explode(TX.bigram_structs(F.col("__toks"))).alias("b"))
        .select(*keep, "b.w1", "b.w2")
    )


def _bigram_lm(bg: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The count-based bigram LM over the positions ``bg``: ``(w1, w2,
    c12)`` checkpointed eagerly (one corpus pass feeds the LM and the
    caller's join back to the positions) and the first-slot margin
    ``(w1, c1)``."""
    bc = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    return bc, bc.groupBy("w1").agg(F.sum("c12").alias("c1"))


@register(
    "q_text_bigram_lm",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(1, len(l)), i -> l[i])) AS w1,
             unnest(list_transform(range(1, len(l)), i -> l[i + 1])) AS w2
      FROM t
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    uc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1)
    SELECT bc.w1, bc.w2, CAST(bc.c12 AS BIGINT) AS c12,
           CAST(uc.c1 AS BIGINT) AS c1,
           CAST(bc.c12 AS DOUBLE) / uc.c1 AS p_next
    FROM bc JOIN uc USING (w1)
    WHERE bc.c12 >= 5
    """,
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus bigram statistics with conditional next-token probability
    # p(w2|w1) = c(w1,w2)/c(w1) — the classic count-based LM table
    # (and the data half of pointwise-mutual-information). Rational
    # arithmetic only; two partial-agg groupBys + one join on w1 (the
    # unigram side is vocabulary-sized → broadcast at scale).
    bigrams = _bigrams(spark, sf_dir)
    bc = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uc = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        bc.join(F.broadcast(uc), "w1")
        .where(F.col("c12") >= 5)
        .select(
            "w1", "w2", "c12", "c1",
            (F.col("c12").cast("double") / F.col("c1")).alias("p_next"),
        )
    )


@register(
    "q_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, source, n_tok,
           CAST(floor((cum - n_tok) / 2048) AS BIGINT) AS pack_id,
           CAST((cum - n_tok) % 2048 AS BIGINT)        AS pack_offset
    FROM c
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sequence packing for training batches: documents are concatenated
    # per source shard in doc_id order into a contiguous token stream cut
    # every 2048 tokens (the GPT-style concat-and-chunk regime; a doc
    # knows its pack and intra-pack offset, crossing docs span packs).
    # Scale shape: `source` has only a HANDFUL of distinct values, so a
    # window partitioned by it would funnel a whole shard (25 TB at
    # 100 TB / 4 sources) through one task — the low-cardinality window
    # the repo's audit bans (the weighted-median lesson). Instead the
    # running token count rides the DISTRIBUTED two-phase prefix sum
    # over the global (source, doc_id) range-partitioned order; each
    # source's rows are contiguous in that order, so the within-source
    # cumulative is global_cum minus the source's starting offset,
    # recovered from a per-source MIN(gcum - n_tok) aggregate broadcast
    # back. (min() equals the source's first-row offset only because
    # gcum is monotone under the order, i.e. n_tok >= 0 — guaranteed
    # here: token counts are >= 1.)
    from trembita_spark.operators.ranking import prefix_sum

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    c = prefix_sum(
        t, "n_tok", order_by=[F.col("source"), F.col("doc_id")], name="gcum"
    )
    per_src = c.groupBy("source").agg(
        F.min(F.col("gcum") - F.col("n_tok")).alias("__src_off")
    )
    c = c.join(F.broadcast(per_src), "source")
    start = F.col("gcum") - F.col("n_tok") - F.col("__src_off")
    return c.select(
        "doc_id",
        "source",
        "n_tok",
        F.floor(start / 2048).cast("long").alias("pack_id"),
        (start % 2048).cast("long").alias("pack_offset"),
    )


_KM_DIST = """list_reduce(list_transform(generate_series(1, 64),
               i -> (CAST({v}[i] AS DOUBLE) - {c}[i]) * (CAST({v}[i] AS DOUBLE) - {c}[i])),
               (x, y) -> x + y)"""


def _km_round(cent: str, s: str, a: str) -> str:
    """One unrolled k-means round: score vs ``cent``, argmin-assign."""
    d = _KM_DIST.format(v="e.embedding", c="c.c")
    return f"""
    {s} AS (
      SELECT e.vec_id, c.cluster, {d} AS d
      FROM embeddings e CROSS JOIN {cent} c
    ),
    {a} AS (
      SELECT vec_id, cluster, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS r
        FROM {s}
      ) WHERE r = 1
    )"""


def _km_update(a: str, cent_long: str, cent: str) -> str:
    """Decimal-exact centroid means from assignment ``a``."""
    return f"""
    {cent_long} AS (
      SELECT a.cluster, i,
             CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 16777216.0) AS BIGINT)) AS DOUBLE)
               / count(*) / 16777216.0 AS m
      FROM {a} a JOIN embeddings e USING (vec_id),
           (SELECT unnest(generate_series(1, 64)) AS i) dims
      GROUP BY a.cluster, i
    ),
    {cent} AS (SELECT cluster, list(m ORDER BY i) AS c FROM {cent_long} GROUP BY cluster)"""


_KMEANS_ORACLE = f"""
    WITH c0 AS (
      SELECT vec_id AS cluster, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
      FROM embeddings WHERE vec_id < 8
    ),{_km_round("c0", "s1", "a1")},{_km_update("a1", "m1", "c1")},
    {_km_round("c1", "s2", "a2")},{_km_update("a2", "m2", "c2")},
    {_km_round("c2", "s3", "a3")}
    SELECT vec_id, cluster, round(d, 6) AS dist FROM a3
"""


_SEMDEDUP_ORACLE = f"""
    WITH c0 AS (
      SELECT vec_id AS cluster, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
      FROM embeddings WHERE vec_id < 8
    ),{_km_round("c0", "s1", "a1")},{_km_update("a1", "m1", "c1")},
    {_km_round("c1", "s2", "a2")},{_km_update("a2", "m2", "c2")},
    {_km_round("c2", "s3", "a3")},
    n AS (
      SELECT e.vec_id, a.cluster, e.embedding, {_NORM_SQL} AS norm
      FROM embeddings e JOIN a3 a USING (vec_id)
    ),
    close_pairs AS (
      SELECT a.vec_id AS keep_id, b.vec_id AS drop_id
      FROM n a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {_PAIR_DOT_SQL} / (a.norm * b.norm) >= 0.32
    )
    SELECT drop_id AS vec_id,
           CAST(min(keep_id) AS BIGINT) AS keeper,
           CAST(count(*) AS BIGINT)     AS n_close
    FROM close_pairs GROUP BY drop_id
"""


@register("q_dedup_semantic", oracle=_SEMDEDUP_ORACLE)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDedup (Abbas et al. 2023, public): coarse k-means clustering,
    # then within-cluster cosine pruning — composes the two verified
    # stages (q_cluster_kmeans + cosine_pairs_within) into the published
    # pipeline. A document is dropped when a lower-id cluster-mate sits
    # above the similarity threshold; output is the drop list with its
    # keeper (min id — deterministic) and close-neighbor count, all
    # integers so no float parity surface. Scale: clustering never
    # shuffles the corpus (broadcast centroids); pair work is per-cluster
    # squared, never corpus squared — the blocking IS the point of the
    # coarse stage.
    emb = table(spark, sf_dir, "embeddings")
    assigned = S.kmeans(emb, k=8, iters=2).select("vec_id", "cluster")
    clustered = emb.drop("label").join(assigned, "vec_id")
    pairs = S.cosine_pairs_within(clustered, group_col="cluster", threshold=0.32)
    return (
        pairs.groupBy(F.col("vec_b").alias("vec_id"))
        .agg(
            F.min("vec_a").cast("long").alias("keeper"),
            F.count(F.lit(1)).alias("n_close"),
        )
    )


@register("q_cluster_kmeans", oracle=_KMEANS_ORACLE)
def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distributed k-means (k=8, 2 assign/update rounds + final assign)
    # over the embeddings corpus — the coarse-clustering stage SemDedup /
    # IVF-index builds run before within-cluster dedup. Assignments are
    # bit-exact across engines (sequential-fold distances, id-tiebroken
    # argmin; the oracle unrolls the same two rounds as CTE stages);
    # the reported distance rounds to 6 because centroid MEANS pass
    # through a double→decimal(18,12) cast whose last digit can differ
    # 1 ulp between engines for arbitrary doubles (graph.py provenance
    # note) — ~1e-9 drift vs a 5e-7 half-grid (parity rule 5). Per round
    # the corpus never shuffles — assignment is a k-centroid broadcast,
    # the update a (cluster, dim) partial agg.
    return S.kmeans(table(spark, sf_dir, "embeddings"), k=8, iters=2).select(
        "vec_id", "cluster", F.round("d", 6).alias("dist")
    )


# ---------------------------------------------------------------------------
# Data layout: Z-order clustering
# ---------------------------------------------------------------------------

# The oracle replays the exact integer construction (16-bit bucketize by
# integer division, magic-number bit spread, interleave) stage by stage;
# every op is 64-bit integer arithmetic, so parity is bit-exact.
_ZORDER_ORACLE = """
WITH s AS (
  SELECT min(l_partkey) AS xmin, max(l_partkey) AS xmax,
         min(l_suppkey) AS ymin, max(l_suppkey) AS ymax
  FROM lineitem
),
b AS (
  SELECT l_orderkey, l_linenumber,
         (l_partkey - xmin) * 65536 // (xmax - xmin + 1) AS xs,
         (l_suppkey - ymin) * 65536 // (ymax - ymin + 1) AS ys
  FROM lineitem CROSS JOIN s
),
p1 AS (SELECT l_orderkey, l_linenumber,
        ((xs | (xs << 8)) & 16711935) AS xs,
        ((ys | (ys << 8)) & 16711935) AS ys FROM b),
p2 AS (SELECT l_orderkey, l_linenumber,
        ((xs | (xs << 4)) & 252645135) AS xs,
        ((ys | (ys << 4)) & 252645135) AS ys FROM p1),
p3 AS (SELECT l_orderkey, l_linenumber,
        ((xs | (xs << 2)) & 858993459) AS xs,
        ((ys | (ys << 2)) & 858993459) AS ys FROM p2),
p4 AS (SELECT l_orderkey, l_linenumber,
        ((xs | (xs << 1)) & 1431655765) AS xs,
        ((ys | (ys << 1)) & 1431655765) AS ys FROM p3)
SELECT l_orderkey, l_linenumber, (xs | (ys << 1)) AS zval FROM p4
"""


@register("q_layout_zorder", oracle=_ZORDER_ORACLE)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Z-order (Morton) clustering key over (l_partkey, l_suppkey) —
    # the multi-dimensional data-layout op (operators/layout.py). At
    # 100 TB the writer range-sorts by this value so parquet row-group
    # min/max stats become tight rectangles in BOTH dimensions and
    # point/range predicates on either column prune most of the scan
    # (evidence: tests/test_operators.py::test_zorder_layout_prunes_both_dims
    # measures per-file footer extents vs a single-column sort). The
    # z-value itself is pure 64-bit integer expression work — one
    # broadcast of a 4-number stats row, zero data shuffles.
    from trembita_spark.operators.layout import with_zvalue

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return with_zvalue(li, "l_partkey", "l_suppkey").select(
        "l_orderkey", "l_linenumber", "zval"
    )


@register(
    "q_dedup_incremental",
    oracle=f"""
    WITH batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
    corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
    ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
    bex AS (SELECT DISTINCT doc_id FROM batch WHERE md5(text) IN (SELECT h FROM ch)),
    btok AS (SELECT doc_id, string_split(text, ' ') AS t FROM batch),
    bsh AS (SELECT doc_id, {_sh_sql(3)} AS shingles FROM btok),
    bsig AS (
      SELECT doc_id, band,
             list_min(list_transform(shingles, s -> substring(md5(concat('g', band // 4, '|', s)), 1 + 8 * (band % 4), 8))) AS sig
      FROM bsh, (SELECT unnest([0, 1, 2, 3]) AS band) bands
      WHERE len(shingles) > 0
    ),
    ctok AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    csh AS (SELECT doc_id, {_sh_sql(3)} AS shingles FROM ctok),
    csig AS (
      SELECT DISTINCT band,
             list_min(list_transform(shingles, s -> substring(md5(concat('g', band // 4, '|', s)), 1 + 8 * (band % 4), 8))) AS sig
      FROM csh, (SELECT unnest([0, 1, 2, 3]) AS band) bands
      WHERE len(shingles) > 0
    ),
    bnear AS (
      SELECT DISTINCT b.doc_id
      FROM bsig b JOIN csig c ON b.band = c.band AND b.sig = c.sig
    )
    SELECT b.doc_id,
           b.doc_id IN (SELECT doc_id FROM bex)  AS exact_dup,
           b.doc_id IN (SELECT doc_id FROM bnear) AS near_dup,
           NOT (b.doc_id IN (SELECT doc_id FROM bex)
                OR b.doc_id IN (SELECT doc_id FROM bnear)) AS admitted
    FROM batch b
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental (batch-vs-corpus) dedup — operators/dedup.py
    # incremental_dedup docstring has the 100 TB story: the corpus
    # collapses to a persistable hash/bucket index, probes are semi
    # joins ∝ |batch|. Here the fixture plays both roles via a
    # deterministic doc_id split (≈1/7 of documents arrive as the new
    # batch).
    docs = table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    return D.incremental_dedup(batch, corpus)


def incremental_corpus_admitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-sink half of q_pipeline_incremental_corpus: today's batch
    (doc_id % 7 == 0) admission-controlled against the existing corpus
    by incremental_dedup, joined back to its payload columns. Factored
    out so tests/test_plans.py can assert the INGEST plan shape (no
    cartesian, probe shuffles ∝ batch) independently of the sink."""
    docs = table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    verdicts = D.incremental_dedup(batch, corpus)
    return (
        batch.select("doc_id", "source", "n_chars")
        .join(verdicts.where(F.col("admitted")).select("doc_id"), "doc_id")
        .withColumn("ingest_batch", F.lit(1).cast("bigint"))
    )


_INC_SEQ = __import__("itertools").count()


@register(
    "q_pipeline_incremental_corpus",
    oracle=f"""
    WITH batch AS (SELECT doc_id, text, source, n_chars FROM documents WHERE doc_id % 7 = 0),
    corpus AS (SELECT doc_id, text, source, n_chars FROM documents WHERE doc_id % 7 <> 0),
    ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
    bex AS (SELECT DISTINCT doc_id FROM batch WHERE md5(text) IN (SELECT h FROM ch)),
    btok AS (SELECT doc_id, string_split(text, ' ') AS t FROM batch),
    bsh AS (SELECT doc_id, {{_SH3}} AS shingles FROM btok),
    bsig AS (
      SELECT doc_id, band,
             list_min(list_transform(shingles, s -> substring(md5(concat('g', band // 4, '|', s)), 1 + 8 * (band % 4), 8))) AS sig
      FROM bsh, (SELECT unnest([0, 1, 2, 3]) AS band) bands
      WHERE len(shingles) > 0
    ),
    ctok AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    csh AS (SELECT doc_id, {{_SH3}} AS shingles FROM ctok),
    csig AS (
      SELECT DISTINCT band,
             list_min(list_transform(shingles, s -> substring(md5(concat('g', band // 4, '|', s)), 1 + 8 * (band % 4), 8))) AS sig
      FROM csh, (SELECT unnest([0, 1, 2, 3]) AS band) bands
      WHERE len(shingles) > 0
    ),
    bnear AS (
      SELECT DISTINCT b.doc_id
      FROM bsig b JOIN csig c ON b.band = c.band AND b.sig = c.sig
    ),
    admitted AS (
      SELECT * FROM batch
      WHERE doc_id NOT IN (SELECT doc_id FROM bex)
        AND doc_id NOT IN (SELECT doc_id FROM bnear)
    )
    SELECT * FROM (
      SELECT FALSE AS from_batch,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM corpus HAVING count(*) > 0
      UNION ALL
      SELECT TRUE AS from_batch,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM admitted HAVING count(*) > 0
    )
    """.replace("{_SH3}", _sh_sql(3)),
)
def q_pipeline_incremental_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The composite bronze->silver INGESTION cycle a 100 TB corpus
    # actually runs daily, chaining three lanes that each have their own
    # key (round-11 verdict item 6) into ONE oracle over the final
    # table: (1) the silver catalog table holds the existing corpus at
    # the ORIGINAL schema; (2) the table is schema-EVOLVED with an
    # ingest_batch lineage column (ALTER TABLE ADD COLUMNS — metadata
    # only, no rewrite; q_catalog_schema_evolution's lane); (3) today's
    # batch is admission-controlled against the corpus by incremental
    # MinHash dedup (q_dedup_incremental's lane — probe shuffles are
    # semi joins ∝ |batch|, never ∝ corpus); (4) the admitted rows are
    # MERGED idempotently (left_anti on doc_id + append,
    # q_stream_sink_idempotent's lane) and the SAME batch is delivered
    # TWICE — the rewind/retry worst case. The read-back aggregate
    # groups on exactly the old-file/new-file split (old files
    # back-fill ingest_batch as NULL), so a duplicate admission, a
    # lost row, a back-fill bug, or a dedup divergence all break the
    # value hash. At 100 TB the target scan inside the anti join is
    # bounded by key partitioning / file skipping in a table format;
    # the SEMANTICS pinned here are identical.
    t = f"inc_corpus_{next(_INC_SEQ)}"
    base = run_tmp("inc_corpus")
    docs = table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    try:
        (
            corpus.select("doc_id", "source", "n_chars")
            .write.option("path", f"{base}/{t}")
            .mode("overwrite")
            .saveAsTable(t)
        )
        spark.sql(f"ALTER TABLE {t} ADD COLUMNS (ingest_batch BIGINT)")
        admitted = incremental_corpus_admitted(spark, sf_dir).localCheckpoint(
            eager=True
        )
        for _ in range(2):  # second delivery must merge to a no-op
            existing = spark.table(t).select("doc_id")
            delta = admitted.join(existing, "doc_id", "left_anti")
            # break lineage so the append never reads its own target
            delta = delta.localCheckpoint(eager=True)
            delta.write.mode("append").saveAsTable(t)
        res = (
            spark.table(t)
            .groupBy(F.col("ingest_batch").isNotNull().alias("from_batch"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
                F.countDistinct("source").cast("bigint").alias("n_sources"),
            )
        )
        return res.localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


# ---------------------------------------------------------------------------
# Product quantization (PQ-ADC) — generated per-subspace oracle
# ---------------------------------------------------------------------------

def _pq_dist_sql(v: str, c: str, off: int, dsub: int) -> str:
    """Squared-L2 fold between ``v``'s subvector at ``off`` and the
    dsub-long centroid list ``c`` — same left fold as _KM_DIST."""
    t = f"(CAST({v}[i + {off}] AS DOUBLE) - {c}[i])"
    return (
        f"list_reduce(list_transform(generate_series(1, {dsub}), "
        f"i -> {t} * {t}), (x, y) -> x + y)"
    )


def _pq_sub_sql(j: int, dsub: int, ksub: int) -> str:
    """One subspace's codebook training (1 Lloyd round) + final encode,
    as CTE stages — the per-subspace unroll of the q_cluster_kmeans
    oracle with sliced dims."""
    off = j * dsub
    d0 = _pq_dist_sql("e.embedding", "c.c", off, dsub)
    return f"""
    c{j}0 AS (
      SELECT vec_id AS cluster,
             list_transform(list_slice(embedding, {off + 1}, {off + dsub}),
                            x -> CAST(x AS DOUBLE)) AS c
      FROM embeddings WHERE vec_id < {ksub}
    ),
    s{j}1 AS (
      SELECT e.vec_id, c.cluster, {d0} AS d
      FROM embeddings e CROSS JOIN c{j}0 c
    ),
    a{j}1 AS (
      SELECT vec_id, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS r
        FROM s{j}1
      ) WHERE r = 1
    ),
    m{j} AS (
      SELECT a.cluster, i,
             CAST(sum(CAST(floor(CAST(e.embedding[i + {off}] AS DOUBLE) * 16777216.0) AS BIGINT)) AS DOUBLE)
               / count(*) / 16777216.0 AS m
      FROM a{j}1 a JOIN embeddings e USING (vec_id),
           (SELECT unnest(generate_series(1, {dsub})) AS i) dims
      GROUP BY a.cluster, i
    ),
    c{j}1 AS (SELECT cluster, list(m ORDER BY i) AS c FROM m{j} GROUP BY cluster),
    s{j}2 AS (
      SELECT e.vec_id, c.cluster, {d0.replace(f'c{j}0', f'c{j}1')} AS d
      FROM embeddings e CROSS JOIN c{j}1 c
    ),
    a{j}2 AS (
      SELECT vec_id, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS r
        FROM s{j}2
      ) WHERE r = 1
    ),
    dt{j} AS (
      SELECT q.vec_id AS query_id, {j} AS sub, c.cluster AS code,
             {_pq_dist_sql("q.embedding", "c.c", off, dsub)} AS contrib
      FROM (SELECT * FROM embeddings WHERE vec_id < 5) q CROSS JOIN c{j}1 c
    )"""


_PQ_M, _PQ_DSUB, _PQ_KSUB = 4, 16, 8
_PQ_ORACLE = (
    "WITH "
    + ",".join(_pq_sub_sql(j, _PQ_DSUB, _PQ_KSUB) for j in range(_PQ_M))
    + ",\n    codes AS ("
    + " UNION ALL ".join(
        f"SELECT vec_id, {j} AS sub, cluster AS code FROM a{j}2" for j in range(_PQ_M)
    )
    + "),\n    dtab AS ("
    + " UNION ALL ".join(f"SELECT * FROM dt{j}" for j in range(_PQ_M))
    + f"""),
    scored AS (
      SELECT d.query_id, co.vec_id,
             CAST(sum(CAST(d.contrib AS DECIMAL(18,12))) AS DOUBLE) AS adist,
             count(*) AS nsub
      FROM codes co JOIN dtab d ON d.sub = co.sub AND d.code = co.code
      WHERE co.vec_id <> d.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id, round(adist, 6) AS adist, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rank
      FROM scored WHERE nsub = {_PQ_M}
    ) WHERE rank <= 5
    """
)


@register("q_similarity_pq", oracle=_PQ_ORACLE)
def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Product-quantization ANN (operators/similarity.py pq_index /
    # pq_topk): per-subspace codebooks compress each 64-float vector to
    # 4 code ids; queries score the whole corpus through a broadcast
    # (sub, code) → partial-distance table — asymmetric distance
    # computation, no full-precision vectors at query time. The oracle
    # replays all four subspace trainings + the ADC sum stage for stage.
    # Quality (recall + shortlist-refine) is pinned separately in
    # tests/test_operators.py::test_pq_recall_and_refine at richer
    # parameters; this key pins bit-level parity of the construction.
    emb = table(spark, sf_dir, "embeddings")
    return S.pq_topk(
        emb, emb.filter("vec_id < 5"), dim=64, k=5,
        m=_PQ_M, ksub=_PQ_KSUB, iters=1,
    )


@register(
    "q_text_collocations",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(1, len(l)), i -> l[i])) AS w1,
             unnest(list_transform(range(1, len(l)), i -> l[i + 1])) AS w2
      FROM t
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    lc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1),
    rc AS (SELECT w2, sum(c12) AS c2 FROM bc GROUP BY w2),
    nn AS (SELECT sum(c12) AS n FROM bc)
    SELECT bc.w1, bc.w2, CAST(bc.c12 AS BIGINT) AS c12,
           round(ln((CAST(bc.c12 AS DOUBLE) * n) / (CAST(c1 AS DOUBLE) * c2)), 6) AS pmi
    FROM bc JOIN lc USING (w1) JOIN rc USING (w2), nn
    WHERE bc.c12 >= 5
    """,
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Collocation mining by pointwise mutual information: PMI(w1,w2) =
    # ln(p(w1,w2) / (p(w1)·p(w2))) over bigram positions — the standard
    # corpus-linguistics ranking of "words that travel together".
    # Margins c1/c2 are computed FROM the bigram table (sum over the
    # other slot), so joint and marginals share one N by construction.
    # Plan: one explode + one bigram groupBy; both margins are
    # re-aggregations of the (already tiny) bigram-count table, joined
    # back broadcast; N is a single-row broadcast. The corpus is
    # touched ONCE at 100 TB. ln() may differ by 1 ulp across engines
    # (parity rule 5) → round 6.
    bigrams = _bigrams(spark, sf_dir)
    # Materialize the (tiny, vocab²-bounded) bigram-count table once:
    # Catalyst does not share a common subtree across the four readers,
    # so without the cut the corpus would be scanned + exploded +
    # re-aggregated per margin — 4 scans instead of 1.
    bc = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    lc = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    rc = bc.groupBy("w2").agg(F.sum("c12").alias("c2"))
    nn = bc.agg(F.sum("c12").alias("n"))
    return (
        bc.join(F.broadcast(lc), "w1")
        .join(F.broadcast(rc), "w2")
        .crossJoin(F.broadcast(nn))
        .where(F.col("c12") >= 5)
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    (F.col("c12").cast("double") * F.col("n"))
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


@register(
    "q_embedding_covariance",
    oracle="""
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    x AS (
      SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS xv
      FROM embeddings, dims
    ),
    firsts AS (SELECT dim, sum(xv) AS s FROM x GROUP BY dim),
    seconds AS (
      SELECT a.dim AS j, b.dim AS k, sum(a.xv * b.xv) AS s_jk, count(*) AS n
      FROM x a JOIN x b USING (vec_id)
      WHERE a.dim <= b.dim
      GROUP BY a.dim, b.dim
    )
    SELECT j, k,
           round((s_jk - fj.s * fk.s / n) / (n - 1), 6) + 0.0 AS cov
    FROM seconds
    JOIN firsts fj ON fj.dim = j
    JOIN firsts fk ON fk.dim = k
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-pass sample covariance of the 64-dim embedding column
    # (operators/linalg.py: covariance_matrix — the moment pass PCA and
    # whitening build on). Spark expands each row's d² products
    # MAP-SIDE via nested transform and ships one partial-aggregated
    # shuffle of d²=4096 groups — N never self-joins; the oracle uses
    # the opposite (join-based) formulation, so parity also
    # cross-checks the expansion against an independent shape. Sums
    # are merge-order floats → round 6 (rule 5).
    from trembita_spark.operators.linalg import covariance_matrix

    emb = table(spark, sf_dir, "embeddings")
    cov = covariance_matrix(emb, "embedding")
    # "+ 0.0" both sides: round() can yield IEEE -0.0 in one engine
    # and +0.0 in the other for tiny negatives; adding positive zero
    # canonicalizes the sign bit.
    return cov.select("j", "k", (F.round("cov", 6) + F.lit(0.0)).alias("cov"))


@register(
    "q_text_perplexity",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l)), i -> l[i])) AS w1,
             unnest(list_transform(range(1, len(l)), i -> l[i + 1])) AS w2
      FROM t
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    uc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-avg(ln(CAST(c12 AS DOUBLE) / c1)), 6) AS avg_nll
    FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1)
    GROUP BY doc_id
    """,
)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-document perplexity under the corpus's own bigram LM — the
    # classic LM-quality filter for training data (documents whose
    # average negative log-likelihood is an outlier are boilerplate or
    # garbage). p(w2|w1) = c12/c1 from the corpus bigram counts; score =
    # −avg ln p over the doc's bigram positions. Single-token docs have
    # no bigrams and drop out (same as the oracle's join semantics).
    # Plan: one explode pass keeps doc_id; the LM is a re-aggregation of
    # the bigram table joined back on (w1, w2) — at 100 TB that's one
    # shuffle of bigram positions, and AQE broadcasts the LM side when
    # the vocabulary is small. ln-sum is merge-order float → round 6.
    bg = _bigrams(spark, sf_dir, "doc_id")
    bc, uc = _bigram_lm(bg)
    return (
        bg.join(bc, ["w1", "w2"])
        .join(F.broadcast(uc), "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                -F.avg(F.log(F.col("c12").cast("double") / F.col("c1"))), 6
            ).alias("avg_nll"),
        )
    )


@register(
    "q_dedup_containment",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    shl AS (SELECT doc_id, {_sh_sql(4)} AS shingles FROM tok),
    ds AS (SELECT DISTINCT doc_id, unnest(shingles) AS sh FROM shl),
    dsf AS (SELECT doc_id, sh FROM ds WHERE md5(sh) < '2'),
    sz AS (SELECT doc_id, count(*) AS sz FROM dsf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM dsf a JOIN dsf b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter, cont_ab, cont_ba FROM (
      SELECT doc_a, doc_b, inter,
             inter / sa.sz AS cont_ab,
             inter / sb.sz AS cont_ba
      FROM inter
      JOIN sz sa ON sa.doc_id = doc_a
      JOIN sz sb ON sb.doc_id = doc_b
    ) WHERE greatest(cont_ab, cont_ba) >= 0.5
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Asymmetric containment dedup (operators/dedup.py:
    # containment_pairs): |A∩B|/|A| in both directions over the same
    # deterministic shingle sample the Jaccard key uses — catches a
    # short document quoted inside a long one, which Jaccard's union
    # denominator suppresses. Division is exact-int/exact-int per row.
    return D.containment_pairs(
        table(spark, sf_dir, "documents"), k=4, sample_prefix="2",
        min_containment=0.5,
    )


@register(
    "q_multimodal_audio",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(32 + doc_id % 64 AS INT) AS n_samples,
             doc_id % 509 AS seed
      FROM documents
    ),
    s AS (
      SELECT d.doc_id, d.n_samples, d.seed, i.i,
             (7 * i.i + seed) % 2048 - 1024 AS x,
             CASE WHEN i.i > 0
                  THEN (7 * (i.i - 1) + seed) % 2048 - 1024 END AS xp
      FROM d JOIN (SELECT unnest(generate_series(0, 95)) AS i) i
        ON i.i < d.n_samples
    )
    SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
           n_samples,
           CAST(sum(x * x) AS BIGINT) AS energy,
           CAST(count(*) FILTER (xp IS NOT NULL AND (xp < 0) <> (x < 0)) AS INT)
             AS zero_crossings
    FROM s
    GROUP BY doc_id, n_samples
    """,
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL audio decode, stdlib only (operators/multimodal.py:
    # synth_wav / decode_wav / audio_features): per doc a true
    # RIFF/WAVE 16-bit PCM file (sawtooth samples from doc_id
    # arithmetic) is synthesized, chunk-walked back — fmt parse, even-
    # length chunk padding, little-endian sample unpack — and reduced
    # to exact integer features (energy = Σx², zero crossings). The
    # oracle recomputes the features in closed form from the sample
    # formula, so any decoder bug (chunk walk, endianness, fmt
    # validation) breaks value parity. Completes the multimodal
    # surface: image pixels (q_multimodal_pixels), audio samples
    # (here), video keyframes (q_multimodal_frame_sample).
    docs = M.attach_audio_payload(table(spark, sf_dir, "documents").select("doc_id"))
    return M.audio_features(docs)


@register(
    "q_scan_binaryfile",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                           WHEN 2 THEN 'gif' ELSE 'bmp' END AS format,
           CAST(16 + doc_id % 64 AS INT) AS width,
           CAST(16 + doc_id % 48 AS INT) AS height
    FROM documents
    WHERE doc_id < 40
    """,
)
def q_scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The real multimodal INGESTION path: a directory of image files
    # read through Spark's binaryFile source (path, length, content) —
    # this is how image/audio corpora actually enter a 100 TB pipeline
    # (many files → one binary column), vs the synthesized-column
    # adapters the other multimodal keys use. Filenames carry the id;
    # headers are decoded from the scanned bytes and checked against
    # the closed-form oracle. Fixture prep (writing the 40 files) is
    # driver-side setup, not the measured operator; at scale the files
    # already exist in object storage.
    import os

    from trembita_spark.operators.multimodal import synth_image

    path = run_tmp("binaryfile_demo")
    os.makedirs(path, exist_ok=True)
    fmts = ["png", "jpeg", "gif", "bmp"]
    for i in range(40):
        with open(f"{path}/img_{i:05d}.bin", "wb") as f:
            f.write(synth_image(fmts[i % 4], 16 + i % 64, 16 + i % 48))
    files = spark.read.format("binaryFile").load(path)
    decoded = M.decode_headers(
        files.select(
            F.regexp_extract(
                F.col("path"), r"img_(\d+)\.bin$", 1
            ).cast("long").alias("doc_id"),
            F.col("content").alias("image"),
        )
    )
    return decoded.select("doc_id", "format", "width", "height")


@register(
    "q_dedup_url",
    oracle="""
    WITH canon AS (
      SELECT doc_id,
             'https://mirror' || (doc_id % 4) || '.example.com/docs/' ||
             (doc_id % 50) || '?a=' || (doc_id % 5) || '&b=' || (doc_id % 3)
               AS url_canon
      FROM documents
    )
    SELECT url_canon, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS keep_id
    FROM canon GROUP BY 1
    """,
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    # URL-canonicalization dedup — the first pass of every web-corpus
    # pipeline: the same page arrives under scheme/host case variants,
    # www prefixes, default ports, utm_* tracking params, shuffled query
    # order, and fragments. The Spark side synthesizes a deliberately
    # MESSY url per doc (fixtures carry no url column) and runs it
    # through operators/text.py canonical_url (pure expression,
    # codegen); the oracle derives the expected canonical form
    # INDEPENDENTLY from doc_id arithmetic — parity proves the parser
    # implements the canonicalization spec, not just that two copies of
    # the same code agree. One hash shuffle on the canonical string.
    doc = table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    messy = F.concat(
        F.lit("HTTPS://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Mirror"), (d % 4).cast("string"),
        F.lit(".Example.COM:443/docs/"), (d % 50).cast("string"),
        F.lit("?utm_source=feed&b="), (d % 3).cast("string"),
        F.lit("&a="), (d % 5).cast("string"),
        F.lit("&utm_id=9#sec"), (d % 7).cast("string"),
    )
    return (
        doc.select("doc_id", TX.canonical_url(messy).alias("url_canon"))
        .groupBy("url_canon")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
    )


@register(
    "q_sample_reservoir",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic reservoir-k per group (k=5 docs per language): rank
    # every row by a salt-free md5 of its key — a uniform, engine-
    # independent pseudo-random order — and keep the first k per
    # partition. Retry/speculation-stable (no RNG, same discipline as
    # q_sample_weighted) and the rank<=k filter over a PARTITIONED
    # window gets Spark 4's WindowGroupLimit pushdown: each task
    # pre-prunes to k rows per group before the final window, so the
    # shuffle carries ~k·groups rows, not the corpus.
    from pyspark.sql.window import Window

    doc = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        doc.select("doc_id", "lang", F.row_number().over(w).alias("__rn"))
        .where(F.col("__rn") <= 5)
        .drop("__rn")
    )


@register(
    "q_text_zipf",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (
      SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1
    ),
    ranked AS (
      SELECT token, freq,
             row_number() OVER (ORDER BY freq DESC, token) AS rnk
      FROM vocab
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, token, freq
    FROM ranked WHERE (rnk & (rnk - 1)) = 0
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Zipf rank-frequency checkpoints: the vocabulary's frequency curve
    # sampled at power-of-two ranks (1, 2, 4, 8, …) — the standard
    # corpus-health fingerprint (a natural corpus tracks freq ∝ 1/rank;
    # boilerplate floods show up as a flat head, OCR noise as a fat
    # tail). All-integer output — no log-regression floats to drift
    # across engines. Ranks come from the distributed prefix-sum
    # (zip_with_index), NOT a global row_number window, so the vocab
    # table (100M+ types at 100 TB) never funnels through one task; the
    # power-of-two filter is a bitwise expression.
    from trembita_spark.pipeline import Pipeline

    doc = table(spark, sf_dir, "documents")
    vocab = (
        doc.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = (
        Pipeline(vocab)
        .zip_with_index([F.desc("freq"), F.col("token")], "__r0")
        .df.withColumn("rnk", F.col("__r0") + 1)
        .drop("__r0")
    )
    return ranked.where(
        F.col("rnk").bitwiseAND(F.col("rnk") - 1) == 0
    ).select("rnk", "token", "freq")


@register(
    "q_embedding_quantize",
    oracle="""
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    x AS (
      SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, dims
    ),
    st AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM x GROUP BY dim),
    qq AS (
      SELECT x.dim, x.v, st.lo, st.hi,
             CASE WHEN st.hi = st.lo THEN 0
                  ELSE LEAST(255, CAST(floor((x.v - st.lo) / (st.hi - st.lo) * 256) AS INT))
             END AS q
      FROM x JOIN st USING (dim)
    ),
    r AS (
      SELECT dim, q,
             abs(v - (lo + (CAST(q AS DOUBLE) + 0.5) * (hi - lo) / 256)) AS err
      FROM qq
    )
    SELECT dim, min(q) AS q_lo, max(q) AS q_hi,
           CAST(sum(CAST(err AS DECIMAL(18,12))) AS DOUBLE) AS sum_abs_err,
           CAST(count(*) AS BIGINT) AS n
    FROM r GROUP BY dim
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scalar (int8-style) quantization of the embedding column — the
    # standard 4× memory compression before ANN serving: per-dimension
    # [min, max] ranges (one tiny 64-row aggregate, broadcast back),
    # each value floored onto a 256-level grid, plus per-dim
    # reconstruction-error accounting. Everything is exact IEEE
    # arithmetic (sub/div/mul/floor — deterministic in any engine; no
    # round(), whose half-tie behavior diverges) and the error sum goes
    # through the decimal trick (discipline rule 4). At 100 TB: explode
    # → one (dim) partial+final agg → broadcast join → map-side
    # quantize; nothing shuffles the corpus twice.
    emb = table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "fv")
    ).select("vec_id", "dim", F.col("fv").cast("double").alias("v"))
    st = x.groupBy("dim").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    j = x.join(F.broadcast(st), "dim")
    scale = F.col("hi") - F.col("lo")
    q = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(255),
            F.floor((F.col("v") - F.col("lo")) / scale * 256).cast("int"),
        )
    )
    err = F.abs(F.col("v") - (F.col("lo") + (q.cast("double") + 0.5) * scale / 256))
    return (
        j.select("dim", q.alias("q"), err.alias("err"))
        .groupBy("dim")
        .agg(
            F.min("q").alias("q_lo"),
            F.max("q").alias("q_hi"),
            F.sum(F.col("err").cast("decimal(18,12)")).cast("double").alias("sum_abs_err"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q_corpus_temperature_mix",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT source, n_tokens,
             CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,12)) AS w_raw
      FROM t
    ),
    s AS (SELECT sum(w_raw) AS tot FROM w)
    SELECT source, n_tokens,
           round(CAST(w_raw AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS weight
    FROM w, s
    """,
)
def q_corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Temperature-scaled mixture weights (α = 0.5) — the multilingual /
    # multi-domain sampling scheme: w_s ∝ n_s^α upweights small sources
    # relative to proportional sampling. sqrt is IEEE-correctly-rounded
    # (bit-exact in any engine); the cross-source normalizer sums the
    # per-source sqrt through the decimal trick so merge order can't
    # drift it. Cost: one token-count aggregate (partial+final), then
    # arithmetic over |sources| rows; checkpointed because the tiny
    # aggregate feeds both the weight list and the normalizer (branches
    # never share subtrees).
    docs = table(spark, sf_dir, "documents")
    agg = (
        docs.select("source", F.size(F.split("text", " ")).cast("long").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
        .withColumn(
            "w_raw",
            F.sqrt(F.col("n_tokens").cast("double")).cast("decimal(18,12)"),
        )
        .localCheckpoint(eager=False)
    )
    tot = agg.agg(F.sum("w_raw").alias("tot"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        # round-9 on the closed form: the decimal->double CAST of the
        # normalizer can differ by 1 ulp between engines (same effect as
        # q_agg_regression documents); weight <= 1 makes the ulp error
        # ~1e-17, far inside the 5e-10 half-grid (parity rule 5).
        F.round(
            F.col("w_raw").cast("double") / F.col("tot").cast("double"), 9
        ).alias("weight"),
    )


@register(
    "q_multimodal_resize",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(8 + doc_id % 16 AS INT) AS width,
             CAST(8 + doc_id % 12 AS INT) AS height,
             doc_id % 256 AS seed
      FROM documents
    ),
    uv AS (
      SELECT u.u, v.v
      FROM (SELECT unnest(generate_series(0, 3)) AS u) u,
           (SELECT unnest(generate_series(0, 3)) AS v) v
    ),
    px AS (
      SELECT d.doc_id, d.width, d.height, d.seed,
             CAST(floor(uv.u * d.width / 4) AS BIGINT) AS x,
             CAST(floor(uv.v * d.height / 4) AS BIGINT) AS y
      FROM d, uv
    )
    SELECT doc_id, width, height,
           CAST(sum((7 * x + 13 * y + 0 + seed) % 256) AS BIGINT) AS r_sum,
           CAST(sum((7 * x + 13 * y + 3 + seed) % 256) AS BIGINT) AS g_sum,
           CAST(sum((7 * x + 13 * y + 6 + seed) % 256) AS BIGINT) AS b_sum
    FROM px GROUP BY doc_id, width, height
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Image RESIZE over the REAL decode path (the one multimodal verb
    # the brief lists that wasn't yet a key): synthesize a true
    # PNG/BMP per doc (pixel (x,y,c) = (7x+13y+3c+seed) mod 256, all 5
    # PNG filter types exercised), decode it back, nearest-neighbor
    # resample to a 4×4 grid, and emit exact integer channel sums of
    # the resampled pixels. The oracle recomputes those sums in closed
    # form from doc_id arithmetic — a resize bug (coordinate rounding,
    # stride, channel order) breaks parity. Arrow-batched mapInPandas,
    # zero shuffle, output O(rows).
    docs = M.attach_pixel_payload(table(spark, sf_dir, "documents").select("doc_id"))
    return M.resize_stats(docs)


@register(
    "q_dedup_near_verified",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT doc_id, {_sh_sql(3)} AS shingles FROM tok),
    sig AS (
      SELECT doc_id, band,
             list_min(list_transform(shingles, s -> substring(md5(concat('g', band // 4, '|', s)), 1 + 8 * (band % 4), 8))) AS sig
      FROM sh, (SELECT unnest([0, 1, 2, 3]) AS band) bands
      WHERE len(shingles) > 0
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    ds AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ds GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
      FROM cand c
      JOIN ds da ON da.doc_id = c.doc_a
      JOIN ds db ON db.doc_id = c.doc_b AND db.s = da.s
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter,
           CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.25
    """,
)
def q_dedup_near_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The full two-stage near-dup pipeline (candidates → verify):
    # MinHash-LSH recall stage (bucket-local pair expansion, identical
    # to q_dedup_near) followed by EXACT trigram-Jaccard verification
    # computed ONLY for the candidate pairs — the precision filter that
    # kills LSH false positives. Verify cost ∝ |candidates| × shingles,
    # never corpus² (operators/dedup.py lsh_verified_pairs). The
    # jaccard value is an exact small-integer ratio — one correctly-
    # rounded double division, bit-identical across engines.
    return D.lsh_verified_pairs(
        table(spark, sf_dir, "documents"), bands=4, k=3, min_jaccard=0.25
    )


@register(
    "q_dedup_substring",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sp AS (
      SELECT doc_id, unnest({_sh_sql(8)}) AS gram FROM tok
    ),
    h AS (SELECT doc_id, {_HEX60.format(md5="md5(gram)")} AS h FROM sp),
    dup AS (
      SELECT h FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM h GROUP BY 1
    ),
    dup_per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
      FROM h JOIN dup USING (h) GROUP BY 1
    )
    SELECT p.doc_id, p.n_spans,
           COALESCE(d.n_dup_spans, 0) AS n_dup_spans,
           CAST(COALESCE(d.n_dup_spans, 0) AS DOUBLE) / CAST(p.n_spans AS DOUBLE)
             AS dup_frac
    FROM per_doc p LEFT JOIN dup_per_doc d USING (doc_id)
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact-substring (k-token span) duplication scoring across the
    # corpus — the span-level complement to document-level MinHash: a
    # span in >= 2 distinct docs is duplicated; each doc reports the
    # fraction of its spans that are. Spans shuffle as 60-bit md5-fold
    # ints (never strings); the dup-span set semi-joins back on the
    # aggregate's own hash partitioning; dup_frac is one small-integer
    # double division — bit-identical across engines.
    return D.duplicated_span_report(table(spark, sf_dir, "documents"), k=8)


@register(
    "q_similarity_mips",
    oracle="""
    WITH scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
             list_reduce(list_transform(generate_series(1, 64),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dot
      FROM embeddings a JOIN embeddings b ON b.vec_id < 8 AND a.vec_id <> b.vec_id
    )
    SELECT query_id, vec_id, dot, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY dot DESC, vec_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_similarity_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Maximum-inner-product top-3 (un-normalized dot — the dual-encoder
    # retrieval objective): brute-force exact baseline; the documented
    # scale path is the norm-augmentation reduction to cosine ANN
    # (operators/similarity.py mips_topk). The dot is the same
    # sequential left-fold both engines evaluate identically.
    emb = table(spark, sf_dir, "embeddings")
    return S.mips_topk(emb, emb.filter(F.col("vec_id") < 8), k=3)


def _token_buckets(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """Hashed term frequencies ``(doc_id, bucket, tf)``: each space token
    goes to bucket ``pmod(md5_int60(md5(token)), n)``."""
    tok = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    bucket = F.pmod(md5_int60(F.md5("token")), F.lit(n)).cast("bigint")
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@register(
    "q_text_hashing_trick",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT doc_id,
           CAST({_HEX60.format(md5="md5(token)")} % 64 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS tf
    FROM tok GROUP BY 1, 2
    """,
)
def q_text_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Feature hashing (the hashing-trick vectorizer): token -> md5-fold
    # 60-bit int -> bucket (64-dim sparse TF vector), no vocabulary pass
    # at all — the property that makes it THE text featurizer at 100 TB
    # (a dictionary-based vectorizer needs a global vocab build +
    # broadcast; hashing needs nothing). One partial-agg groupBy on
    # (doc, bucket); emitted sparse (bucket, tf) pairs pivot to dense
    # downstream only if a consumer needs it.
    return _token_buckets(spark, sf_dir, 64)


@register(
    "q_text_keywords",
    oracle="""
    WITH tfc AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      ) GROUP BY 1, 2
    ),
    dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, token, tf, df, tf * (n_docs + 1) / (df + 1) AS tfidf
      FROM tfc JOIN dfc USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, rk FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def q_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyword extraction: top-3 tokens per doc by tf-idf. Builds on the
    # same tf/df aggregates as q_text_tfidf (df side joins broadcast —
    # it's vocabulary-sized); the per-doc top-3 materializes the rank
    # VALUE so Spark 4's WindowGroupLimit prunes each doc's frame to 3
    # rows before the filter instead of ranking every token. tfidf is
    # integer-ratio arithmetic -> identical doubles; ties pinned by
    # token.
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    tfc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tfc.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tfc.join(F.broadcast(dfc), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (F.col("tf") * (F.col("n_docs") + 1) / (F.col("df") + 1)).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "token", "tfidf", "rk")
    )


@register(
    "q_multimodal_dhash",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(8 + doc_id % 16 AS INT) AS w,
             CAST(8 + doc_id % 12 AS INT) AS h,
             doc_id % 256 AS seed
      FROM documents WHERE doc_id < 2000
    ),
    grid AS (
      SELECT d.doc_id, d.seed, gx.gx, gy.gy,
             (gx.gx * d.w) // 9 AS x, (gy.gy * d.h) // 8 AS y
      FROM d
      CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS gx) gx
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS gy) gy
    ),
    s AS (
      SELECT doc_id, gx, gy,
             ((7 * x + 13 * y + seed) % 256
              + (7 * x + 13 * y + 3 + seed) % 256
              + (7 * x + 13 * y + 6 + seed) % 256) // 3 AS g
      FROM grid
    ),
    bits AS (
      SELECT a.doc_id, a.gx, a.gy,
             CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
      FROM s a JOIN s b ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
      WHERE a.gx < 8
    ),
    bands AS (
      SELECT doc_id, CAST(gy // 2 AS INT) AS band_idx,
             CAST(sum(bit * (1 << ((gy % 2) * 8 + gx))) AS BIGINT) AS band_val
      FROM bits GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    ),
    ham AS (
      SELECT c.doc_a, c.doc_b,
             CAST(sum(bit_count(xor(ba.band_val, bb.band_val))) AS BIGINT) AS hamming
      FROM cand c
      JOIN bands ba ON ba.doc_id = c.doc_a
      JOIN bands bb ON bb.doc_id = c.doc_b AND bb.band_idx = ba.band_idx
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 6
    """,
)
def q_multimodal_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Image near-duplicate detection: perceptual dHash computed from the
    # REAL decoded pixels (PNG inflate+unfilter / BMP, same path as
    # q_multimodal_pixels), banded 4x16-bit for LSH candidate
    # generation (GROUP BY band — never corpus^2), then verified by
    # exact Hamming distance (bit_count of xor per band). The oracle
    # recomputes the whole pipeline in closed form from doc_id
    # arithmetic, so a decoder or banding bug anywhere breaks parity.
    # All integer math -> bit-exact. The bands frame feeds candidate
    # generation AND both verify sides: checkpointed lazily so the
    # (expensive) decode runs once.
    docs = M.attach_pixel_payload(
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 2000)  # cap: pair count is quadratic
        # within same-dimension classes; 2000 docs keeps the sweep and
        # the O(class^2) DuckDB oracle feasible at every sf
        .select("doc_id")
    )
    bands = M.dhash_bands(docs).localCheckpoint(eager=False)
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ba = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("band_idx").alias("bi"),
        F.col("band_val").alias("va"),
    )
    bb = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band_idx").alias("bi"),
        F.col("band_val").alias("vb"),
    )
    ham = (
        cand.join(ba, "doc_a")
        .join(bb, ["doc_b", "bi"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.bit_count(F.expr("va ^ vb"))).alias("hamming")
        )
    )
    return ham.where(F.col("hamming") <= 6)


@register(
    "q_graph_components",
    oracle="""
    WITH RECURSIVE bask AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
      FROM lineitem WHERE l_partkey < 2000
    ),
    pairs AS (
      SELECT a.part AS pa, b.part AS pb
      FROM bask a JOIN bask b ON a.okey = b.okey AND a.part < b.part
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb, pa FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node, min(lbl) AS component FROM reach GROUP BY node
    """,
)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Standalone connected components over the part co-purchase graph
    # (parts co-ordered in >= 2 distinct orders are linked): the Spark
    # side runs the pointer-jumping min-label propagation
    # (operators/dedup.py connected_components — O(log diameter)
    # rounds, each a bounded co-keyed join), which at 100 TB is the
    # large-star/small-star regime; the oracle computes min reachable
    # label by brute recursive transitive closure — quadratic in
    # component size, which is why BOTH sides cap the node universe
    # (l_partkey < 2000) to keep the closure feasible at sweep scale.
    # Parity proves the iterative algorithm equals the declarative
    # fixpoint.
    from trembita_spark.operators.dedup import connected_components

    bask = order_baskets(
        table(spark, sf_dir, "lineitem").where(F.col("l_partkey") < 2000)
    )
    pairs = basket_pairs(bask).where(F.col("support") >= 2).select(
        F.col("part_a").alias("doc_a"), F.col("part_b").alias("doc_b")
    )
    return connected_components(pairs).select(
        F.col("node"), F.col("cluster_id").alias("component")
    )


@register(
    "q_multimodal_audio_fp",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 509 AS seed FROM documents
    ),
    bits AS (
      SELECT d.doc_id, j.j,
             CASE WHEN (7 * (2 * j.j + 2) + seed) % 2048 - 1024
                     > (7 * (2 * j.j) + seed) % 2048 - 1024
                  THEN 1 ELSE 0 END AS bit
      FROM d CROSS JOIN (SELECT unnest(generate_series(0, 14)) AS j) j
    ),
    fp AS (
      SELECT doc_id, CAST(sum(bit * (1 << j)) AS INT) AS fp
      FROM bits GROUP BY 1
    )
    SELECT fp, CAST(count(*) AS BIGINT) AS n_clips, min(doc_id) AS keep_id
    FROM fp GROUP BY 1
    """,
)
def q_multimodal_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Audio near-duplicate grouping by perceptual fingerprint: the REAL
    # WAV decode (chunk walk, endianness — same path as
    # q_multimodal_audio) feeds a 15-bit delta-sign signature
    # (operators/multimodal.py audio_fingerprint), grouped exact-dedup
    # style. The oracle recomputes the fingerprint in closed form from
    # the sample formula — a decoder OR fingerprint bug breaks parity.
    # Completes the perceptual-dedup triad: text MinHash, image dHash,
    # audio delta-sign.
    docs = M.attach_audio_payload(table(spark, sf_dir, "documents").select("doc_id"))
    fp = M.audio_fingerprint(docs)
    return fp.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.min("doc_id").alias("keep_id"),
    )


@register(
    "q_text_lexical_diversity",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tc AS (
      SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS hapax_ratio
    FROM tc GROUP BY doc_id
    """,
)
def q_text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lexical diversity per doc: type-token ratio and hapax-legomenon
    # share — the standard quick screens for templated/spam text (low
    # TTR) vs natural prose. One explode + one (doc, token) partial-agg
    # groupBy + one doc rollup; all exact integer ratios.
    docs = table(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        (F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")).alias("ttr"),
        (
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("hapax_ratio"),
    )


_DBSCAN_HAV = """round(2 * 6371.0 * asin(sqrt(
               pow(sin(radians(b.lat - a.lat) / 2), 2) +
               cos(radians(a.lat)) * cos(radians(b.lat)) *
               pow(sin(radians(b.lon - a.lon) / 2), 2))), 6)"""


@register(
    "q_cluster_dbscan",
    oracle=f"""
    WITH RECURSIVE pts AS (
      SELECT c_custkey AS id,
             CAST((c_custkey * 37) % 160 - 80 AS DOUBLE) + 0.5 AS lat,
             CAST((c_custkey * 73) % 360 - 180 AS DOUBLE) + 0.5 AS lon
      FROM customer WHERE c_custkey < 1200
    ),
    pr AS (
      SELECT a.id AS ia, b.id AS ib FROM pts a, pts b
      WHERE a.id < b.id AND {_DBSCAN_HAV} <= 1200.0
    ),
    und AS (SELECT ia AS id, ib AS nb FROM pr UNION ALL SELECT ib, ia FROM pr),
    deg AS (SELECT id, count(*) AS n FROM und GROUP BY 1),
    core AS (SELECT id FROM deg WHERE n >= 3),
    ce AS (
      SELECT ia, ib FROM pr
      WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)
    ),
    cund AS (SELECT ia AS src, ib AS dst FROM ce UNION ALL SELECT ib, ia FROM ce),
    reach(node, lbl) AS (
      SELECT id, id FROM core
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN cund e ON e.src = r.node
    ),
    comp AS (SELECT node AS id, min(lbl) AS cluster FROM reach GROUP BY 1),
    core_c AS (
      SELECT c.id, COALESCE(m.cluster, c.id) AS cluster
      FROM core c LEFT JOIN comp m USING (id)
    ),
    border AS (
      SELECT u.id, min(cc.cluster) AS cluster
      FROM und u JOIN core_c cc ON cc.id = u.nb
      WHERE u.id NOT IN (SELECT id FROM core)
      GROUP BY 1
    )
    SELECT id, 'core' AS role, cluster FROM core_c
    UNION ALL
    SELECT id, 'border', cluster FROM border
    UNION ALL
    SELECT p.id, 'noise', CAST(-1 AS BIGINT)
    FROM pts p
    WHERE p.id NOT IN (SELECT id FROM core_c)
      AND p.id NOT IN (SELECT id FROM border)
    """,
)
def q_cluster_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distributed DBSCAN (eps=1200 km, minPts=3) over the synthetic
    # customer coordinates: radius join (lossless lat-band prefilter) →
    # degree count → core set → connected components of the core-core
    # subgraph (pointer jumping) → deterministic min-cluster border
    # attachment → noise. The oracle replays the whole algorithm
    # declaratively (brute-force pairs + recursive-CTE closure) — so
    # parity certifies the ITERATIVE distributed implementation against
    # the fixpoint definition, the same proof shape as
    # q_graph_components. The 1200-key cap keeps the oracle's O(n²)
    # pair scan and O(component²) closure feasible at sweep scale.
    from trembita_spark.operators.similarity import dbscan_geo

    pts = (
        customer_points(spark, sf_dir)
        .where(F.col("c_custkey") < 1200)
        .withColumnRenamed("c_custkey", "id")
    )
    return dbscan_geo(pts, eps_km=1200.0, min_pts=3)


@register(
    "q_text_readability",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syllables
      FROM documents
    )
    SELECT doc_id, lang, words, sentences, syllables,
           CASE WHEN words > 0 THEN
             206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
                     - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
           END AS flesch
    FROM f
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Flesch reading-ease per document — the classic text-quality
    # band a corpus-filtering pipeline thresholds on (alongside
    # q_text_quality's lexical score). Syllables use the standard
    # vowel-group heuristic (maximal [aeiouy]+ runs in the lowercased
    # text — deterministic and regex-replayable in any engine, unlike
    # dictionary syllabifiers); sentences are [.!?]+ runs clamped to
    # ≥1 so fragment docs don't divide by zero. Pure per-row
    # expressions — map-side only, zero shuffle at any scale; the
    # score is one fixed double tree over integer counts (parity rule
    # 2, no rounding).
    docs = table(spark, sf_dir, "documents")
    words = F.regexp_count("text", F.lit(r"\S+")).cast("bigint")
    sentences = F.greatest(
        F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    syllables = F.regexp_count(F.lower("text"), F.lit(r"[aeiouy]+")).cast(
        "bigint"
    )
    f = docs.select(
        "doc_id",
        "lang",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    )
    return f.select(
        "doc_id",
        "lang",
        "words",
        "sentences",
        "syllables",
        F.when(
            F.col("words") > 0,
            206.835
            - 1.015 * (F.col("words").cast("double") / F.col("sentences").cast("double"))
            - 84.6 * (F.col("syllables").cast("double") / F.col("words").cast("double")),
        ).alias("flesch"),
    )


@register(
    "q_corpus_dsir",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tb AS (
      SELECT doc_id,
             CAST({_HEX60.format(md5="md5(token)")} % 256 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2
    ),
    raw AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS rb FROM tb GROUP BY 1),
    tgt AS (
      SELECT tb.bucket, CAST(sum(tb.tf) AS BIGINT) AS gb
      FROM tb JOIN documents d ON tb.doc_id = d.doc_id
      WHERE d.lang = 'en' GROUP BY 1
    ),
    tots AS (
      SELECT (SELECT CAST(sum(rb) AS BIGINT) FROM raw) AS r_tot,
             (SELECT CAST(COALESCE(sum(gb), 0) AS BIGINT) FROM tgt) AS t_tot
    ),
    llr AS (
      SELECT raw.bucket,
             ln((COALESCE(tgt.gb, 0) + 1.0) / (t_tot + 256))
           - ln((raw.rb + 1.0) / (r_tot + 256)) AS llr
      FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket, tots
    )
    SELECT tb.doc_id,
           CAST(sum(tb.tf) AS BIGINT) AS n_tokens,
           round(sum(tb.tf * llr.llr), 6) AS dsir_weight
    FROM tb JOIN llr ON tb.bucket = llr.bucket
    GROUP BY tb.doc_id
    """,
)
def q_corpus_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR-style importance weights for data selection (Xie et al.,
    # "Data Selection for Language Models via Importance Resampling",
    # public NeurIPS'23 method): score every raw document by how much
    # its hashed-n-gram profile looks like the TARGET domain (here the
    # lang='en' slice) vs the raw corpus — w_doc = Σ_b tf_b · [ln
    # p_target(b) − ln p_raw(b)] over 256 hashed unigram buckets with
    # Laplace smoothing. The hashing trick means NO vocabulary build:
    # the two profiles are 256-row aggregates (broadcast), and scoring
    # is one groupBy over (doc, bucket) — the property that lets this
    # run as a single pass over 100 TB. Bucket ids ride the md5-fold
    # 60-bit lane (q_text_hashing_trick); the ln-ratio per bucket is a
    # fixed expression tree; the per-doc tf-weighted sum is merge-order
    # float → round 6 (the q_text_perplexity convention).
    tb = _token_buckets(spark, sf_dir, 256)
    # one profile pass: per-bucket raw AND target counts from the same
    # frame (the target marker joins on doc_id BEFORE the bucket
    # aggregate), so the scalar totals are ONE 1-row aggregate over the
    # 256-row profile — a mechanically-benign BNLJ build side for the
    # broadcast below (the two-agg crossJoin form trips the registry's
    # first-significant-node audit).
    is_tgt = table(spark, sf_dir, "documents").where(F.col("lang") == "en").select(
        "doc_id", F.lit(1).alias("is_t")
    )
    prof = (
        tb.join(is_tgt, "doc_id", "left")
        .groupBy("bucket")
        .agg(
            F.sum("tf").cast("bigint").alias("rb"),
            F.sum(F.when(F.col("is_t") == 1, F.col("tf")).otherwise(0))
            .cast("bigint")
            .alias("gb"),
        )
    )
    tots = prof.agg(
        F.sum("rb").cast("bigint").alias("r_tot"),
        F.sum("gb").cast("bigint").alias("t_tot"),
    )
    llr = (
        prof.crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            (
                F.log((F.col("gb") + 1.0) / (F.col("t_tot") + 256))
                - F.log((F.col("rb") + 1.0) / (F.col("r_tot") + 256))
            ).alias("llr"),
        )
    )
    return (
        tb.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * F.col("llr")), 6).alias("dsir_weight"),
        )
    )


@register(
    "q_corpus_unimax",
    oracle="""
    WITH lc AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
    ),
    par AS (
      SELECT CAST(count(*) AS BIGINT) AS nl,
             CAST((6 * sum(n)) // 10 AS BIGINT) AS b
      FROM lc
    ),
    caps AS (SELECT lang, n, 3 * n AS cap FROM lc),
    sorted AS (
      SELECT cap,
             row_number() OVER (ORDER BY cap, lang) - 1 AS i,
             COALESCE(sum(cap) OVER (ORDER BY cap, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
      FROM caps
    ),
    cands AS (
      SELECT CAST((b - pre) // (nl - i) AS BIGINT) AS q FROM sorted, par
    ),
    feas AS (
      SELECT q FROM cands, par
      WHERE q >= 0 AND (SELECT sum(least(cap, cands.q)) FROM caps) <= b
    ),
    qlevel AS (
      SELECT CASE WHEN (SELECT sum(cap) FROM caps) <= (SELECT b FROM par)
                  THEN (SELECT max(cap) FROM caps)
                  ELSE (SELECT max(q) FROM feas) END AS q
    ),
    quota AS (
      SELECT lang, n, CAST(least(cap, q) AS BIGINT) AS quota
      FROM caps, qlevel
    ),
    sel AS (
      SELECT d.lang, d.doc_id,
             row_number() OVER (PARTITION BY d.lang
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS r
      FROM documents d
    )
    SELECT q.lang, q.n AS n_docs, q.quota,
           CAST(q.quota // q.n AS BIGINT) AS full_epochs,
           CAST(q.quota % q.n AS BIGINT) AS n_partial,
           CAST(COALESCE(sum(CASE WHEN s.r <= q.quota % q.n
                                  THEN s.doc_id ELSE 0 END), 0) AS BIGINT)
             AS sum_partial_ids
    FROM quota q JOIN sel s ON q.lang = s.lang
    GROUP BY 1, 2, 3
    """,
)
def q_corpus_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UniMax multilingual budget allocation (operators/sampling.py:
    # unimax_quotas/unimax_select — Chung et al. 2023, the public
    # method): every language gets up to 3 epochs, capped by the
    # largest integer water level keeping the total inside a 60%-of-
    # corpus budget; each language's allocation is reported as FULL
    # passes plus a deterministic md5-ordered partial-epoch subset
    # whose exact membership is pinned by sum_partial_ids. All-integer
    # water-filling (the oracle replays it as the max feasible
    # candidate over cap-sorted segments — exact, parity rule 1); the
    # only data-proportional work is one lang-count aggregate and one
    # distributed prefix sum for in-language positions (no
    # low-cardinality window). The language registry and the scalar
    # doc total are config-sized driver values (the budget_select
    # pattern).
    from trembita_spark.operators.sampling import unimax_select

    docs = table(spark, sf_dir, "documents")
    n_tot = docs.count()
    return unimax_select(
        docs, "lang", "doc_id", budget=(6 * n_tot) // 10, epochs=3
    )


_NB_LANGS = ["de", "en", "es", "fr", "zh"]


@register(
    "q_ml_naive_bayes",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2
    ),
    lab AS (SELECT doc_id, lang FROM documents),
    tc AS (
      SELECT t.token,
             CAST(sum(CASE WHEN l.lang = 'de' THEN t.tf ELSE 0 END) AS BIGINT) AS c_de,
             CAST(sum(CASE WHEN l.lang = 'en' THEN t.tf ELSE 0 END) AS BIGINT) AS c_en,
             CAST(sum(CASE WHEN l.lang = 'es' THEN t.tf ELSE 0 END) AS BIGINT) AS c_es,
             CAST(sum(CASE WHEN l.lang = 'fr' THEN t.tf ELSE 0 END) AS BIGINT) AS c_fr,
             CAST(sum(CASE WHEN l.lang = 'zh' THEN t.tf ELSE 0 END) AS BIGINT) AS c_zh
      FROM tf t JOIN lab l USING (doc_id) GROUP BY 1
    ),
    par AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS nd_de,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nd_en,
             CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS nd_es,
             CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS nd_fr,
             CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS nd_zh
      FROM documents
    ),
    toks AS (
      SELECT CAST((SELECT count(*) FROM tc) AS BIGINT) AS v,
             CAST(sum(c_de) AS BIGINT) AS tk_de,
             CAST(sum(c_en) AS BIGINT) AS tk_en,
             CAST(sum(c_es) AS BIGINT) AS tk_es,
             CAST(sum(c_fr) AS BIGINT) AS tk_fr,
             CAST(sum(c_zh) AS BIGINT) AS tk_zh
      FROM tc
    ),
    ds AS (
      SELECT t.doc_id,
             sum(t.tf * ln((c.c_de + 1.0) / (tk_de + v))) AS s_de,
             sum(t.tf * ln((c.c_en + 1.0) / (tk_en + v))) AS s_en,
             sum(t.tf * ln((c.c_es + 1.0) / (tk_es + v))) AS s_es,
             sum(t.tf * ln((c.c_fr + 1.0) / (tk_fr + v))) AS s_fr,
             sum(t.tf * ln((c.c_zh + 1.0) / (tk_zh + v))) AS s_zh
      FROM tf t JOIN tc c USING (token), toks
      GROUP BY 1
    ),
    scored AS (
      SELECT doc_id, cand, round(prior + s, 6) AS sc FROM (
        SELECT ds.doc_id, x.cand, x.s,
               CASE x.cand
                 WHEN 'de' THEN ln(CAST(nd_de AS DOUBLE) / n_docs)
                 WHEN 'en' THEN ln(CAST(nd_en AS DOUBLE) / n_docs)
                 WHEN 'es' THEN ln(CAST(nd_es AS DOUBLE) / n_docs)
                 WHEN 'fr' THEN ln(CAST(nd_fr AS DOUBLE) / n_docs)
                 WHEN 'zh' THEN ln(CAST(nd_zh AS DOUBLE) / n_docs)
               END AS prior
        FROM ds, par,
          LATERAL (VALUES ('de', s_de), ('en', s_en), ('es', s_es),
                          ('fr', s_fr), ('zh', s_zh)) AS x(cand, s)
      )
    ),
    pred AS (
      SELECT doc_id, cand AS pred FROM (
        SELECT doc_id, cand,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY sc DESC, cand) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT l.lang, p.pred, CAST(count(*) AS BIGINT) AS n
    FROM pred p JOIN lab l USING (doc_id)
    GROUP BY 1, 2
    """,
)
def q_ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multinomial Naive Bayes language classifier, trained AND scored on
    # the corpus in pure aggregates (the classic from-scratch text
    # classifier — no MLlib, no iteration): Laplace-smoothed per-class
    # token log-probabilities from ONE wide conditional aggregate over
    # the (token × class) counts, per-doc class scores from one join +
    # groupBy, argmax with the unique (rounded score desc, lang) order,
    # emitted as the actual×predicted CONFUSION MATRIX. ln sums are
    # merge-order floats → scores rounded to 6 BEFORE the argmax on
    # both sides, so the tie-break is deterministic cross-engine (the
    # q_text_perplexity convention). At 100 TB: the token-class table
    # shuffles on token (vocabulary-sized, broadcast when small), the
    # class registry is fixed — two data-touching passes total.
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    lab = docs.select("doc_id", "lang")
    tfl = tf.join(lab, "doc_id")
    tc = tfl.groupBy("token").agg(
        *[
            F.sum(F.when(F.col("lang") == lg, F.col("tf")).otherwise(0))
            .cast("bigint")
            .alias(f"c_{lg}")
            for lg in _NB_LANGS
        ]
    )
    par = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[
            F.sum(F.when(F.col("lang") == lg, 1).otherwise(0))
            .cast("bigint")
            .alias(f"nd_{lg}")
            for lg in _NB_LANGS
        ],
    )
    toks = tc.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        *[
            F.sum(f"c_{lg}").cast("bigint").alias(f"tk_{lg}")
            for lg in _NB_LANGS
        ],
    )
    ds = (
        tf.join(tc, "token")
        .crossJoin(F.broadcast(toks))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(
                    F.col("tf")
                    * F.log(
                        (F.col(f"c_{lg}") + 1.0) / (F.col(f"tk_{lg}") + F.col("v"))
                    )
                ).alias(f"s_{lg}")
                for lg in _NB_LANGS
            ]
        )
    )
    # rounded score + class index packed into structs; array_max picks
    # max score then max(-index) = lexicographically smallest class.
    scored = ds.crossJoin(F.broadcast(par)).select(
        "doc_id",
        F.array(
            *[
                F.struct(
                    F.round(
                        F.log(
                            F.col(f"nd_{lg}").cast("double") / F.col("n_docs")
                        )
                        + F.col(f"s_{lg}"),
                        6,
                    ).alias("sc"),
                    F.lit(-i).alias("ni"),
                )
                for i, lg in enumerate(_NB_LANGS)
            ]
        ).alias("cands"),
    )
    langs_arr = F.array(*[F.lit(lg) for lg in _NB_LANGS])
    pred = scored.select(
        "doc_id",
        F.element_at(
            langs_arr, (-F.array_max("cands").getField("ni") + 1).cast("int")
        ).alias("pred"),
    )
    return (
        pred.join(lab, "doc_id")
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "q_text_bpe_pairs",
    oracle="""
    WITH p AS (
      SELECT pr[1] AS t1, pr[2] AS t2 FROM (
        SELECT unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS pr
        FROM (SELECT string_split(text, ' ') AS a FROM documents)
      )
    )
    SELECT t1, t2, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY t1, t2
    ORDER BY n DESC, t1, t2 LIMIT 20
    """,
)
def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The counting step of one BPE merge iteration (operators/text.py:
    # bpe_pair_counts): adjacent whitespace-token pairs from zipping
    # each document's token array against its own shifted slice —
    # pure JVM array expressions, one explode + one map-side-combined
    # hash agg + TakeOrdered(20) under the unique (n DESC, t1, t2)
    # order. At 100 TB the shuffle carries only distinct-pair partials.
    from trembita_spark.operators.text import bpe_pair_counts

    return bpe_pair_counts(table(spark, sf_dir, "documents"))


@register(
    "q_ml_knn",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label, embedding, {_NORM_SQL} AS norm FROM embeddings
    ),
    scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS vec_id, a.label,
             {_PAIR_DOT_SQL} / (a.norm * b.norm) AS cos
      FROM n a JOIN n b ON b.vec_id < 8 AND a.vec_id >= 8
    ),
    nn AS (
      SELECT query_id, vec_id, label FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, vec_id) AS r
        FROM scored
      ) WHERE r <= 5
    ),
    v AS (
      SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
      FROM nn GROUP BY query_id, label
    ),
    p AS (
      SELECT query_id, label AS label_pred, votes FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY votes DESC, label) AS r
        FROM v
      ) WHERE r = 1
    )
    SELECT p.query_id, q.label AS label_true, p.label_pred, p.votes
    FROM p JOIN embeddings q ON q.vec_id = p.query_id
    """,
)
def q_ml_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-nearest-neighbor classifier (k=5, exact cosine) for the 8 probe
    # vectors against the vec_id >= 8 corpus: cosine_topk's broadcast-
    # query scan (corpus never shuffles), neighbor labels joined back,
    # majority vote with the deterministic (votes DESC, label) tie
    # break. Integer votes; cosine uses the contract's fixed double
    # tree. 100 TB: this is the exact-verification arm — the IVF/PQ
    # keys are the approximate serving path for the same shape.
    from trembita_spark.operators import similarity as S2
    from pyspark.sql.window import Window

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8)
    nn = S2.cosine_topk(corpus, queries, k=5)
    lab = emb.select("vec_id", "label")
    votes = (
        nn.join(lab, "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("label"))
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("query_id", F.col("label").alias("label_pred"), "votes")
    )
    truth = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("label_true")
    )
    return pred.join(truth, "query_id").select(
        "query_id", "label_true", "label_pred", "votes"
    )


@register(
    "q_eval_ndcg",
    oracle=f"""
    WITH approx AS ({_IVF_ORACLE}),
    n AS (SELECT vec_id, embedding, {_NORM_SQL} AS norm FROM embeddings),
    ex_scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
             {_PAIR_DOT_SQL} / (a.norm * b.norm) AS cos
      FROM n a JOIN n b ON b.vec_id < 8 AND a.vec_id <> b.vec_id
    ),
    exact AS (
      SELECT query_id, vec_id, CAST(4 - r AS BIGINT) AS rel, r FROM (
        SELECT *, CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS r
        FROM ex_scored
      ) WHERE r <= 3
    ),
    dcg AS (
      SELECT a.query_id,
             sum(CAST(COALESCE(e.rel, 0) AS DOUBLE)
                 / log2(CAST(a.rank + 1 AS DOUBLE))) AS dcg
      FROM approx a LEFT JOIN exact e
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY a.query_id
    ),
    idcg AS (
      SELECT query_id,
             sum(CAST(rel AS DOUBLE) / log2(CAST(r + 1 AS DOUBLE))) AS idcg
      FROM exact GROUP BY query_id
    )
    SELECT d.query_id, round(d.dcg, 6) AS dcg, round(i.idcg, 6) AS idcg,
           round(d.dcg / i.idcg, 6) AS ndcg
    FROM dcg d JOIN idcg i ON i.query_id = d.query_id
    """,
)
def q_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ranking-quality evaluation AS A QUERY: NDCG@3 of the IVF
    # approximate retrieval (q_similarity_ivf's nprobe=2 path) against
    # the exact cosine ranking — graded relevance rel = 4 − exact_rank
    # for the true top 3, DCG over the approximate positions, IDCG from
    # the exact order (descending rel, so it IS the ideal). Per-query
    # rows keep the eval auditable; log2 is libm → round-6 (parity
    # rule 5). 100 TB: both arms are the existing banded/broadcast
    # retrieval shapes plus two query-cardinality joins — the eval
    # costs no more than the retrieval it grades.
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    approx = S.ivf_topk(emb, queries, k=3, nprobe=2)
    ex = S.cosine_topk(emb, queries, k=3)
    exact = ex.select(
        "query_id", "vec_id", (4 - F.col("rank")).cast("bigint").alias("rel"),
        F.col("rank").alias("r"),
    )
    dcg = (
        approx.join(exact, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.coalesce(F.col("rel"), F.lit(0)).cast("double")
                / F.log2((F.col("rank") + 1).cast("double"))
            ).alias("dcg")
        )
    )
    idcg = exact.groupBy("query_id").agg(
        F.sum(
            F.col("rel").cast("double") / F.log2((F.col("r") + 1).cast("double"))
        ).alias("idcg")
    )
    return dcg.join(idcg, "query_id").select(
        "query_id",
        F.round(F.col("dcg"), 6).alias("dcg"),
        F.round(F.col("idcg"), 6).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )


@register(
    "q_eval_recall_at_k",
    oracle=f"""
    WITH approx AS ({_IVF_ORACLE}),
    n AS (SELECT vec_id, embedding, {_NORM_SQL} AS norm FROM embeddings),
    ex_scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
             {_PAIR_DOT_SQL} / (a.norm * b.norm) AS cos
      FROM n a JOIN n b ON b.vec_id < 8 AND a.vec_id <> b.vec_id
    ),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, vec_id) AS r
        FROM ex_scored
      ) WHERE r <= 3
    )
    SELECT e.query_id,
           CAST(count(a.vec_id) AS BIGINT) AS hits,
           CAST(count(a.vec_id) AS DOUBLE) / 3 AS recall_at_3
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
)
def q_eval_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Recall@3 of the IVF nprobe=2 retrieval against the exact cosine
    # top-3, per query: hits = |approx ∩ exact| is an exact integer
    # (no float compare anywhere — membership is by id), recall one
    # double division. The companion to q_eval_ndcg's graded metric;
    # together they make retrieval quality a first-class auditable
    # query. 100 TB: the two retrieval arms plus one query-cardinality
    # join.
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    approx = S.ivf_topk(emb, queries, k=3, nprobe=2).select(
        "query_id", "vec_id", F.lit(1).alias("__hit")
    )
    exact = S.cosine_topk(emb, queries, k=3).select("query_id", "vec_id")
    return (
        exact.join(approx, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").cast("bigint").alias("hits"),
            (F.count("__hit").cast("double") / 3).alias("recall_at_3"),
        )
    )


def _ivf_recall_arm_sql(np_: int) -> str:
    # one sweep arm: the shared IVF oracle re-probed at nprobe=np_
    # (string-rewriting the probe cutoff, the q_ml_ridge technique),
    # intersected by id with the exact top-3.
    return f"""
    SELECT CAST({np_} AS BIGINT) AS nprobe,
           CAST(count(a.vec_id) AS BIGINT) AS hits,
           CAST(count(a.vec_id) AS DOUBLE) / (3 * 8) AS recall
    FROM exact e LEFT JOIN ({_IVF_ORACLE.replace("r <= 2", f"r <= {np_}")}) a
      ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    """


@register(
    "q_eval_ivf_sweep",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQL} AS norm FROM embeddings),
    ex_scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
             {_PAIR_DOT_SQL} / (a.norm * b.norm) AS cos
      FROM n a JOIN n b ON b.vec_id < 8 AND a.vec_id <> b.vec_id
    ),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, vec_id) AS r
        FROM ex_scored
      ) WHERE r <= 3
    )
    {_ivf_recall_arm_sql(1)}
    UNION ALL {_ivf_recall_arm_sql(2)}
    UNION ALL {_ivf_recall_arm_sql(3)}
    """,
)
def q_eval_ivf_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The IVF operating-point curve: overall recall@3 at nprobe = 1, 2,
    # 3 as ONE unioned query — the probe-count/quality trade-off a
    # serving team reads before picking a config. Hits are exact
    # integer id-intersections (24 = 8 queries × top-3 denominator);
    # the three arms share the centroid build and the exact arm. 100 TB
    # posture: each arm is the banded IVF shape; the sweep multiplies
    # probe work, never corpus shuffles.
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = S.cosine_topk(emb, queries, k=3).select("query_id", "vec_id")
    exact = exact.localCheckpoint(eager=False)  # shared by all three arms
    arms = []
    for np_ in (1, 2, 3):
        approx = S.ivf_topk(emb, queries, k=3, nprobe=np_).select(
            "query_id", "vec_id", F.lit(1).alias("__hit")
        )
        arms.append(
            exact.join(approx, ["query_id", "vec_id"], "left").agg(
                F.lit(np_).cast("bigint").alias("nprobe"),
                F.count("__hit").cast("bigint").alias("hits"),
                (F.count("__hit").cast("double") / (3 * 8)).alias("recall"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


@register(
    "q_text_lm_interp",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l)), i -> l[i])) AS w1,
             unnest(list_transform(range(1, len(l)), i -> l[i + 1])) AS w2
      FROM t
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    uc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1),
    vc AS (SELECT w2, sum(c12) AS c2 FROM bc GROUP BY w2),
    tt AS (SELECT sum(c12) AS tb FROM bc)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-avg(ln(0.7 * (CAST(c12 AS DOUBLE) / c1)
                         + 0.3 * (CAST(c2 AS DOUBLE) / tb))), 6) AS avg_nll_jm
    FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1) JOIN vc USING (w2)
    CROSS JOIN tt
    GROUP BY doc_id
    """,
)
def q_text_lm_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Jelinek-Mercer interpolated bigram LM perplexity — the smoothed
    # upgrade of q_text_perplexity that never assigns zero mass:
    # p(w2|w1) = 0.7·c12/c1 + 0.3·c2/T (bigram MLE backed off to the
    # second-position unigram). One extra vocabulary-sized aggregate
    # (c2 per w2) and a broadcast scalar T on top of the perplexity
    # plan; ln-sum is merge-order float → round-6 (parity rule 5).
    # 100 TB: still one bigram-position shuffle; both LM sides are
    # vocabulary-sized and broadcast under AQE.
    bg = _bigrams(spark, sf_dir, "doc_id")
    bc, uc = _bigram_lm(bg)
    vc = bc.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tt = bc.agg(F.sum("c12").alias("tb"))
    p = F.lit(0.7) * (F.col("c12").cast("double") / F.col("c1")) + F.lit(0.3) * (
        F.col("c2").cast("double") / F.col("tb")
    )
    return (
        bg.join(bc, ["w1", "w2"])
        .join(F.broadcast(uc), "w1")
        .join(F.broadcast(vc), "w2")
        .crossJoin(F.broadcast(tt))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg(F.log(p)), 6).alias("avg_nll_jm"),
        )
    )


@register(
    "q_sink_wap",
    oracle="""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_sink_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Write-audit-publish: the snapshot-isolation protocol every
    # lakehouse commit implements, demonstrated with plain directories
    # — write the new snapshot to a STAGING path, run audits against
    # the staged files (readers still see nothing), and only an
    # audit-pass publishes via an atomic rename; a failed audit leaves
    # no partial state visible. Audits here: non-empty, no NULL keys,
    # exact row-count match against an independent recount. The
    # returned frame reads the PUBLISHED path, so the oracle checks
    # the full stage→audit→publish round trip. At 100 TB the rename
    # becomes a metastore/table-format commit (Iceberg/Delta swap the
    # pointer, same protocol); the audit pass is one scan of the new
    # snapshot only.
    import os
    import shutil

    cu = table(spark, sf_dir, "customer")
    na = table(spark, sf_dir, "nation")
    out = (
        cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
    )
    root = run_tmp("wap")
    stage = os.path.join(root, "_staging")
    publish = os.path.join(root, "published")
    out.write.mode("overwrite").parquet(stage)
    staged = spark.read.parquet(stage)
    audit = staged.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("n_name").isNull(), 1).otherwise(0)).alias("null_keys"),
    ).collect()[0]
    expected = na.join(cu, cu.c_nationkey == na.n_nationkey, "left_semi").count()
    if audit.rows == 0 or audit.null_keys != 0 or audit.rows != expected:
        shutil.rmtree(stage, ignore_errors=True)  # failed audit: nothing publishes
        raise AssertionError(
            f"WAP audit failed: rows={audit.rows} expected={expected} "
            f"null_keys={audit.null_keys}"
        )
    os.rename(stage, publish)  # atomic on one filesystem — the commit point
    return spark.read.parquet(publish)


@register(
    "q_eval_map",
    oracle=f"""
    WITH approx AS ({_IVF_ORACLE}),
    n AS (SELECT vec_id, embedding, {_NORM_SQL} AS norm FROM embeddings),
    ex_scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
             {_PAIR_DOT_SQL} / (a.norm * b.norm) AS cos
      FROM n a JOIN n b ON b.vec_id < 8 AND a.vec_id <> b.vec_id
    ),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, vec_id) AS r
        FROM ex_scored
      ) WHERE r <= 3
    ),
    flags AS (
      SELECT a.query_id, a.rank,
             CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM approx a LEFT JOIN exact e
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    ),
    prec AS (
      SELECT query_id, rank, hit,
             CAST(sum(hit) OVER (PARTITION BY query_id ORDER BY rank
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumh
      FROM flags
    )
    SELECT query_id,
           CAST(sum(hit) AS BIGINT) AS hits,
           sum(hit * (CAST(cumh AS DOUBLE) / rank)) / 3 AS ap_at_3
    FROM prec GROUP BY query_id
    """,
)
def q_eval_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Average precision@3 of the IVF retrieval per query (the third
    # retrieval-quality lens beside NDCG and recall): precision at
    # each HIT position, averaged over the 3 relevant items —
    # AP = Σ_k hit_k·(cum_hits@k / k) / 3. The running hit count is an
    # exact integer under the unique rank order, each precision term
    # is one exact-input division, and the ≤3-term sum is evaluated in
    # the same grouped order by both engines — no rounding. 100 TB:
    # the two retrieval arms + one query-partitioned 3-row window.
    from pyspark.sql.window import Window

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    approx = S.ivf_topk(emb, queries, k=3, nprobe=2)
    exact = S.cosine_topk(emb, queries, k=3).select(
        "query_id", "vec_id", F.lit(1).alias("__rel")
    )
    flags = approx.join(exact, ["query_id", "vec_id"], "left").select(
        "query_id",
        "rank",
        F.coalesce(F.col("__rel"), F.lit(0)).alias("hit"),
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prec = flags.withColumn("cumh", F.sum("hit").over(w).cast("bigint"))
    return prec.groupBy("query_id").agg(
        F.sum("hit").cast("bigint").alias("hits"),
        (
            F.sum(F.col("hit") * (F.col("cumh").cast("double") / F.col("rank")))
            / 3
        ).alias("ap_at_3"),
    )


@register(
    "q_similarity_range",
    oracle=f"""
    WITH n AS (SELECT vec_id, embedding, {_NORM_SQL} AS norm FROM embeddings),
    scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
             {_PAIR_DOT_SQL} / (a.norm * b.norm) AS cos
      FROM n a JOIN n b ON b.vec_id < 8 AND a.vec_id <> b.vec_id
    )
    SELECT query_id, vec_id, cos FROM scored WHERE cos >= 0.35
    """,
)
def q_similarity_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Radius (range) search — top-k's fixed-quality sibling: every
    # vector with cosine >= 0.35 of each of the 8 query vectors
    # (operators/similarity.py: cosine_range). Same broadcast-queries /
    # corpus-never-shuffles shape as q_similarity_topk, but with NO
    # window at all: the threshold filter is scan-local, so only the
    # matching rows move — the natural shape for "give me everything at
    # least this similar" dedup/recall jobs at 100 TB. The cosine is
    # the identical sequential double fold both engines run
    # (F.aggregate left fold == list_reduce), so the >= cut selects the
    # same rows bit-exactly.
    emb = table(spark, sf_dir, "embeddings")
    return S.cosine_range(emb, emb.filter(F.col("vec_id") < 8), threshold=0.35)


_MH_SIG16_SQL = """
      SELECT doc_id, band,
             list_min(list_transform(shingles,
               s -> substring(md5(concat('g', band // 4, '|', s)), 1 + 8 * (band % 4), 8))) AS sig
      FROM shd16, (SELECT unnest(generate_series(0, 15)) AS band) bands
      WHERE len(shingles) > 0
"""


@register(
    "q_eval_minhash_jaccard",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    shd16 AS (SELECT doc_id, {_sh_sql(3)} AS shingles FROM tok),
    sig4 AS (
      SELECT doc_id, band,
             list_min(list_transform(shingles,
               s -> substring(md5(concat('g', band // 4, '|', s)), 1 + 8 * (band % 4), 8))) AS sig
      FROM shd16, (SELECT unnest([0, 1, 2, 3]) AS band) bands
      WHERE len(shingles) > 0
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig4 a JOIN sig4 b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sig16 AS ({_MH_SIG16_SQL}),
    m AS (
      SELECT c.doc_a, c.doc_b,
             CAST(count(*) FILTER (WHERE sa.sig = sb.sig) AS BIGINT) AS m
      FROM cand c
      JOIN sig16 sa ON sa.doc_id = c.doc_a
      JOIN sig16 sb ON sb.doc_id = c.doc_b AND sb.band = sa.band
      GROUP BY 1, 2
    ),
    shex AS (
      SELECT DISTINCT doc_id, unnest(shingles) AS s FROM shd16
    ),
    n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ns FROM shex GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
      FROM cand c
      JOIN shex a ON a.doc_id = c.doc_a
      JOIN shex b ON b.doc_id = c.doc_b AND b.s = a.s
      GROUP BY 1, 2
    ),
    err AS (
      SELECT m.m / 16.0e0
               - CAST(coalesce(i.i, 0) AS DOUBLE)
                 / (na.ns + nb.ns - coalesce(i.i, 0)) AS e
      FROM m
      LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
      JOIN n na ON na.doc_id = m.doc_a
      JOIN n nb ON nb.doc_id = m.doc_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(abs(e)), 6) AS mae,
           round(avg(e), 6) AS bias
    FROM err
    """,
)
def q_eval_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Estimator-quality eval for the MinHash dedup family (the
    # q_eval_ndcg/recall discipline applied to near-dedup): over the
    # SAME LSH candidate pairs q_dedup_near emits, compare the 16-hash
    # MinHash Jaccard estimate (matching-signature fraction) against
    # the EXACT shingle-set Jaccard, reporting MAE and signed bias.
    # The estimate is conditioned on LSH candidacy (pairs that collided
    # in at least one of the 4 candidate bands, which are the first 4
    # of the 16 hashes) — that selection bias is exactly what this key
    # measures: it is why verified-dedup pipelines re-check candidates
    # (q_dedup_near_verified) instead of trusting the sketch. Exact
    # intersections are computed ONLY for candidate docs (semi-join
    # restriction first), so the shingle self-join is bounded by
    # candidate volume — the LSH bound, never corpus². avg() of
    # per-pair doubles is merge-order-sensitive → round-6 (rule 5);
    # each per-pair term is exact-int arithmetic into two divisions.
    from trembita_spark.operators import dedup as D2

    docs = table(spark, sf_dir, "documents")
    cand = D2.minhash_lsh_candidates(docs, bands=4, k=3).localCheckpoint(
        eager=False
    )  # reused: signature match + exact-jaccard restriction
    sig16 = D2.minhash_signatures(docs, bands=16, k=3).localCheckpoint(
        eager=False
    )  # reused: both sides of the signature match
    sa = sig16.select(
        F.col("doc_id").alias("doc_a"), "band", F.col("sig").alias("sig_a")
    )
    sb = sig16.select(
        F.col("doc_id").alias("doc_b2"),
        F.col("band").alias("band_b"),
        F.col("sig").alias("sig_b"),
    )
    m = (
        cand.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("doc_b2")) & (F.col("band") == F.col("band_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.when(F.col("sig_a") == F.col("sig_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("m")
        )
    )
    shex = (
        docs.select(
            F.col("doc_id"),
            F.explode(D2.shingles_expr("text", 3)).alias("s"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # reused: counts + intersections
    )
    n = shex.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("ns"))
    xa = shex.select(F.col("doc_id").alias("doc_a"), "s")
    xb = shex.select(F.col("doc_id").alias("doc_b2"), F.col("s").alias("s_b"))
    inter = (
        cand.join(xa, "doc_a")
        .join(
            xb,
            (F.col("doc_b") == F.col("doc_b2")) & (F.col("s") == F.col("s_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    err = (
        m.join(inter, ["doc_a", "doc_b"], "left")
        .join(n.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("na")), "doc_a")
        .join(n.select(F.col("doc_id").alias("doc_b"), F.col("ns").alias("nb")), "doc_b")
        .selectExpr(
            "m / 16.0e0 - CAST(coalesce(i, 0) AS DOUBLE)"
            " / (na + nb - coalesce(i, 0)) AS e"
        )
    )
    return err.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.avg(F.abs(F.col("e"))), 6).alias("mae"),
        F.round(F.avg("e"), 6).alias("bias"),
    )


_BM25_SCORE = (
    "ln((n_docs - df + 0.5e0) / (df + 0.5e0) + 1.0e0)"
    " * tf * (1.2e0 + 1.0e0)"
    " / (tf + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl / avgdl))"
)


@register(
    "q_text_bm25",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    q AS (SELECT unnest(['join', 'hash', 'scan']) AS token),
    tf AS (
      SELECT t.doc_id, t.token, CAST(count(*) AS BIGINT) AS tf
      FROM tok t JOIN q ON t.token = q.token
      GROUP BY 1, 2
    ),
    df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
    SELECT tf.doc_id, round(sum({_BM25_SCORE}), 12) AS bm25,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM tf
    JOIN df ON df.token = tf.token
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Okapi BM25 (k1=1.2, b=0.75) for the fixed 3-term query
    # {join, hash, scan} over the document corpus — tf-idf's
    # saturating, length-normalized successor and the lexical-retrieval
    # baseline every hybrid-search stack keeps next to its ANN arm
    # (this repo's: q_similarity_topk). tf/df/dl/N are exact integers
    # from two hash aggregates; avgdl is one double division; the
    # score shares its exact formula text with the oracle (libm ln is
    # 1-ulp → round-12 after the ≤3-term sum — q_stat_psi discipline).
    # 100 TB: tokenize→filter-to-query-terms FIRST (the semi join makes
    # tf rows ∝ matches, never corpus×vocab), then everything is
    # broadcast-sized: df is ≤3 rows, stats is 1 row; the dl join
    # hash-partitions on doc_id.
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    terms = ["join", "hash", "scan"]
    tf = (
        tok.where(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum(F.expr(_BM25_SCORE)), 12).alias("bm25"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )


@register(
    "q_retrieval_hybrid_rrf",
    oracle=f"""
    WITH q AS (SELECT doc_id AS query_id, text FROM documents WHERE doc_id < 3),
    qtok AS (
      SELECT query_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM q
    ),
    dtok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ),
    lex AS (
      SELECT query_id, doc_id, rank_lex FROM (
        SELECT q.query_id, d.doc_id,
               CAST(row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY count(*) DESC, d.doc_id) AS BIGINT) AS rank_lex
        FROM qtok q JOIN dtok d ON q.token = d.token
        WHERE d.doc_id <> q.query_id
        GROUP BY q.query_id, d.doc_id
      ) WHERE rank_lex <= 20
    ),
    n AS (SELECT vec_id, embedding, {_NORM_SQL} AS norm FROM embeddings),
    ann AS (
      SELECT query_id, doc_id, rank_ann FROM (
        SELECT b.vec_id AS query_id, a.vec_id AS doc_id,
               CAST(row_number() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY {_PAIR_DOT_SQL} / (a.norm * b.norm) DESC, a.vec_id)
                 AS BIGINT) AS rank_ann
        FROM n a JOIN n b ON b.vec_id < 3 AND a.vec_id <> b.vec_id
      ) WHERE rank_ann <= 20
    ),
    fused AS (
      SELECT coalesce(l.query_id, a.query_id) AS query_id,
             coalesce(l.doc_id, a.doc_id) AS doc_id,
             round(coalesce(1.0e0 / (60 + l.rank_lex), 0.0e0)
                 + coalesce(1.0e0 / (60 + a.rank_ann), 0.0e0), 12) AS rrf
      FROM lex l FULL JOIN ann a
        ON l.query_id = a.query_id AND l.doc_id = a.doc_id
    )
    SELECT query_id, doc_id, rrf, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) AS rank
      FROM fused
    ) WHERE rank <= 5
    """,
)
def q_retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hybrid retrieval by reciprocal-rank fusion (k=60), the shape
    # production hybrid search actually ships: a LEXICAL arm (shared
    # distinct-token count vs the query doc, ranked) and an ANN arm
    # (exact cosine over the aligned embeddings, ranked), each
    # TRUNCATED at depth 20 — the WindowGroupLimit-friendly form, and
    # the standard RRF practice (a doc outside an arm's top-20
    # contributes 0 from that arm) — fused by
    # Σ 1/(60 + rank) over a full outer join of the two arms, top-5 per
    # query. Every rank is an exact integer under a deterministic
    # (score desc, doc_id) order; the fusion is a 2-term double
    # expression → round-12. 100 TB: both arms are per-query-bounded
    # (3 broadcast query docs), the rank windows carry WindowGroupLimit
    # pushdown, and the fusion join is |queries|·20 rows a side.
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    from pyspark.sql.window import Window

    qtok = (
        docs.where(F.col("doc_id") < 3)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
        )
    )
    dtok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    overlap = (
        F.broadcast(qtok)
        .join(dtok, "token")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    w_lex = Window.partitionBy("query_id").orderBy(
        F.col("shared").desc(), "doc_id"
    )
    lex = (
        overlap.withColumn("rank_lex", F.row_number().over(w_lex).cast("bigint"))
        .where(F.col("rank_lex") <= 20)
        .select("query_id", "doc_id", "rank_lex")
    )
    ann = (
        S.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=20)
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.col("rank").cast("bigint").alias("rank_ann"),
        )
    )
    fused = (
        lex.join(ann, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("rank_ann")), F.lit(0.0)),
                12,
            ).alias("rrf"),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w_f).cast("int"))
        .where(F.col("rank") <= 5)
    )


def _fp_d2(a: str, b: str) -> str:
    # sequential-fold float64 squared L2 (the _PAIR_DOT_SQL fold shape)
    d = f"(CAST({a}.embedding[i] AS DOUBLE) - CAST({b}.embedding[i] AS DOUBLE))"
    return (
        f"list_reduce(list_transform(generate_series(1, 64), "
        f"i -> {d} * {d}), (x, y) -> x + y)"
    )


@register(
    "q_ml_kmeans_init",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    c1 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
    d2s AS (
      SELECT e.vec_id, e.embedding, {_fp_d2('e', 'c1')} AS d2
      FROM e, c1 WHERE e.vec_id <> c1.vec_id
    ),
    c2 AS (SELECT vec_id, embedding, d2 FROM d2s ORDER BY d2 DESC, vec_id LIMIT 1),
    d3s AS (
      SELECT e.vec_id, e.embedding,
             least({_fp_d2('e', 'c1')}, {_fp_d2('e', 'c2')}) AS d2
      FROM e, c1, c2 WHERE e.vec_id NOT IN (c1.vec_id, c2.vec_id)
    ),
    c3 AS (SELECT vec_id, embedding, d2 FROM d3s ORDER BY d2 DESC, vec_id LIMIT 1),
    d4s AS (
      SELECT e.vec_id,
             least({_fp_d2('e', 'c1')}, {_fp_d2('e', 'c2')}, {_fp_d2('e', 'c3')}) AS d2
      FROM e, c1, c2, c3
      WHERE e.vec_id NOT IN (c1.vec_id, c2.vec_id, c3.vec_id)
    ),
    c4 AS (SELECT vec_id, d2 FROM d4s ORDER BY d2 DESC, vec_id LIMIT 1)
    SELECT CAST(1 AS INT) AS step, vec_id, CAST(NULL AS DOUBLE) AS d2 FROM c1
    UNION ALL SELECT 2, vec_id, d2 FROM c2
    UNION ALL SELECT 3, vec_id, d2 FROM c3
    UNION ALL SELECT 4, vec_id, d2 FROM c4
    """,
)
def q_ml_kmeans_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic k-means++-style seeding (operators/similarity.py:
    # farthest_point_init — Gonzalez farthest-point, k=4): center 1 is
    # the lowest-id vector, each next center maximizes the min squared
    # distance to those already chosen (ties → lowest id). The INIT
    # stage q_cluster_kmeans's fixed vec_id<8 seeds skip — bad seeds
    # are the dominant k-means failure mode, and farthest-point is the
    # deterministic 2-approximation the ++ sampler degenerates to.
    # Distances are the kmeans/_sqdist sequential fold (bit-identical
    # to the oracle's list_reduce); argmax selection compares those
    # deterministic doubles, id-tiebroken, so NO rounding anywhere.
    # 100 TB: per round candidates × broadcast(≤k centers) + one
    # TakeOrdered(1) — the corpus never shuffles.
    from trembita_spark.operators.similarity import farthest_point_init

    emb = table(spark, sf_dir, "embeddings")
    out = farthest_point_init(emb, k=4)
    return out.select(
        F.col("step").cast("int").alias("step"),
        F.col("id").alias("vec_id"),
        "d2",
    )


@register(
    "q_text_vocab_coverage",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
      FROM documents
    ),
    cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
    vocab AS (
      SELECT t FROM cnt ORDER BY c DESC, t LIMIT 200
    ),
    j AS (
      SELECT tok.lang,
             CASE WHEN vocab.t IS NOT NULL THEN 1 ELSE 0 END AS in_v
      FROM tok LEFT JOIN vocab ON tok.t = vocab.t
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(in_v) AS BIGINT) AS in_vocab,
           CAST(sum(in_v) AS DOUBLE) / count(*) AS coverage,
           1.0e0 - CAST(sum(in_v) AS DOUBLE) / count(*) AS oov_rate
    FROM j GROUP BY lang
    """,
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenizer-vocabulary coverage: build the top-200 token vocabulary
    # by corpus frequency (unique (count desc, token) order), then per
    # language report what share of token OCCURRENCES the vocab covers
    # and the OOV rate — the first number a tokenizer design review
    # asks for, and the per-language fairness check UniMax-style
    # allocation needs. One explode → hash-count pass builds the
    # frequency table; the vocab is a TakeOrderedAndProject; membership
    # joins back BROADCAST (vocab is config-sized); coverage is exact
    # integer division — NO rounding. 100 TB: two passes over the token
    # stream (count, then membership), vocab-sized broadcast, |langs|
    # output rows.
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("t")
    )
    tok = tok.localCheckpoint(eager=False)  # feeds counts + membership
    cnt = tok.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    vocab = (
        cnt.orderBy(F.col("c").desc(), "t")
        .limit(200)
        .select("t", F.lit(1).alias("in_v"))
    )
    j = tok.join(F.broadcast(vocab), "t", "left").select(
        "lang", F.coalesce("in_v", F.lit(0)).alias("in_v")
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("in_v").cast("bigint").alias("in_vocab"),
        (F.sum("in_v").cast("double") / F.count(F.lit(1))).alias("coverage"),
        (1.0 - F.sum("in_v").cast("double") / F.count(F.lit(1))).alias("oov_rate"),
    )


@register(
    "q_corpus_dup_rate_by_source",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT doc_id, {_sh_sql(3)} AS shingles FROM tok),
    sig AS (
      SELECT doc_id, band,
             list_min(list_transform(shingles, s -> substring(md5(concat('g', band // 4, '|', s)), 1 + 8 * (band % 4), 8))) AS sig
      FROM sh, (SELECT unnest([0, 1, 2, 3]) AS band) bands
      WHERE len(shingles) > 0
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    src AS (SELECT doc_id, source FROM documents),
    lab AS (
      SELECT least(sa.source, sb.source) AS source_a,
             greatest(sa.source, sb.source) AS source_b,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs
      JOIN src sa ON pairs.doc_a = sa.doc_id
      JOIN src sb ON pairs.doc_b = sb.doc_id
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    )
    SELECT lab.source_a, lab.source_b, lab.n_pairs,
           ta.n_docs AS n_docs_a, tb.n_docs AS n_docs_b,
           CAST(lab.n_pairs AS DOUBLE)
             / (CASE WHEN lab.source_a = lab.source_b
                     THEN ta.n_docs * (ta.n_docs - 1) / 2
                     ELSE ta.n_docs * tb.n_docs END) AS pair_rate
    FROM lab
    JOIN tot ta ON lab.source_a = ta.source
    JOIN tot tb ON lab.source_b = tb.source
    """,
)
def q_corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-health rollup: the SAME banded-MinHash candidate pairs
    # q_dedup_near emits, attributed to (source, source) cells and
    # normalized by the possible-pair count (n(n-1)/2 within a source,
    # n_a*n_b across) — the which-crawl-is-contaminating-which readout
    # a 100 TB corpus build triages dedup spend with. Candidate
    # generation stays bucket-local (never corpus²); the rollup adds
    # two broadcast doc->source joins (the source map is dimension-
    # sized) and one cell aggregate; rates are exact-integer ratios —
    # NO rounding. Output is |sources|²-bounded.
    docs = table(spark, sf_dir, "documents")
    docs = docs.localCheckpoint(eager=False)  # feeds LSH + source map + totals
    pairs = D.minhash_lsh_candidates(docs, bands=4, k=3)
    src = docs.select("doc_id", "source")
    sa = src.selectExpr("doc_id AS doc_a", "source AS src_a")
    sb = src.selectExpr("doc_id AS doc_b", "source AS src_b")
    lab = (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    tot = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    ta = tot.selectExpr("source AS source_a", "n_docs AS n_docs_a")
    tb = tot.selectExpr("source AS source_b", "n_docs AS n_docs_b")
    denom = F.when(
        F.col("source_a") == F.col("source_b"),
        F.col("n_docs_a") * (F.col("n_docs_a") - 1) / 2,
    ).otherwise(F.col("n_docs_a") * F.col("n_docs_b"))
    return (
        lab.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            "n_docs_a",
            "n_docs_b",
            (F.col("n_pairs").cast("double") / denom).alias("pair_rate"),
        )
    )


@register(
    "q_dedup_threshold_sweep",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT doc_id, {_sh_sql(3)} AS shingles FROM tok),
    sig AS (
      SELECT doc_id, band,
             list_min(list_transform(shingles, s -> substring(md5(concat('g', band // 4, '|', s)), 1 + 8 * (band % 4), 8))) AS sig
      FROM sh, (SELECT unnest([0, 1, 2, 3]) AS band) bands
      WHERE len(shingles) > 0
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    ds AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ds GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
      FROM cand c
      JOIN ds da ON da.doc_id = c.doc_a
      JOIN ds db ON db.doc_id = c.doc_b AND db.s = da.s
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT CAST(floor(CAST(inter AS DOUBLE)
                        / CAST(sa.sz + sb.sz - inter AS DOUBLE) * 10) AS BIGINT)
               AS bucket
      FROM inter
      JOIN sz sa ON sa.doc_id = doc_a
      JOIN sz sb ON sb.doc_id = doc_b
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs
    FROM jac GROUP BY bucket
    """,
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dedup-threshold calibration curve: the decile histogram of EXACT
    # trigram-Jaccard over ALL LSH candidate pairs (no min filter) —
    # the corpus-health sweep you run BEFORE choosing the near-dup
    # knob: it shows where the candidate mass sits (LSH false positives
    # at low deciles vs true near-dups at high), so the q_dedup_near_
    # verified threshold is a measurement, not a guess. Work is the
    # same two-stage shape (candidates → verify ∝ |candidates| ×
    # shingles, never corpus²); the sweep itself adds one integer
    # bucket aggregate — floor(j·10) of the engine-identical exact
    # ratio, so the histogram is bit-exact. At 100 TB: identical
    # posture to q_dedup_near_verified, output is ≤11 rows.
    pairs = D.lsh_verified_pairs(
        table(spark, sf_dir, "documents"), bands=4, k=3, min_jaccard=0.0
    )
    return (
        pairs.select(
            F.floor(F.col("jaccard") * 10).cast("bigint").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


@register(
    "q_text_burstiness",
    oracle="""
    WITH tfc AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      ) GROUP BY 1, 2
    ),
    per AS (
      SELECT token,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS s,
             CAST(sum(CAST(tf AS HUGEINT) * tf) AS HUGEINT) AS ss
      FROM tfc GROUP BY token
    ),
    top AS (
      SELECT * FROM per ORDER BY df DESC, token LIMIT 10
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT token, df, s AS total_tf,
           CAST(CAST(n_docs AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
             / CAST(CAST(n_docs AS HUGEINT) * s AS DOUBLE) AS vmr
    FROM top, n
    """,
)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Term burstiness (Church-Gale): the variance-to-mean ratio of
    # per-document counts — including the zero counts of documents NOT
    # containing the term, handled in closed form:
    # VMR = (N·Σc² − (Σc)²)/(N·Σc) over all N docs, where only
    # occurrence rows are ever materialized. VMR ≈ 1 means Poisson
    # scatter (function words); VMR ≫ 1 means bursty content terms —
    # the corpus-linguistics signal behind stopword lists, keyword
    # weighting, and topical-dup screens. Reported for the top-10
    # document-frequency terms (unique order: df desc, token asc — a
    # TakeOrdered, never a global sort). All moments exact
    # integers; VMR is one double division — bit-exact, no rounding.
    # At 100 TB: one (doc, token) agg + one token agg + a top-k.
    docs = table(spark, sf_dir, "documents")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    tfc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    per = tfc.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("s"),
        F.sum(dec(F.col("tf")) * F.col("tf")).cast("decimal(38,0)").alias("ss"),
    )
    top = per.orderBy(F.col("df").desc(), F.col("token")).limit(10)
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    j = top.crossJoin(F.broadcast(n))
    return j.select(
        "token",
        "df",
        F.col("s").alias("total_tf"),
        (
            (dec(F.col("n_docs")) * F.col("ss") - dec(F.col("s")) * F.col("s"))
            .cast("double")
            / (dec(F.col("n_docs")) * F.col("s")).cast("double")
        ).alias("vmr"),
    )


@register(
    "q_text_ngram_novelty",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT doc_id, {_sh_sql(3)} AS shingles FROM tok),
    tr AS (
      SELECT DISTINCT unnest(shingles) AS g FROM sh WHERE doc_id % 5 <> 0
    ),
    te AS (
      SELECT DISTINCT unnest(shingles) AS g FROM sh WHERE doc_id % 5 = 0
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_test_grams,
             CAST(count(*) FILTER (WHERE g NOT IN (SELECT g FROM tr)) AS BIGINT)
               AS n_novel
      FROM te
    )
    SELECT n_test_grams, n_novel,
           CAST(n_novel AS DOUBLE) / n_test_grams AS novelty_rate
    FROM m
    """,
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # N-gram novelty of a held-out split: the fraction of the test
    # split's distinct word trigrams NEVER seen in the train split —
    # the generalization-pressure metric behind contamination audits
    # (novelty ~ 0 means the eval set is memorizable from train) and
    # the dedup-strength dial (over-aggressive dedup drives novelty
    # toward 1 by deleting shared boilerplate). Deterministic 80/20
    # split on doc_id % 5; distinct-gram frames + one anti join — the
    # exact complement of q_text_contamination's semi join. All-integer
    # counts, one exact ratio. At 100 TB: two distinct-gram aggregates
    # + a hash anti join keyed on the gram — work ∝ vocabulary of
    # 3-grams, never pairwise.
    from trembita_spark.operators.dedup import shingles_expr

    docs = table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", F.explode(shingles_expr("text", 3)).alias("g"))
    tr = sh.where(F.col("doc_id") % 5 != 0).select("g").distinct()
    te = sh.where(F.col("doc_id") % 5 == 0).select("g").distinct()
    novel = te.join(tr, "g", "left_anti")
    m = te.agg(F.count(F.lit(1)).cast("bigint").alias("n_test_grams")).crossJoin(
        F.broadcast(novel.agg(F.count(F.lit(1)).cast("bigint").alias("n_novel")))
    )
    return m.select(
        "n_test_grams",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_test_grams")).alias(
            "novelty_rate"
        ),
    )


@register(
    "q_embedding_anisotropy",
    oracle=f"""
    WITH comp AS (
      SELECT s.j, CAST(embedding[s.j] AS DECIMAL(18,12)) AS x
      FROM embeddings,
           unnest(generate_series(1, len(embedding))) AS s(j)
    ),
    dims AS (
      SELECT j, CAST(sum(x) AS DOUBLE) AS sj
      FROM comp GROUP BY j
    ),
    mu AS (SELECT sum(sj * sj) AS mu2 FROM dims),
    nrm AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST({_NORM_SQL} AS DECIMAL(18,12))) AS DOUBLE) AS norm_sum
      FROM embeddings
    )
    SELECT n, norm_sum,
           round(sqrt(mu2) / n, 6) AS centroid_norm,
           round(sqrt(mu2) / norm_sum, 6) AS r_bar
    FROM nrm, mu
    """,
)
def q_embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Embedding ANISOTROPY audit — the "narrow cone" pathology check
    # (Ethayarajh-style): contextual embedding spaces often collapse
    # toward a common direction, which silently breaks cosine
    # similarity (everything looks similar). Mean resultant length
    # R̄ = ‖Σv‖ / Σ‖v‖ is the direction-concentration statistic: ~0
    # for an isotropic cloud, → 1 as vectors align; centroid_norm =
    # ‖Σv‖/n is its unnormalized sibling. Per-dimension sums ride the
    # decimal(18,12) trick (exact, order-free — parity rule 4); the
    # 64-term Σ s_j² and the norms' fold are the only engine-ordered
    # float sums → round-6 on the two ratios (rule 5), with n and the
    # decimal norm_sum exact. At 100 TB: one posexplode scan to a
    # |dims|-row aggregate + one norm scan — no shuffle wider than the
    # 64-dim frame. Pair with q_embedding_covariance/PCA for the full spectrum.
    from trembita_spark.operators.similarity import with_norm

    emb = table(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode("embedding").alias("j", "x")
    ).select("j", F.col("x").cast("decimal(18,12)").alias("x"))
    dims = comp.groupBy("j").agg(F.sum("x").cast("double").alias("sj"))
    mu = dims.agg(F.sum(F.col("sj") * F.col("sj")).alias("mu2"))
    nrm = with_norm(emb).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("norm").cast("decimal(18,12)")).cast("double").alias("norm_sum"),
    )
    m = nrm.crossJoin(F.broadcast(mu))
    return m.select(
        "n",
        "norm_sum",
        F.round(F.sqrt(F.col("mu2")) / F.col("n"), 6).alias("centroid_norm"),
        F.round(F.sqrt(F.col("mu2")) / F.col("norm_sum"), 6).alias("r_bar"),
    )


@register(
    "q_text_heaps_law",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tpd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok FROM tok GROUP BY 1
    ),
    fo AS (SELECT token, CAST(min(doc_id) AS BIGINT) AS fd FROM tok GROUP BY 1),
    nv AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS ntypes FROM fo GROUP BY 1),
    base AS (
      SELECT tpd.doc_id, tpd.ntok, COALESCE(nv.ntypes, 0) AS ntypes
      FROM tpd LEFT JOIN nv USING (doc_id)
    ),
    cum AS (
      SELECT doc_id,
             CAST(sum(ntok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS t_d,
             CAST(sum(ntypes) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS v_d
      FROM base
    ),
    lg AS (
      SELECT CAST(ln(CAST(t_d AS DOUBLE)) AS DECIMAL(38,12)) AS lx,
             CAST(ln(CAST(v_d AS DOUBLE)) AS DECIMAL(38,12)) AS ly,
             CAST(ln(CAST(t_d AS DOUBLE)) * ln(CAST(v_d AS DOUBLE))
                  AS DECIMAL(38,12)) AS lxy,
             CAST(ln(CAST(t_d AS DOUBLE)) * ln(CAST(t_d AS DOUBLE))
                  AS DECIMAL(38,12)) AS lxx
      FROM cum
    ),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n, sum(lx) AS sx, sum(ly) AS sy,
             sum(lxy) AS sxy, sum(lxx) AS sxx
      FROM lg
    ),
    fit AS (
      SELECT n, sx, sy,
             (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               AS beta
      FROM mo
    ),
    f2 AS (
      SELECT n, beta,
             (CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE)) / n AS ln_k
      FROM fit
    )
    SELECT n AS n_docs, round(beta, 6) AS beta, round(ln_k, 6) AS ln_k
    FROM f2
    """,
)
def q_text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Heaps' law fit over the corpus: V(T) ~ k T^beta, estimated by OLS
    # of ln V_d on ln T_d at every document boundary in doc_id order —
    # the vocabulary-growth fingerprint next to q_text_zipf's
    # rank-frequency curve (beta ~ 0.4-0.6 for natural text; beta near
    # 1 means unbounded novelty = noise, near 0 means boilerplate).
    # T_d/V_d are exact integer prefix sums: per-doc token counts and
    # per-doc NEW-type counts (each type attributed to min(doc_id) via
    # one groupBy — never a per-token window), both cumulated by the
    # distributed prefix sum over the doc-id-support frame. The ln
    # moment terms are quantized to DECIMAL(38,12) per doc row and
    # summed EXACTLY (the anderson_darling lane) so the doc-sized
    # reduce is order-insensitive; beta/ln_k are staged double trees,
    # round-6 against the per-row libm-ln ulp skew. 100 TB: one token
    # explode + two groupBys + two prefix sums over the DOC support —
    # work ~ corpus tokens for the scan, doc-count for everything
    # after.
    from trembita_spark.operators.ranking import prefix_sum_multi

    doc = table(spark, sf_dir, "documents")
    tok = doc.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tpd = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("ntok"))
    fo = tok.groupBy("token").agg(F.min("doc_id").cast("bigint").alias("fd"))
    nv = fo.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ntypes")
    )
    base = (
        tpd.join(nv, "doc_id", "left")
        .select(
            "doc_id",
            "ntok",
            F.coalesce("ntypes", F.lit(0)).cast("bigint").alias("ntypes"),
        )
    )
    base = base.localCheckpoint(eager=False)  # feeds the two prefix sums
    cum = prefix_sum_multi(
        base, ["ntok", "ntypes"], [F.col("doc_id")], ["t_d", "v_d"]
    )
    lg = cum.selectExpr(
        "CAST(ln(CAST(t_d AS DOUBLE)) AS DECIMAL(38,12)) AS lx",
        "CAST(ln(CAST(v_d AS DOUBLE)) AS DECIMAL(38,12)) AS ly",
        "CAST(ln(CAST(t_d AS DOUBLE)) * ln(CAST(v_d AS DOUBLE))"
        " AS DECIMAL(38,12)) AS lxy",
        "CAST(ln(CAST(t_d AS DOUBLE)) * ln(CAST(t_d AS DOUBLE))"
        " AS DECIMAL(38,12)) AS lxx",
    )
    mo = lg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum("lxy").alias("sxy"),
        F.sum("lxx").alias("sxx"),
    )
    fit = mo.selectExpr(
        "n",
        "sx",
        "sy",
        "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " AS beta",
    )
    f2 = fit.selectExpr(
        "n",
        "beta",
        "(CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE)) / n AS ln_k",
    )
    return f2.selectExpr(
        "n AS n_docs", "round(beta, 6) AS beta", "round(ln_k, 6) AS ln_k"
    )
