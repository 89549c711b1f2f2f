"""Extension-op query surface (SURVEY.md §2.9 / build charter): the
LLM-training-data-pipeline operators over ``documents`` and
``embeddings``, each with a DuckDB oracle that recomputes the SAME
algorithm (md5-based hashing and explicit folds make that possible).

Thresholds are calibrated to the synthetic corpus (31-word vocab,
one genuine 3-gram near-dup pair, random unit-ish embeddings) so every
query returns meaningful rows at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    dedup_exact,
    dedup_minhash_pairs,
    embedding_neardup_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from ..operators.multimodal import attach_media, extract_features, parse_props
from ..operators.similarity import similarity_topk, similarity_topk_ivf
from ..functions.quantize import q6_sql
from ..operators.text import (
    LANG_MARKERS,
    STOPWORDS,
    doc_fingerprint,
    lang_id,
    n_tokens,
    n_tokens_bpe,
    punct_ratio,
    quality_score,
    stopword_ratio,
)
from .testdata_queries import _t

# Shared DuckDB fragments -------------------------------------------------

SQL_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"
SQL_SHINGLES1 = f"list_distinct({SQL_TOKS})"
# word 3-grams: positions 1..len-2, each joined with spaces
SQL_SHINGLES3 = (
    f"CASE WHEN len({SQL_TOKS}) >= 3 THEN "
    f"list_distinct(list_transform(range(1, len({SQL_TOKS}) - 1), "
    f"i -> array_to_string(list_slice({SQL_TOKS}, i, i + 2), ' '))) "
    f"ELSE [] END"
)
SQL_NORMTEXT = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


# --------------------------------------------------------------------------
# Text analysis (X4)
# --------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — per-doc lexical statistics: char/token/BPE-ish counts,
    stopword + punctuation ratios, composite quality score (the cheap
    pre-filter pass of a training-data pipeline)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_calc"),
        n_tokens("text").cast("bigint").alias("n_tokens"),
        n_tokens_bpe("text").cast("bigint").alias("n_tokens_bpe"),
        # raw ratios (round-7 sweep): quotients of exact counts
        stopword_ratio("text").alias("stopword_ratio"),
        punct_ratio("text").alias("punct_ratio"),
        quality_score("text").alias("quality_score"),
    )


_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

# DuckDB mirror of operators/text.py::quality_score — kept as one
# fragment so every oracle that ranks/filters on quality uses the
# exact same expression as ORACLE_TEXT_STATS.
SQL_QUALITY = f"""(
    least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.5
    + least(2 * CAST(len(list_filter({{toks}}, t -> list_contains({_STOP_LIST}, t))) AS DOUBLE)
            / CAST(len({{toks}}) AS DOUBLE), 1.0) * 0.3
    + (1 - least(4 * CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()\\[\\]{{{{}}}}\\-]', '', 'g')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE), 1.0)) * 0.2)""".format(
    toks=SQL_TOKS
)

ORACLE_TEXT_STATS = f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_calc,
  CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS BIGINT) AS n_tokens_bpe,
  CAST(len(list_filter({SQL_TOKS}, t -> list_contains({_STOP_LIST}, t))) AS DOUBLE)
        / CAST(len({SQL_TOKS}) AS DOUBLE) AS stopword_ratio,
  CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()\\[\\]{{}}\\-]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE) AS punct_ratio,
  (
    least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.5
    + least(2 * CAST(len(list_filter({SQL_TOKS}, t -> list_contains({_STOP_LIST}, t))) AS DOUBLE)
            / CAST(len({SQL_TOKS}) AS DOUBLE), 1.0) * 0.3
    + (1 - least(4 * CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()\\[\\]{{}}\\-]', '', 'g')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE), 1.0)) * 0.2) AS quality_score
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — marker-word language ID with deterministic argmax
    (strict-greater in fixed language order; zero evidence → und)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_id("text").alias("predicted_lang"))


def _marker_score(lang: str) -> str:
    lst = "[" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + "]"
    return f"len(list_filter({SQL_TOKS}, t -> list_contains({lst}, t)))"


ORACLE_LANG_ID = f"""
WITH s AS (
  SELECT doc_id, lang,
         {_marker_score('en')} AS s_en, {_marker_score('de')} AS s_de,
         {_marker_score('es')} AS s_es, {_marker_score('fr')} AS s_fr
  FROM documents)
SELECT doc_id, lang,
  CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
       WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
       WHEN s_es > greatest(s_en, s_de) THEN 'es'
       WHEN s_de > s_en THEN 'de'
       ELSE 'en' END AS predicted_lang
FROM s
"""


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of actual vs predicted language — the
    evaluation companion of lang_id (the synthetic corpus is English
    word soup, so the matrix exposes exactly how the heuristic
    degrades on mislabeled text)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id("text").alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_LANG_CONFUSION = f"""
WITH s AS (
  SELECT doc_id, lang,
         {{s_en}} AS s_en, {{s_de}} AS s_de, {{s_es}} AS s_es, {{s_fr}} AS s_fr
  FROM documents
), pred AS (
  SELECT lang,
    CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
         WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
         WHEN s_es > greatest(s_en, s_de) THEN 'es'
         WHEN s_de > s_en THEN 'de'
         ELSE 'en' END AS predicted_lang
  FROM s
)
SELECT lang, predicted_lang, COUNT(*) AS n_docs
FROM pred GROUP BY 1, 2
"""


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — corpus language distribution (doc counts + char volume
    per declared lang)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars")).alias("total_chars"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — md5 content fingerprint of normalized text (the dedup
    key; whitespace/case-invariant)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))


# --------------------------------------------------------------------------
# Dedup (X1/X2)
# --------------------------------------------------------------------------


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — rolling-hash (winnowing) fingerprints: min-hash of char
    5-gram rolling hashes per 4-position window; any shared substring
    of length ≥ 8 chars yields a shared fingerprint."""
    from ..operators.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    out = winnow_fingerprints(docs, "doc_id", "text", k=5, window=4)
    return out.select(F.col("id").alias("doc_id"), "fp")


ORACLE_WINNOW = f"""
WITH norm AS (
  SELECT doc_id, {SQL_NORMTEXT} AS n FROM documents
  WHERE length({SQL_NORMTEXT}) >= 5
), g AS (
  SELECT doc_id, t.i AS pos,
         {" + ".join(
             f"CAST(ascii(substr(n, t.i + {j}, 1)) AS BIGINT) * {131 ** j}"
             for j in range(5)
         )} AS h
  FROM norm, UNNEST(range(1, length(n) - 3)) AS t(i)
), win AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
)
SELECT DISTINCT doc_id, fp FROM win
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup demonstrated on a constructed duplicate set: the
    corpus unioned with an id-shifted copy of itself; dedup must keep
    exactly the original (min doc_id) rows."""
    # fan-out REJECTED by measurement (r9): 5k docs normalize+md5 in
    # ~0.3 s single-task; the exchange more than doubles it (0.77 s;
    # OPTIMIZATION_r09.md).
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    dup = docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    both = docs.unionByName(dup)
    return dedup_exact(both, "text", "doc_id", ["lang", "source"])


ORACLE_DEDUP_EXACT = f"""
WITH unioned AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source FROM documents
)
SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
       arg_min(source, doc_id) AS source
FROM unioned GROUP BY md5({SQL_NORMTEXT})
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH(4 bands) near-dup pairs over 3-gram
    shingles, verified with exact Jaccard ≥ 0.8."""
    # fan-out REJECTED by measurement (r9): the pipeline caches the
    # signature frame, so the scan cost is paid once and the exchange
    # only added time (1.42 s vs 1.33 s; OPTIMIZATION_r09.md).
    docs = _t(spark, sf_dir, "documents")
    return dedup_minhash_pairs(
        docs, "doc_id", "text", threshold=0.8, num_hashes=16, num_bands=4, shingle_n=3
    )


def _minhash_ctes() -> str:
    """The MinHash+LSH pipeline as a reusable CTE chain (shared by the
    pair oracle and the clustering oracles)."""
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, array_to_string(list_slice(sig, {b*4+1}, {b*4+4}), '#') AS key FROM sigs"
        for b in range(4)
    )
    return f"""sh AS (
  SELECT doc_id, {SQL_SHINGLES3} AS sh FROM documents
), hs AS (
  SELECT doc_id, sh,
         list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS h
  FROM sh
), hd AS (
  SELECT doc_id, list_distinct(h) AS h FROM hs
), sigs AS (
  SELECT doc_id, sh,
         list_transform(range(0, 16),
           i -> list_min(list_transform(h, x -> ((2*i + 1) * (x % 2147483647) + (1000003*i + 12345)) % 2147483647))) AS sig
  FROM hs
), bands AS (
{band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""


def _oracle_minhash() -> str:
    # Jaccard over the distinct 60-bit shingle hashes — the exact sets
    # the Spark verify stage intersects (operators/dedup.py
    # _shingle_hash60); union = |A| + |B| − |A∩B|.
    return f"""
WITH {_minhash_ctes()}
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(x.h, y.h)) AS DOUBLE)
             / CAST(len(x.h) + len(y.h) - len(list_intersect(x.h, y.h)) AS DOUBLE) AS jaccard_sim
FROM cand c JOIN hd x ON c.id_a = x.doc_id JOIN hd y ON c.id_b = y.doc_id
WHERE CAST(len(list_intersect(x.h, y.h)) AS DOUBLE)
      / CAST(len(x.h) + len(y.h) - len(list_intersect(x.h, y.h)) AS DOUBLE) >= 0.8
"""


_CLUSTER_CTES_SUFFIX = """pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN hd x ON c.id_a = x.doc_id JOIN hd y ON c.id_b = y.doc_id
  WHERE CAST(len(list_intersect(x.h, y.h)) AS DOUBLE)
        / CAST(len(x.h) + len(y.h) - len(list_intersect(x.h, y.h)) AS DOUBLE) >= 0.8
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(root, id) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.root, e.dst FROM reach r JOIN edges e ON r.id = e.src
), cc AS (
  SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY 1
)"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components: every document labeled
    with its cluster id (= the component's minimum doc_id). Iterative
    min-label propagation — see ``operators/dedup.py::dedup_clusters``."""
    from ..operators.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_minhash_pairs(
        docs, "doc_id", "text", threshold=0.8, num_hashes=16, num_bands=4, shingle_n=3
    )
    return dedup_clusters(docs.select("doc_id"), pairs, "doc_id")


def _oracle_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()}, {_CLUSTER_CTES_SUFFIX}
SELECT doc_id, cluster_id FROM cc
"""


def q_dedup_clusters_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same components as ``dedup_clusters``, computed by alternating
    large-star/small-star rounds (O(log²) rounds vs diameter) — the
    deep-chain scale path; must agree with the recursive-CTE oracle
    exactly like the propagation form."""
    from ..operators.dedup import dedup_clusters_twophase

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_minhash_pairs(
        docs, "doc_id", "text", threshold=0.8, num_hashes=16, num_bands=4, shingle_n=3
    )
    return dedup_clusters_twophase(docs.select("doc_id"), pairs, "doc_id")


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduped corpus: one survivor per near-dup cluster (the row
    whose doc_id equals the cluster id — deterministic, no tie-break)."""
    from ..operators.dedup import dedup_clusters, dedup_keep_canonical

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_minhash_pairs(
        docs, "doc_id", "text", threshold=0.8, num_hashes=16, num_bands=4, shingle_n=3
    )
    clusters = dedup_clusters(docs.select("doc_id"), pairs, "doc_id")
    return dedup_keep_canonical(docs, clusters, "doc_id", ["lang", "n_chars"])


def _oracle_dedup_canonical() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()}, {_CLUSTER_CTES_SUFFIX}
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN cc ON d.doc_id = cc.doc_id
WHERE cc.doc_id = cc.cluster_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.5, blocked by source (the honest
    O(block²) baseline MinHash approximates)."""
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, shingle_n=3, block_col="source"
    )


ORACLE_NGRAM_JACCARD = f"""
WITH sh AS (SELECT doc_id, source, {SQL_SHINGLES3} AS sh FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard_sim
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
"""

SQL_TOKHASH = "CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)"


def q_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2b — 32-bit SimHash fingerprints (portable md5-derived token
    hashes; exploded codegen form), oracle-recomputed bit-for-bit."""
    from ..operators.dedup import simhash_frame

    docs = _t(spark, sf_dir, "documents")
    return simhash_frame(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "fp"
    )


def _oracle_simhash_fp() -> str:
    terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x & (CAST(1 AS BIGINT) << {j})) > 0 THEN 1 ELSE -1 END)) > 0"
        f" THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END"
        for j in range(32)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_distinct({SQL_TOKS}) AS t FROM documents
), h AS (
  SELECT doc_id, list_transform(t, t -> {SQL_TOKHASH}) AS hs FROM toks
)
SELECT doc_id, CAST({terms} AS BIGINT) AS fp FROM h
"""


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 4), blocked by lang."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, "doc_id", "text", max_hamming=4, block_col="lang")


def _oracle_simhash_pairs() -> str:
    fp = _oracle_simhash_fp().replace("FROM documents", "FROM documents", 1)
    return f"""
WITH toks AS (
  SELECT doc_id, lang, list_distinct({SQL_TOKS}) AS t FROM documents
), h AS (
  SELECT doc_id, lang, list_transform(t, t -> {SQL_TOKHASH}) AS hs FROM toks
), fps AS (
  SELECT doc_id, lang, CAST({" + ".join(
    f"CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x & (CAST(1 AS BIGINT) << {j})) > 0 THEN 1 ELSE -1 END)) > 0"
    f" THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END" for j in range(32)
  )} AS BIGINT) AS fp FROM h
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM fps a JOIN fps b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 4
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label buckets (IVF-style
    coarse prefilter). Threshold 0.35 calibrated to the synthetic
    random embeddings (max within-label cosine ≈ 0.47)."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.35, bucket_col="label"
    )


ORACLE_EMB_NEARDUP = """
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       floor(CAST((list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cosine_sim
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE floor(CAST((list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) AS DOUBLE) * 1e6 + 0.5) / 1e6 >= 0.35
"""


# --------------------------------------------------------------------------
# Similarity search (X3)
# --------------------------------------------------------------------------


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 — exact brute-force cosine top-10 against the vec_id=0 query
    vector; rounded scores with vec_id tie-break for a total order."""
    # fan-out REJECTED by measurement (r9): 2k×64 dot products are
    # sub-0.1 s single-task — the exchange is pure overhead (0.39 s vs
    # 0.36 s; OPTIMIZATION_r09.md).
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    out = similarity_topk(emb, query, "vec_id", "embedding", k=10)
    return out.select("rank", F.col("id").alias("vec_id"), "score")


ORACLE_SIM_TOPK = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         CASE WHEN abs(CAST((list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) * 1e6) < 9007199254740992.0 THEN floor(CAST((list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) * 1e6) / 1e6 ELSE CAST((list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) END AS score
  FROM v, q)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank,
       vec_id, score
FROM scored QUALIFY rank <= 10
"""


def q_similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (labels as coarse buckets, n_probe=3). Fully
    oracle-checked: the codebook is decimal-deterministic and bucket
    ranking rounds before tie-breaking, so the DuckDB twin reproduces
    the same probe set and the same approximate result."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    out = similarity_topk_ivf(
        emb, query, "vec_id", "embedding", bucket_col="label", dim=64, k=10, n_probe=3
    )
    return out.select("rank", F.col("id").alias("vec_id"), "score")


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: per-doc match counts + fingerprint of
    the redacted text. The synthetic corpus carries no PII, so each doc
    gets a deterministic doc_id-derived contact line appended first —
    the counts and the redacted output are then fully oracle-checkable
    (same RE2/Java-compatible regexes, same email→phone→ipv4 order)."""
    from ..operators.text import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), d.cast("string"), F.lit("@example.com"),
        F.lit(" or +1-555-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" at 10.0."), (d % 256).cast("string"),
        F.lit("."), ((d * 7) % 256).cast("string"),
    )
    tagged = docs.select("doc_id", injected.alias("t"))
    counts = pii_counts(F.col("t"))
    return tagged.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ipv4"].alias("n_ipv4"),
        F.md5(redact_pii(F.col("t"))).alias("redacted_fp"),
    )


_SQL_PII_INJECTED = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)"
)

ORACLE_PII = f"""
WITH t AS (SELECT doc_id, {_SQL_PII_INJECTED} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '\\+?\\d[\\d\\-\\s()]{{7,}}\\d')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(t, '\\b(\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b')) AS BIGINT) AS n_ipv4,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[PII]', 'g'),
               '\\+?\\d[\\d\\-\\s()]{{7,}}\\d', '[PII]', 'g'),
             '\\b(\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '[PII]', 'g')) AS redacted_fp
FROM t
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style heuristic quality gate: per-doc token count,
    mean word length, and top-bigram repetition fraction, plus the
    keep/drop decision (≥30 tokens, mean word length in [4,5], top
    bigram < 8% of bigrams). The repetition stat is the scale-shaped
    two-phase aggregate — explode bigrams → count per (doc, gram) →
    max/sum per doc — never a per-doc O(n²) array fold."""
    docs = _t(spark, sf_dir, "documents")
    from ..operators.text import tokens

    base = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    grams = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat(
                        F.element_at("toks", i.cast("int")),
                        F.lit(" "),
                        F.element_at("toks", (i + 1).cast("int")),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("gram"),
    )
    rep = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            (
                F.max("cnt").cast("double") / F.sum("cnt").cast("double")
            ).alias("top_bigram_frac")
        )
    )
    stats = base.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_toks"),
        (
            F.aggregate(
                F.transform("toks", F.length), F.lit(0), lambda a, x: a + x
            ).cast("double")
            / F.size("toks").cast("double")
        ).alias("mwl"),
    )
    joined = stats.join(rep, "doc_id", "left")
    keep = (
        (F.col("n_toks") >= 30)
        & F.col("mwl").between(4.0, 5.0)
        & (F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)) < 0.08)
    )
    return joined.select(
        "doc_id",
        "n_toks",
        # raw (round-7 sweep): quotients of exact integer sums
        F.col("mwl").alias("mean_word_len"),
        F.col("top_bigram_frac").alias("top_bigram_frac"),
        keep.cast("bigint").alias("keep"),
    )


ORACLE_QUALITY = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
), g AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
  FROM t, UNNEST(range(1, len(toks))) AS r(i)
), c AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2
), m AS (
  SELECT doc_id, CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS frac
  FROM c GROUP BY 1
), w AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
         CAST(list_sum(list_transform(toks, s -> length(s))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS mwl
  FROM t
)
SELECT w.doc_id, w.n_toks,
       w.mwl AS mean_word_len,
       m.frac AS top_bigram_frac,
       CAST(w.n_toks >= 30 AND w.mwl BETWEEN 4.0 AND 5.0
            AND COALESCE(m.frac, 0.0) < 0.08 AS BIGINT) AS keep
FROM w LEFT JOIN m ON w.doc_id = m.doc_id
"""


def q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE END-TO-END TRAINING-DATA PREP PIPELINE as one composition:
    quality gate (Gopher/C4 flags) ∘ near-dup clustering (keep the
    canonical survivor) ∘ PII redaction — documents in, training
    corpus out. Everything except the bounded clustering iterations is
    a single lazy Catalyst plan; the oracle recomputes the identical
    composition in SQL (recursive CTE for the components), so the
    whole pipeline — not just its pieces — is hash-verified.

    Order matters and is part of the contract: dedup runs on RAW text
    (redaction would merge docs that differed only in their PII),
    quality is measured on raw text too, redaction is applied last to
    the survivors only (cheapest placement)."""
    from ..operators.dedup import dedup_clusters, dedup_minhash_pairs
    from ..operators.text import redact_pii

    docs = _t(spark, sf_dir, "documents")
    # 1. quality gate
    kept_ids = q_quality_filter(spark, sf_dir).filter(F.col("keep") == 1).select("doc_id")
    survivors = docs.join(kept_ids, "doc_id", "left_semi")
    # 2. near-dup clustering among the quality-kept docs; canonical id
    pairs = dedup_minhash_pairs(
        survivors, "doc_id", "text",
        threshold=0.8, num_hashes=16, num_bands=4, shingle_n=3,
    )
    clusters = dedup_clusters(survivors.select("doc_id"), pairs, "doc_id")
    canon = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    corpus = survivors.join(canon, "doc_id", "left_semi")
    # 3. PII scrub on what ships
    return corpus.select(
        "doc_id",
        "lang",
        "source",
        F.md5(redact_pii(F.col("text"))).alias("text_fp"),
    )


def _oracle_training_corpus() -> str:
    # quality keep-set → restricted minhash/cluster CTEs → redacted output
    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
), g2 AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
  FROM toks, UNNEST(range(1, len(toks))) AS r(i)
), c2 AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2
), rep AS (
  SELECT doc_id, CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS frac
  FROM c2 GROUP BY 1
), quality AS (
  SELECT t.doc_id
  FROM toks t LEFT JOIN rep ON t.doc_id = rep.doc_id
  WHERE len(t.toks) >= 30
    AND CAST(list_sum(list_transform(t.toks, s -> length(s))) AS DOUBLE)
        / CAST(len(t.toks) AS DOUBLE) BETWEEN 4.0 AND 5.0
    AND COALESCE(rep.frac, 0.0) < 0.08
), sh AS (
  SELECT d.doc_id, {SQL_SHINGLES3} AS sh
  FROM documents d JOIN quality q ON d.doc_id = q.doc_id
), hs AS (
  SELECT doc_id, sh,
         list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS h
  FROM sh
), hd AS (
  SELECT doc_id, list_distinct(h) AS h FROM hs
), sigs AS (
  SELECT doc_id, sh,
         list_transform(range(0, 16),
           i -> list_min(list_transform(h, x -> ((2*i + 1) * (x % 2147483647) + (1000003*i + 12345)) % 2147483647))) AS sig
  FROM hs
), bands AS (
{chr(10).join(f"SELECT doc_id, {b} AS band, array_to_string(list_slice(sig, {b*4+1}, {b*4+4}), '#') AS key FROM sigs" + ("" if b == 3 else " UNION ALL") for b in range(4))}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN hd x ON c.id_a = x.doc_id JOIN hd y ON c.id_b = y.doc_id
  WHERE CAST(len(list_intersect(x.h, y.h)) AS DOUBLE)
        / CAST(len(x.h) + len(y.h) - len(list_intersect(x.h, y.h)) AS DOUBLE) >= 0.8
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(root, id) AS (
  SELECT doc_id, doc_id FROM quality
  UNION
  SELECT r.root, e.dst FROM reach r JOIN edges e ON r.id = e.src
), cc AS (
  SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY 1
)
SELECT d.doc_id, d.lang, d.source,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(d.text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[PII]', 'g'),
               '\\+?\\d[\\d\\-\\s()]{{7,}}\\d', '[PII]', 'g'),
             '\\b(\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '[PII]', 'g')) AS text_fp
FROM documents d JOIN cc ON d.doc_id = cc.doc_id
WHERE cc.doc_id = cc.cluster_id
"""


def q_similarity_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a LEARNED k-means codebook (3 Lloyd rounds, 8
    clusters) instead of the label column — rows-only driver check (an
    iterative learned quantizer has no tractable SQL twin); recall and
    determinism are pytest-verified against the exact brute force."""
    from ..operators.similarity import similarity_topk_ivf_learned

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    out = similarity_topk_ivf_learned(
        emb, query, "vec_id", "embedding", dim=64, k=10,
        n_clusters=8, n_probe=3, iterations=3,
    )
    return out.select("rank", F.col("id").alias("vec_id"), "score")


ORACLE_SIM_TOPK_IVF = """
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
pos AS (
  SELECT label, t.pos AS pos,
         CAST(SUM(CAST(e[t.pos] AS DECIMAL(28,9))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS cd
  FROM v, UNNEST(range(1, 65)) AS t(pos)
  GROUP BY label, t.pos
), cents AS (
  SELECT label, list(cd ORDER BY pos) AS centroid FROM pos GROUP BY label
), branks AS (
  SELECT label,
         ROW_NUMBER() OVER (
           ORDER BY CASE WHEN abs(CAST((list_dot_product(centroid, qe)
                    / (sqrt(list_dot_product(centroid, centroid))
                       * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) * 1e6) < 9007199254740992.0 THEN floor(CAST((list_dot_product(centroid, qe)
                    / (sqrt(list_dot_product(centroid, centroid))
                       * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) * 1e6) / 1e6 ELSE CAST((list_dot_product(centroid, qe)
                    / (sqrt(list_dot_product(centroid, centroid))
                       * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) END DESC,
                    label ASC) AS brank
  FROM cents, q
), probe AS (SELECT label FROM branks WHERE brank <= 3),
scored AS (
  SELECT vec_id,
         CASE WHEN abs(CAST((list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) * 1e6) < 9007199254740992.0 THEN floor(CAST((list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) * 1e6) / 1e6 ELSE CAST((list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) END AS score
  FROM v, q WHERE v.label IN (SELECT label FROM probe)
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank,
       vec_id, score
FROM scored QUALIFY rank <= 10
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dups over 3-gram shingles — |A∩B|/min(|A|,|B|)
    ≥ 0.6: catches a short doc embedded in a long one, which Jaccard
    structurally under-scores (see
    ``operators/dedup.py::containment_neardup_pairs``). Same banding
    config as ``dedup_minhash`` so the candidate set — and therefore
    the scale argument — is shared."""
    from ..operators.dedup import containment_neardup_pairs

    docs = _t(spark, sf_dir, "documents")
    return containment_neardup_pairs(
        docs, "doc_id", "text", threshold=0.6, num_hashes=16, num_bands=4,
        shingle_n=3,
    )


def _oracle_containment() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(x.h, y.h)) AS DOUBLE)
             / CAST(least(len(x.h), len(y.h)) AS DOUBLE) AS containment,
       CAST(len(list_intersect(x.h, y.h)) AS DOUBLE)
             / CAST(len(x.h) + len(y.h) - len(list_intersect(x.h, y.h)) AS DOUBLE)
         AS jaccard_sim
FROM cand c JOIN hd x ON c.id_a = x.doc_id JOIN hd y ON c.id_b = y.doc_id
WHERE CAST(len(list_intersect(x.h, y.h)) AS DOUBLE)
      / CAST(least(len(x.h), len(y.h)) AS DOUBLE) >= 0.6
"""


def q_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding quality report — candidate count, exact-Jaccard
    true pairs, and precision@0.8 for the same MinHash(16)/4-band/
    3-gram configuration ``dedup_minhash`` runs (see
    ``operators/dedup.py::lsh_candidate_quality``). The number that
    says whether the banding wastes verify-join work at scale."""
    from ..operators.dedup import lsh_candidate_quality

    docs = _t(spark, sf_dir, "documents")
    return lsh_candidate_quality(
        docs, "doc_id", "text", threshold=0.8, num_hashes=16, num_bands=4,
        shingle_n=3,
    )


def _oracle_lsh_quality() -> str:
    return f"""
WITH {_minhash_ctes()},
j AS (
  SELECT CAST(len(list_intersect(x.h, y.h)) AS DOUBLE)
         / CAST(len(x.h) + len(y.h) - len(list_intersect(x.h, y.h)) AS DOUBLE) AS jac
  FROM cand c JOIN hd x ON c.id_a = x.doc_id JOIN hd y ON c.id_b = y.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(COUNT(CASE WHEN jac >= 0.8 THEN 1 END) AS BIGINT) AS n_true_pairs,
       CAST(COUNT(CASE WHEN jac >= 0.8 THEN 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS precision_at_threshold
FROM j
"""


def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: each doc survives with
    probability equal to its quality score (mean-word-length capped at
    8 chars → score in (0, 1]) — the rebalancing that keeps more of
    the higher-quality corpus without any RNG: the coin is the doc's
    own md5 bucket, so the decision is rerun- and append-stable (same
    contract as ``deterministic_sample``). Returns per-lang kept
    counts; both the score and the coin are exact integer/ratio
    arithmetic mirrored in the oracle."""
    docs = _t(spark, sf_dir, "documents")
    n_toks = F.size(F.split(F.lower(F.trim("text")), r"\s+"))
    # chars excluding spaces / token count — mean word length
    awl = (
        F.length(F.regexp_replace("text", " ", "")).cast("double")
        / n_toks.cast("double")
    )
    score = F.least(F.lit(1.0), awl / F.lit(8.0))
    coin = (
        F.conv(F.substring(F.md5(F.concat_ws("-", F.lit("qw"), "doc_id")), 1, 8), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(4294967296.0)
    )
    kept = docs.filter(coin < score)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
    )


ORACLE_QUALITY_WEIGHTED = """
WITH scored AS (
  SELECT lang, n_chars,
         least(1.0, (CAST(length(replace(text, ' ', '')) AS DOUBLE)
                     / CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE)) / 8.0) AS score,
         CAST(CAST('0x' || substr(md5('qw' || '-' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
           / 4294967296.0 AS coin
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept
FROM scored WHERE coin < score GROUP BY lang
"""


def q_domain_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened sampling weights (α = 0.5): w_d ∝ √p_d —
    the standard multilingual/multi-domain rebalancing that upweights
    small sources. √ is a correctly-rounded IEEE op on an exact ratio;
    the normalizer sums the per-source √p after rounding to 9 decimals
    as DECIMAL (order-free), the same rule as every cross-row float
    sum in this engine."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("n_total"))
    sq = counts.crossJoin(F.broadcast(total)).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        (F.col("n_docs").cast("double") / F.col("n_total").cast("double")).alias("p"),
        # floor-quantized nano-units (round-7 sweep): sqrt is IEEE-
        # exact on the identical quotient, so the floor is engine-
        # unambiguous; the decimal sum stays order-free
        F.floor(
            F.sqrt(
                F.col("n_docs").cast("double")
                / F.col("n_total").cast("double")
            )
            * F.lit(1e9)
        ).cast("decimal(19,0)").alias("sqp_u"),
    )
    norm = sq.agg(F.sum("sqp_u").alias("z_u"))
    return sq.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_docs",
        # raw finals: quotients of exact integers
        F.col("p").alias("p"),
        (
            F.col("sqp_u").cast("double") / F.col("z_u").cast("double")
        ).alias("w_temperature"),
    )


ORACLE_MIXTURE_TEMP = """
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
), total AS (SELECT SUM(n_docs) AS n_total FROM counts),
sq AS (
  SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS p,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1e9)
              AS DECIMAL(19,0)) AS sqp_u
  FROM counts, total
), norm AS (SELECT SUM(sqp_u) AS z_u FROM sq)
SELECT source, n_docs, p,
       CAST(sqp_u AS DOUBLE) / CAST(z_u AS DOUBLE) AS w_temperature
FROM sq, norm
"""


def q_scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API: scan a pure-Python custom source
    (``sources/python_datasource.py`` — partition-parallel generator
    with doc_id/lang filter pushdown) and aggregate per-lang doc
    counts, char volume, and an order-free md5 fingerprint sum.

    Every generated field is an md5-pure function of doc_id, so the
    DuckDB oracle REGENERATES the identical corpus in SQL and checks
    the aggregate cell-exact — a custom source verified end-to-end by
    an engine that has never seen the Python class."""
    from ..sources.python_datasource import register_all

    register_all(spark)
    docs = (
        spark.read.format("synthetic_docs")
        .option("n", 2000)
        .option("parts", 8)
        .load()
    )
    fp = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.sum(fp).alias("fp_sum"),
    )


_ORACLE_PYDS_VOCAB = (
    "['key','agg','row','scan','slow','fast','table','value',"
    "'part','hash','merge','batch','spark','query','sort','window']"
)

ORACLE_PYDS = f"""
WITH ids AS (SELECT unnest(range(2000)) AS doc_id),
base AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8) AS BIGINT) AS h2
  FROM ids
),
docs AS (
  SELECT doc_id,
         ['en','de','es','fr','zh'][CAST(h1 % 5 AS INT) + 1] AS lang,
         5 + CAST(h2 % 20 AS INT) AS n_words
  FROM base
),
words AS (
  SELECT d.doc_id, d.lang, t.j,
         {_ORACLE_PYDS_VOCAB}[
           CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(t.j AS VARCHAR)), 1, 8) AS BIGINT) % 16 AS INT) + 1
         ] AS w
  FROM docs d, UNNEST(range(d.n_words)) AS t(j)
),
texts AS (
  SELECT doc_id, lang, string_agg(w, ' ' ORDER BY j) AS text
  FROM words GROUP BY 1, 2
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT) AS fp_sum
FROM texts GROUP BY 1
"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for the query bag {spark, merge, vector} —
    the retrieval scorer behind query-based decontamination / leakage
    checks on a training corpus (operators/text.py ``bm25_topk`` for
    the determinism + scale argument: decimal-accumulated per-term
    contributions, |terms|-bounded broadcasts, per-partition top-k
    heaps)."""
    from ..operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", ["spark", "merge", "vector"], k=10)


ORACLE_BM25 = f"""
WITH tok AS (SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(dl AS DECIMAL(28,9))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       WHERE term IN ('spark', 'merge', 'vector') GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
idf AS (SELECT term, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf, avgdl
        FROM dfreq, stats),
scored AS (
  SELECT t.doc_id,
         CAST(floor(i.idf * (t.tf * 2.2)
                    / (t.tf + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / i.avgdl))
                    * 1e9) AS DECIMAL(19,0)) AS contrib_u
  FROM tf t JOIN idf i USING (term) JOIN dl d USING (doc_id)
),
total AS (SELECT doc_id, CAST(SUM(contrib_u) AS DOUBLE) / 1e9 AS bm25
          FROM scored GROUP BY 1)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rank,
       doc_id, bm25
FROM total QUALIFY rank <= 10
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — recall@10 of the IVF index against the
    exact brute-force top-10 for the same query vector, computed as a
    join of the two result sets (the standard index-quality harness a
    production ANN deployment runs per index build). Both sides are
    10-row frames regardless of corpus size, so the evaluation cost
    is the two searches themselves; fully oracle-checked because both
    searches are."""
    exact = q_similarity_topk(spark, sf_dir).select("vec_id")
    approx = q_similarity_topk_ivf(spark, sf_dir).select("vec_id")
    hits = exact.join(approx, "vec_id", "inner")
    return hits.agg(
        F.lit(10).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        (F.count(F.lit(1)) / F.lit(10.0)).alias("recall_at_k"),
    )


ORACLE_ANN_RECALL = """
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         CASE WHEN abs(CAST((list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) * 1e6) < 9007199254740992.0 THEN floor(CAST((list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) * 1e6) / 1e6 ELSE CAST((list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) END AS score
  FROM v, q),
exact AS (
  SELECT vec_id FROM scored
  QUALIFY ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) <= 10),
pos AS (
  SELECT label, t.pos AS pos,
         CAST(SUM(CAST(e[t.pos] AS DECIMAL(28,9))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS cd
  FROM v, UNNEST(range(1, 65)) AS t(pos)
  GROUP BY label, t.pos
), cents AS (
  SELECT label, list(cd ORDER BY pos) AS centroid FROM pos GROUP BY label
), branks AS (
  SELECT label,
         ROW_NUMBER() OVER (
           ORDER BY CASE WHEN abs(CAST((list_dot_product(centroid, qe)
                    / (sqrt(list_dot_product(centroid, centroid))
                       * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) * 1e6) < 9007199254740992.0 THEN floor(CAST((list_dot_product(centroid, qe)
                    / (sqrt(list_dot_product(centroid, centroid))
                       * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) * 1e6) / 1e6 ELSE CAST((list_dot_product(centroid, qe)
                    / (sqrt(list_dot_product(centroid, centroid))
                       * sqrt(list_dot_product(qe, qe)))) AS DOUBLE) END DESC,
                    label ASC) AS brank
  FROM cents, q
), probe AS (SELECT label FROM branks WHERE brank <= 3),
approx AS (
  SELECT vec_id FROM scored
  WHERE vec_id IN (SELECT vec_id FROM v WHERE label IN (SELECT label FROM probe))
  QUALIFY ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) <= 10)
SELECT CAST(10 AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(*) AS DOUBLE) / 10.0 AS recall_at_k
FROM exact JOIN approx USING (vec_id)
"""


# --------------------------------------------------------------------------
# Multimodal (X5)
# --------------------------------------------------------------------------


def q_multimodal_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — JSON props extraction via get_json_object path queries
    (JVM-side, no Python)."""
    ev = _t(spark, sf_dir, "events")
    parsed = parse_props(ev, "props", {"k": "bigint"})
    return parsed.select("event_id", F.col("k").alias("prop_k"), "value")


ORACLE_PROPS = (
    "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS prop_k, value FROM events"
)


def q_multimodal_props_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — the from_json schema-first variant of props parsing."""
    from pyspark.sql import types as T

    from ..operators.multimodal import parse_props_typed

    ev = _t(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.LongType(), True)])
    return parse_props_typed(ev, "props", schema).select(
        "event_id", F.col("k").alias("prop_k")
    )


ORACLE_PROPS_TYPED = (
    "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS prop_k FROM events"
)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing end-to-end: text → binary payload +
    typed metadata struct → Arrow-batched mapInPandas feature
    extraction (deterministic fake decoder). Oracle checks the
    engine-recomputable slice (byte counts + modality)."""
    docs = _t(spark, sf_dir, "documents")
    media = attach_media(docs, "text", "doc_id")
    feats = extract_features(media, decoder="fake")
    return feats.select("doc_id", "modality", "n_bytes")


ORACLE_MM_FEATURES = """
SELECT doc_id, 'image' AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing end-to-end: payload → mapInPandas crop-resize →
    rewritten metadata struct. Oracle recomputes the crop arithmetic
    (1:1 row mapping, new dims, cropped byte count)."""
    from ..operators.multimodal import resize_media

    docs = _t(spark, sf_dir, "documents")
    media = attach_media(docs, "text", "doc_id")
    resized = resize_media(media, width=48, height=1)
    return resized.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.length("payload").cast("bigint").alias("n_bytes"),
    )


ORACLE_MM_RESIZE = """
SELECT doc_id, CAST(48 AS INTEGER) AS width, CAST(1 AS INTEGER) AS height,
       CAST(LEAST(octet_length(encode(text)), 48) AS BIGINT) AS n_bytes
FROM documents
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: one media row explodes into ≤5 frame
    rows (every 2nd 32-byte frame) inside mapInPandas — the 1→N batch
    reshape a real video sampler needs. Oracle regenerates the frame
    index arithmetic with a lateral range()."""
    from ..operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents")
    media = attach_media(docs, "text", "doc_id")
    frames = sample_frames(media, frame_bytes=32, stride=2, max_frames=5)
    return frames.select("doc_id", "frame_idx", "offset", "n_bytes")


ORACLE_MM_FRAMES = """
WITH f AS (
  SELECT doc_id, octet_length(encode(text)) AS n,
         CAST(CEIL(octet_length(encode(text)) / 32.0) AS BIGINT) AS total
  FROM documents
)
SELECT doc_id,
       CAST(i AS BIGINT) AS frame_idx,
       CAST(i * 32 AS BIGINT) AS "offset",
       CAST(LEAST(32, n - i * 32) AS BIGINT) AS n_bytes
FROM f, UNNEST(range(0, LEAST(total, 10), 2)) AS t(i)
"""


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rerun-stable ~20% corpus sample keyed on doc_id (same rows in
    any engine, any partitioning)."""
    from ..operators.sampling import deterministic_sample

    docs = _t(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", 0.2).select(
        "doc_id", "lang", "n_chars"
    )


ORACLE_DET_SAMPLE = """
SELECT doc_id, lang, n_chars FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000
      < 2000
"""


def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val tagging (10% val) + per-split counts by
    language — the split that never flips as the corpus grows."""
    from ..operators.sampling import train_val_split

    docs = _t(spark, sf_dir, "documents")
    tagged = train_val_split(docs, "doc_id", val_fraction=0.1)
    return tagged.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


ORACLE_TRAIN_VAL = """
WITH tagged AS (
  SELECT lang, n_chars,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 1000
              THEN 'val' ELSE 'train' END AS split
  FROM documents
)
SELECT lang, split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM tagged GROUP BY 1, 2
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lang-balanced downsampling: keep 50% of 'en' docs, 100% of the
    rest (the rebalancing move for an English-heavy corpus)."""
    from ..operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    return stratified_sample(docs, "doc_id", "lang", fractions).groupBy(
        "lang"
    ).agg(F.count(F.lit(1)).alias("n_docs"))


ORACLE_STRATIFIED = """
WITH b AS (
  SELECT lang,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS bkt
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs FROM b
WHERE (lang = 'en' AND bkt < 5000)
   OR (lang IN ('de', 'es', 'fr', 'zh') AND bkt < 10000)
GROUP BY 1
"""


def _sql_shingles(n: int) -> str:
    """Distinct word n-gram set in DuckDB, mirroring text.shingles."""
    return (
        f"CASE WHEN len({SQL_TOKS}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({SQL_TOKS}) - {n - 2}), "
        f"i -> array_to_string(list_slice({SQL_TOKS}, i, i + {n - 1}), ' '))) "
        f"ELSE [] END"
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking: 64-token context windows with 16-token
    overlap (stride 48) — per-row explode, no shuffle, scan-bound."""
    from ..operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=64, stride=48)


ORACLE_DOC_CHUNKS = f"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 48)) AS start FROM t)
SELECT doc_id,
  CAST((start - 1) // 48 AS BIGINT) AS chunk_idx,
  array_to_string(list_slice(toks, start, start + 63), ' ') AS chunk_text,
  CAST(least(64, len(toks) - start + 1) AS BIGINT) AS n_chunk_tokens
FROM s
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detector: repeated word-3-gram share per doc."""
    from ..operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text", n=3)


ORACLE_REPETITION = f"""
SELECT doc_id,
  CAST(greatest(len({SQL_TOKS}) - 2, 0) AS BIGINT) AS n_ngrams,
  CAST(len({SQL_SHINGLES3}) AS BIGINT) AS n_distinct_ngrams,
  CASE WHEN len({SQL_TOKS}) - 2 > 0
       THEN 1.0 - CAST(len({SQL_SHINGLES3}) AS DOUBLE)
                        / CAST(len({SQL_TOKS}) - 2 AS DOUBLE)
       ELSE 0.0 END AS repeated_ngram_ratio
FROM documents
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: corpus docs sharing ≥3 distinct
    5-grams with a held-out benchmark slice (doc_id % 20 == 0 stands
    in for the benchmark set). Inverted-index shingle join with a
    stop-shingle df-cap — finds exactly the planted near-dup pairs on
    the synthetic corpus."""
    from ..operators.dedup import contamination_pairs

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return contamination_pairs(
        corpus,
        bench,
        "doc_id",
        "text",
        shingle_n=5,
        min_shared=3,
        max_shingle_df=2,
    )


ORACLE_CONTAMINATION = f"""
WITH c AS (
  SELECT doc_id, unnest(sh) AS s
  FROM (SELECT doc_id, {_sql_shingles(5)} AS sh FROM documents
        WHERE doc_id % 20 <> 0)
), b0 AS (
  SELECT doc_id AS bench_id, unnest(sh) AS s
  FROM (SELECT doc_id, {_sql_shingles(5)} AS sh FROM documents
        WHERE doc_id % 20 = 0)
), keep AS (
  SELECT s FROM b0 GROUP BY s HAVING COUNT(*) <= 2
), b AS (
  SELECT b0.bench_id, b0.s FROM b0 JOIN keep USING (s)
)
SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared
FROM c JOIN b USING (s)
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""


def q_unigram_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM scoring: corpus term frequencies joined back to
    every token occurrence; docs scored by mean token frequency
    (integer-exact proxy for unigram log-likelihood)."""
    from ..operators.text import unigram_commonness

    docs = _t(spark, sf_dir, "documents")
    return unigram_commonness(docs, "doc_id", "text")


ORACLE_UNIGRAM = f"""
WITH tok AS (SELECT doc_id, unnest({SQL_TOKS}) AS t FROM documents),
freq AS (SELECT t, COUNT(*) AS tf FROM tok GROUP BY 1)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(tf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_token_freq
FROM tok JOIN freq USING (t)
GROUP BY 1
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, flat (label, dim, centroid) —
    1e-6-quantized decimal accumulation so the float sums are
    partitioning- and engine-independent."""
    from ..operators.similarity import label_centroids

    emb = _t(spark, sf_dir, "embeddings")
    return label_centroids(emb, "label", "embedding")


ORACLE_CENTROIDS = """
WITH e AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(unnest(range(1, len(embedding) + 1)) - 1 AS BIGINT) AS dim,
         unnest(embedding) AS v
  FROM embeddings
)
SELECT label, dim,
       CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
       / CAST(COUNT(*) AS DOUBLE) AS centroid,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM e GROUP BY 1, 2
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: the 64/48 token chunks of the corpus packed
    into 512-token training bins over the (doc_id, chunk_idx) total
    order — concat-stream-cut semantics, distributed exact prefix
    sum (range partition + broadcast offsets, no global window)."""
    from ..operators.text import chunk_documents, pack_sequences

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens=64, stride=48)
    return pack_sequences(
        chunks, ("doc_id", "chunk_idx"), "n_chunk_tokens", budget=512
    )


ORACLE_PACK_SEQUENCES = f"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 48)) AS start FROM t),
ch AS (
  SELECT doc_id,
    CAST((start - 1) // 48 AS BIGINT) AS chunk_idx,
    CAST(least(64, len(toks) - start + 1) AS BIGINT) AS n_chunk_tokens
  FROM s
),
p AS (
  SELECT doc_id, chunk_idx, n_chunk_tokens,
         COALESCE(SUM(n_chunk_tokens) OVER (
           ORDER BY doc_id, chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
  FROM ch
)
SELECT doc_id, chunk_idx, n_chunk_tokens,
       CAST(prefix // 512 AS BIGINT) AS bin_id,
       CAST(prefix % 512 AS BIGINT) AS bin_offset
FROM p
"""


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing: re-weight the corpus toward a
    50/30/15/5 target mixture over four sources (integer basis-point
    weights; sources outside the recipe are dropped). All thresholds
    derive in exact BIGINT arithmetic from per-domain counts, applied
    as md5 hash-bucket filters — rerun-, rescale-, and engine-stable."""
    from ..operators.sampling import domain_mixture

    docs = _t(spark, sf_dir, "documents")
    return domain_mixture(
        docs,
        key="doc_id",
        domain_col="source",
        weights_bp={"src0": 5000, "src1": 3000, "src2": 1500, "src3": 500},
    ).select("doc_id", "source", "n_chars")


ORACLE_DOMAIN_MIXTURE = """
WITH w(source, w) AS (
  VALUES ('src0', 5000), ('src1', 3000), ('src2', 1500), ('src3', 500)
),
c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
j AS (SELECT c.source, n, w FROM c JOIN w USING (source)),
nn AS (SELECT MIN(n * 10000 // w) AS ntot FROM j),
thr AS (SELECT source, ((ntot * w // 10000) * 10000) // n AS thr FROM j, nn)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN thr USING (source)
WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      % 10000 < thr
"""


def q_domain_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality cap: keep the top-10 highest-quality docs
    per source — the 'cap each domain, keep only its best' selection
    step of a pretraining mixture. Ranks via the salted two-phase
    ``grouped_topk`` so a domain holding half the corpus never sorts
    on one reducer; (quality DESC, doc_id) is the required total
    order."""
    from ..operators.ranking import grouped_topk

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    return grouped_topk(
        docs, ["source"], [F.desc("quality"), F.asc("doc_id")], k=10
    ).select("source", "rank", "doc_id", "quality")


ORACLE_DOMAIN_TOP = f"""
WITH q AS (
  SELECT doc_id, source, {SQL_QUALITY} AS quality FROM documents
)
SELECT source,
       CAST(ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY quality DESC, doc_id) AS BIGINT) AS rank,
       doc_id, quality
FROM q
QUALIFY rank <= 10
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF salient terms: top-5 corpus-distinctive terms per doc,
    ranked on the rounded score (term tie-break) so libm ulp noise in
    ln can't flip an ordering between engines."""
    from ..operators.text import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=5)


ORACLE_TFIDF = f"""
WITH tok AS (SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
raw AS (
  SELECT doc_id, term, tf, df,
         CAST(tf AS DOUBLE)
               * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS t0
  FROM tf JOIN dfreq USING (term), nd
), scored AS (
  SELECT doc_id, term, tf, df, {q6_sql('t0')} AS tfidf FROM raw
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf
FROM ranked WHERE rank <= 5
"""


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile: per doc, the fraction of
    its distinct 5-token spans appearing in ≥1 other document (the
    shingle form of Lee et al. 2022 substring dedup). Linear in total
    span count — two key-partitioned shuffles, no all-pairs stage."""
    from ..operators.dedup import duplicate_span_stats

    docs = _t(spark, sf_dir, "documents")
    return duplicate_span_stats(docs, "doc_id", "text", span_n=5)


SQL_SHINGLES5 = (
    f"CASE WHEN len({SQL_TOKS}) >= 5 THEN "
    f"list_distinct(list_transform(range(1, len({SQL_TOKS}) - 3), "
    f"i -> array_to_string(list_slice({SQL_TOKS}, i, i + 4), ' '))) "
    f"ELSE [] END"
)

ORACLE_DUP_SPANS = f"""
WITH sh AS (
  SELECT doc_id, unnest({SQL_SHINGLES5}) AS sh FROM documents
), cnt AS (
  SELECT sh, COUNT(*) AS docs FROM sh GROUP BY sh
)
SELECT sh.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(SUM(CASE WHEN cnt.docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans,
  SUM(CASE WHEN cnt.docs > 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)
    AS dup_fraction
FROM sh JOIN cnt USING (sh)
GROUP BY sh.doc_id
"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: within each label cluster, drop any
    embedding whose cosine to a lower-id member exceeds 0.35
    (calibrated: the synthetic corpus' intra-label max is ~0.475, so
    a real but small set drops). Pairwise work is cluster-local —
    the k-means variant of the same operator
    (``similarity_topk_ivf_kmeans`` path) supplies clusters when no
    label exists."""
    from ..operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, "vec_id", "embedding", "label", threshold=0.35)


ORACLE_SEMDEDUP = """
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), dropped AS (
  SELECT DISTINCT a.vec_id FROM v a JOIN v b
    ON a.label = b.label AND b.vec_id < a.vec_id
  WHERE CASE WHEN abs(CAST((list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) AS DOUBLE) * 1e6) < 9007199254740992.0 THEN floor(CAST((list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) AS DOUBLE) * 1e6) / 1e6 ELSE CAST((list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) AS DOUBLE) END > 0.35
)
SELECT vec_id, label FROM v WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-BPE tokenization end-to-end: train 16 merges on the
    corpus' word-frequency table (one corpus pass + 16 vocab-frame
    iterations — the k-means-style iterate-on-aggregates pattern),
    then encode every document with an Arrow-batched, word-cached
    UDF. Rows-only driver check: iterative training has no SQL twin;
    tests/test_bpe.py verifies merges and encodings token-for-token
    against a pure-Python reference."""
    from ..operators.bpe import bpe_encode, bpe_train, word_frequency_table

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(word_frequency_table(docs, "text"), num_merges=16)
    return bpe_encode(docs, "text", merges).select(
        "doc_id", F.size("bpe_tokens").cast("bigint").alias("n_bpe_tokens")
    )


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic over events.user_id: the 20
    heaviest keys with counts and global share — the pre-flight every
    big join/agg runs before picking salting vs plain hash
    partitioning. See ``operators/skew.py::key_skew_profile``."""
    from ..operators.skew import key_skew_profile

    events = _t(spark, sf_dir, "events")
    return key_skew_profile(events, "user_id", top_n=20)


ORACLE_KEY_SKEW = """
WITH c AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1
), t AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM c
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS BIGINT) AS rank,
       user_id, cnt,
       CAST(cnt AS DOUBLE) / t.tot AS share
FROM c, t
ORDER BY cnt DESC, user_id
LIMIT 20
"""


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order shuffle of the document corpus:
    seed '42' → the same global permutation on every rerun, an
    independent one per seed. Distributed rank — no global window.
    See ``operators/sampling.py::seeded_shuffle``."""
    from ..operators.sampling import seeded_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return seeded_shuffle(docs, "doc_id", "42")


ORACLE_CORPUS_SHUFFLE = """
SELECT doc_id, source,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS shuffle_pos
FROM documents
"""


#: identity-codebook corpus bound for the PQ exactness gates: with
#: k_codes == |corpus|, Lloyd's seeds are ALL the (distinct) subvectors
#: and every point is its own centroid — a stable fixed point, so ADC
#: scoring equals exact cosine up to the codebook's DECIMAL(28,9)
#: carrier (±1e-9, far below the top-k score gaps — pinned by
#: tests/test_similarity_multimodal.py's identity-gap test).
_PQ_IDENTITY_N = 64


def _rescore_exact_topk(emb, query, selected, k: int = 10) -> DataFrame:
    """Re-rank an ADC-selected id set with the registered exact
    q6-cosine formula (`similarity_topk` — the proven ORACLE_SIM_TOPK
    mirror): the SELECTION is the machinery under test (a wrong PQ
    code throws a candidate out of the set and the row diverges), the
    emitted scores ride the cross-engine-proven scoring path instead
    of the ADC float (whose ±1e-9 codebook-carrier noise would make a
    q6 floor engine-ambiguous)."""
    ids = selected.select(F.col("id").alias("vec_id"))
    return similarity_topk(
        emb.join(F.broadcast(ids), "vec_id"), query, "vec_id",
        "embedding", k=k,
    )


def q_similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN promoted to a CELL-EXACT oracle
    (VERDICT r7 item 4, the `similarity_topk_ivf_full_probe` move):
    over the 64-vector identity corpus (vec_id < 64, k_codes = 64)
    every subvector is its own centroid, so the ADC lookup-table
    top-10 must reproduce the brute-force top-10 SET exactly — the
    normalize/train/encode/LUT/global-topk machinery is all on the
    hook. Selected ids are re-scored with the registered exact
    q6-cosine so the emitted rows equal the brute-force oracle
    verbatim. The LOSSY configuration (k_codes ≪ corpus) stays
    pytest-covered (recall + determinism on clustered fixtures)."""
    from ..operators.similarity import similarity_topk_pq

    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _PQ_IDENTITY_N
    )
    query = emb.filter(F.col("vec_id") == 0)
    out = similarity_topk_pq(
        emb, query, "vec_id", "embedding", dim=64, k=10,
        m_subspaces=4, k_codes=_PQ_IDENTITY_N, iterations=1,
    )
    rescored = _rescore_exact_topk(emb, query, out, k=10)
    return rescored.select("rank", F.col("id").alias("vec_id"), "score")


def q_similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN promoted to a CELL-EXACT oracle: full coarse probe
    (n_probe == n_coarse) plus identity residual codebooks
    (k_codes == |corpus|) make the ADC ranking provably equal to
    brute force up to the DECIMAL(28,9) codebook carrier, so the
    coarse-train/residual/encode/LUT/merge stack must reproduce the
    brute-force top-10 SET; emitted rows are the exact q6-cosine
    re-score (see q_similarity_topk_pq). The lossy pruning
    configuration stays pytest-covered on clustered fixtures."""
    from ..operators.similarity import similarity_topk_ivfpq

    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _PQ_IDENTITY_N
    )
    query = emb.filter(F.col("vec_id") == 0)
    out = similarity_topk_ivfpq(
        emb, query, "vec_id", "embedding", dim=64, k=10,
        n_coarse=4, n_probe=4, m_subspaces=4,
        k_codes=_PQ_IDENTITY_N, iterations=1,
    )
    rescored = _rescore_exact_topk(emb, query, out, k=10)
    return rescored.select("rank", F.col("id").alias("vec_id"), "score")


def _oracle_sim_topk_identity() -> str:
    """ORACLE_SIM_TOPK restricted to the identity corpus — single
    source of truth for the scoring SQL, same pattern as the r7
    full-probe key."""
    restricted = ORACLE_SIM_TOPK.replace(
        "FROM embeddings)",
        f"FROM embeddings WHERE vec_id < {_PQ_IDENTITY_N})",
        1,
    )
    assert f"vec_id < {_PQ_IDENTITY_N}" in restricted
    return restricted


def q_pseudonymize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization (the privacy-preserving join key a
    training pipeline ships instead of raw user ids): SHA-256 over
    ``salt:id``, truncated to 16 hex chars — deterministic per
    (salt, id) so re-runs and cross-table joins still line up, but
    unlinkable to the raw id without the salt. Pure codegen
    (``sha2``), zero shuffles beyond the final aggregate-free scan.
    """
    ev = _t(spark, sf_dir, "events")
    salt = "corpus-v1"
    pseud = F.substring(
        F.sha2(
            F.concat_ws(":", F.lit(salt), F.col("user_id").cast("string")),
            256,
        ),
        1,
        16,
    )
    return ev.select(
        "event_id",
        pseud.alias("user_pseud"),
        "event_type",
    )


ORACLE_PSEUDONYMIZE = """
SELECT event_id,
       substr(sha256('corpus-v1' || ':' || CAST(user_id AS VARCHAR)),
              1, 16) AS user_pseud,
       event_type
FROM events
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (segment, nation):
    every equivalence class with its size and a below-k flag (k=25) —
    the classes a release gate must suppress or generalize before the
    table ships. One hash-aggregate on the quasi-identifier tuple;
    output is bounded by the class count, never the fact size.
    """
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("class_size"),
        (F.count(F.lit(1)) < 25).alias("below_k"),
    )


ORACLE_K_ANON = """
SELECT c_mktsegment, c_nationkey, COUNT(*) AS class_size,
       COUNT(*) < 25 AS below_k
FROM customer
GROUP BY 1, 2
"""


def q_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key sample: 2 documents per source, chosen by
    md5-hash order (rerun-stable, append-stable for surviving rows —
    the grouped twin of ``deterministic_sample``). Window ranks within
    each source over (md5, doc_id) — a total order, so ties are
    impossible and the sample is partitioning-independent.
    """
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select(
            "doc_id", "source", "lang", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 2)
        .drop("rn")
    )


ORACLE_SAMPLE_PER_KEY = """
SELECT doc_id, source, lang
FROM (
  SELECT doc_id, source, lang,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= 2
"""


REGISTRY_EXT: dict = {
    "pseudonymize_users": (q_pseudonymize_users, ORACLE_PSEUDONYMIZE),
    "k_anonymity": (q_k_anonymity, ORACLE_K_ANON),
    "sample_per_key": (q_sample_per_key, ORACLE_SAMPLE_PER_KEY),
    "key_skew_profile": (q_key_skew_profile, ORACLE_KEY_SKEW),
    "corpus_shuffle": (q_corpus_shuffle, ORACLE_CORPUS_SHUFFLE),
    "similarity_topk_pq": (
        q_similarity_topk_pq,
        _oracle_sim_topk_identity(),
    ),
    "similarity_topk_ivfpq": (
        q_similarity_topk_ivfpq,
        _oracle_sim_topk_identity(),
    ),
    "bpe_tokenize": (q_bpe_tokenize, None),
    "duplicate_spans": (q_duplicate_spans, ORACLE_DUP_SPANS),
    "semdedup": (q_semdedup, ORACLE_SEMDEDUP),
    "pack_sequences": (q_pack_sequences, ORACLE_PACK_SEQUENCES),
    "domain_mixture": (q_domain_mixture, ORACLE_DOMAIN_MIXTURE),
    "domain_top_docs": (q_domain_top_docs, ORACLE_DOMAIN_TOP),
    "tfidf_top_terms": (q_tfidf_top_terms, ORACLE_TFIDF),
    "doc_chunks": (q_doc_chunks, ORACLE_DOC_CHUNKS),
    "repetition_stats": (q_repetition_stats, ORACLE_REPETITION),
    "contamination_check": (q_contamination_check, ORACLE_CONTAMINATION),
    "unigram_commonness": (q_unigram_commonness, ORACLE_UNIGRAM),
    "embedding_centroids": (q_embedding_centroids, ORACLE_CENTROIDS),
    "deterministic_sample": (q_deterministic_sample, ORACLE_DET_SAMPLE),
    "train_val_split": (q_train_val_split, ORACLE_TRAIN_VAL),
    "stratified_sample": (q_stratified_sample, ORACLE_STRATIFIED),
    "text_stats": (q_text_stats, ORACLE_TEXT_STATS),
    "lang_id": (q_lang_id, ORACLE_LANG_ID),
    "lang_confusion": (
        q_lang_confusion,
        ORACLE_LANG_CONFUSION.format(
            s_en=_marker_score("en"),
            s_de=_marker_score("de"),
            s_es=_marker_score("es"),
            s_fr=_marker_score("fr"),
        ),
    ),
    "lang_distribution": (
        q_lang_distribution,
        "SELECT lang, COUNT(*) AS n_docs,"
        " CAST(SUM(n_chars) AS BIGINT) AS total_chars"
        " FROM documents GROUP BY 1",
    ),
    "doc_fingerprint": (
        q_doc_fingerprint,
        f"SELECT doc_id, md5({SQL_NORMTEXT}) AS fingerprint FROM documents",
    ),
    "winnow_fingerprints": (q_winnow_fingerprints, ORACLE_WINNOW),
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "dedup_minhash": (q_dedup_minhash, _oracle_minhash()),
    "dedup_clusters": (q_dedup_clusters, _oracle_dedup_clusters()),
    "dedup_clusters_twophase": (q_dedup_clusters_twophase, _oracle_dedup_clusters()),
    "dedup_canonical": (q_dedup_canonical, _oracle_dedup_canonical()),
    "ngram_jaccard": (q_ngram_jaccard, ORACLE_NGRAM_JACCARD),
    "simhash_fingerprint": (q_simhash_fingerprint, _oracle_simhash_fp()),
    "simhash_neardup": (q_simhash_neardup, _oracle_simhash_pairs()),
    "embedding_neardup": (q_embedding_neardup, ORACLE_EMB_NEARDUP),
    "similarity_topk": (q_similarity_topk, ORACLE_SIM_TOPK),
    "similarity_topk_ivf": (q_similarity_topk_ivf, ORACLE_SIM_TOPK_IVF),
    "ann_recall": (q_ann_recall, ORACLE_ANN_RECALL),
    "bm25_search": (q_bm25_search, ORACLE_BM25),
    "scan_python_datasource": (q_scan_python_datasource, ORACLE_PYDS),
    "lsh_quality": (q_lsh_quality, _oracle_lsh_quality()),
    "dedup_containment": (q_dedup_containment, _oracle_containment()),
    "quality_weighted_sample": (q_quality_weighted_sample, ORACLE_QUALITY_WEIGHTED),
    "domain_mixture_temperature": (
        q_domain_mixture_temperature, ORACLE_MIXTURE_TEMP,
    ),
    "similarity_topk_ivf_kmeans": (q_similarity_topk_ivf_kmeans, None),
    "pii_redaction": (q_pii_redaction, ORACLE_PII),
    "quality_filter": (q_quality_filter, ORACLE_QUALITY),
    "training_corpus": (q_training_corpus, _oracle_training_corpus()),
    "multimodal_props": (q_multimodal_props, ORACLE_PROPS),
    "multimodal_props_typed": (q_multimodal_props_typed, ORACLE_PROPS_TYPED),
    "multimodal_features": (q_multimodal_features, ORACLE_MM_FEATURES),
    "multimodal_resize": (q_multimodal_resize, ORACLE_MM_RESIZE),
    "multimodal_frames": (q_multimodal_frames, ORACLE_MM_FRAMES),
}
