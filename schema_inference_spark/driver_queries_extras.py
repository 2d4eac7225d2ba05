"""Driver-contract queries: training-data pipeline operators
(deduplication, text analysis, curation) over the documents table,
with DuckDB oracles where the computation is SQL-expressible
(hash-seeded MinHash/LSH and winnowing are rows-only by design — DuckDB
has no xxhash64).
"""

from __future__ import annotations

import os
from typing import Callable, Dict

from pyspark.sql import functions as F

from .operators import dedup as D
from .operators import textstats as TS


from .driver_queries import _t_redist as _t  # noqa: F401,E402  (exact-output family: starved-scan-aware reader)


# normalized-text expression shared by the oracles
_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


# Export-seam namespace: every seam path is unique PER PROCESS, so two
# concurrent driver sessions on one host can never clobber each other's
# seams mid-oracle. The token is the pid, not the applicationId: the
# oracle SQL strings interpolate the path at module import, and
# oracle_sql() must return matching strings whether the driver fetches
# them before or after running the queries — the pid is constant for
# the process lifetime and needs no live SparkSession, while an appId
# exists only after the first query builds one. Within one process the
# query writer and the oracle reader therefore always agree; across
# processes the paths are disjoint. (Stale same-pid leftovers are
# harmless: every seam is overwrite-written by its query before its
# oracle reads it.)
_SEAM_NS = f"/tmp/sgraft_{os.getpid()}"


def _cleanup_seams() -> None:
    """Best-effort removal of this process's seam exports at interpreter
    exit — the pid namespace makes the paths per-process, so without
    this each driver/bench/pytest run would strand its full-corpus
    fingerprint/index exports in /tmp (often tmpfs) forever."""
    import glob
    import shutil
    for d in glob.glob(f"{_SEAM_NS}_*.parquet"):
        shutil.rmtree(d, ignore_errors=True)


import atexit  # noqa: E402

atexit.register(_cleanup_seams)


# ONE ownership cache serves every per-(session, sf) seam artifact.
# Ownership = (applicationId, sf_dir): all sfs share one export path
# per artifact, so the cache records the path's current OWNER — an sf
# switch (or a fresh session) recomputes and retakes the path instead
# of handing back a lazy frame whose files were overwritten (stale rows
# or FileNotFound). Alternating sfs in one session pays a re-export but
# never reads another sf's data; tested by
# test_winnow_seam_sf_switch_not_stale.
_EXPORT_CACHE: Dict[str, tuple] = {}


def _cached_export(spark, sf_dir, key, build):
    """`build(spark, sf_dir)` must WRITE the artifact's parquet path(s)
    and return the lazy read(s); the result is cached under `key` until
    the owner changes."""
    owner = (spark.sparkContext.applicationId, sf_dir)
    hit = _EXPORT_CACHE.get(key)
    if hit is not None and hit[0] == owner:
        return hit[1]
    out = build(spark, sf_dir)
    _EXPORT_CACHE[key] = (owner, out)
    return out


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return D.exact_dup_groups(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = f"""
SELECT md5({_NORM}) AS content_hash,
       count(*) AS n_docs,
       min(doc_id) AS canonical_id
FROM documents
GROUP BY 1 HAVING count(*) > 1
ORDER BY content_hash
"""


def _dup_aug(cast: str) -> str:
    """Deterministic duplicate planting for the incremental-dedup gate
    (the synthetic documents corpus has no exact dups, so the operator
    needs planted signal, written once in the dialect subset both
    engines parse identically). The doc_id % 7
    templates cross the even/odd corpus split with indexed members in
    every class (-> source='index'); the %10==1 clause plants ids that
    are ALL odd, so those groups exist only in the new batch
    (-> source='batch')."""
    return ("CASE WHEN doc_id % 5 = 3 THEN concat("
            "'duplicate template number ', "
            f"CAST(doc_id % 7 AS {cast})) "
            "WHEN doc_id % 10 = 1 THEN concat("
            "'batch only template ', "
            f"CAST(doc_id % 3 AS {cast})) ELSE text END")


def q_dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup (operators/dedup.py
    build_hash_index + dedup_against_index): the even-id half of the
    corpus is the already-indexed history, the odd-id half the arriving
    batch — new docs duplicating the index report its canonical
    (source='index'), batch-internal dups the min new id
    (source='batch'). The O(new)-per-ingest form of dedup_exact."""
    docs = (_t(spark, sf_dir, "documents")
            .withColumn("text", F.expr(_dup_aug("STRING"))))
    index = D.build_hash_index(docs.filter("doc_id % 2 = 0"))
    return D.dedup_against_index(docs.filter("doc_id % 2 = 1"), index)


_NORM_D = "regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')"

SQL_DEDUP_INCREMENTAL = f"""
WITH docs AS (SELECT doc_id, {_dup_aug('VARCHAR')} AS text FROM documents),
idx AS (SELECT md5({_NORM_D}) AS content_hash,
               min(doc_id) AS canonical_id
        FROM docs d WHERE doc_id % 2 = 0 GROUP BY 1),
newd AS (SELECT md5({_NORM_D}) AS content_hash, doc_id
         FROM docs d WHERE doc_id % 2 = 1),
grp AS (SELECT content_hash, min(doc_id) AS min_new FROM newd GROUP BY 1)
SELECT n.content_hash, n.doc_id,
       coalesce(i.canonical_id, g.min_new) AS canonical_id,
       CASE WHEN i.canonical_id IS NOT NULL
            THEN 'index' ELSE 'batch' END AS source
FROM newd n
JOIN grp g ON n.content_hash = g.content_hash
LEFT JOIN idx i ON n.content_hash = i.content_hash
WHERE (i.canonical_id IS NOT NULL AND n.doc_id != i.canonical_id)
   OR (i.canonical_id IS NULL AND n.doc_id != g.min_new)
ORDER BY n.content_hash, n.doc_id
"""


# the exact-Jaccard pair graph is consumed by BOTH dedup_jaccard and
# dedup_groups; within one run (session) the shingle join — ~10s of the
# 13.5s dedup_groups cost at sf0.1 — is computed once and the (sparse)
# pair list materialized at the seam (VERDICT r2 #6). Keyed by the Spark
# applicationId (stable and unique per session — id(spark) can alias a
# fresh session to a garbage-collected one's cached, unusable plan) so a
# fresh session recomputes; lazy checkpoint so whichever query runs
# first pays the materialization.
_PAIRS_CACHE: Dict[tuple, object] = {}


_SHINGLED_CACHE: Dict[tuple, object] = {}


def _shingled_docs(spark, sf_dir):
    """One persisted shingle frame per (session, sf), shared by every
    shingle consumer (jaccard pair graph, minhash banding + candidate
    verification) — the corpus is tokenized+shingled ONCE per run.
    Cache lifetime follows the session (clearCache between corpora in a
    long-lived service, same note as dedup.jaccard_pairs)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _SHINGLED_CACHE.get(key)
    if df is None:
        df = D.with_shingles(
            _t(spark, sf_dir, "documents").select("doc_id", "text")
        ).persist()
        _SHINGLED_CACHE[key] = df
    return df


def _jaccard_pairs_cached(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _PAIRS_CACHE.get(key)
    if df is None:
        df = D.jaccard_pairs(_shingled_docs(spark, sf_dir),
                             threshold=0.5).localCheckpoint(eager=False)
        _PAIRS_CACHE[key] = df
    return df


def q_dedup_jaccard(spark, sf_dir):
    return _jaccard_pairs_cached(spark, sf_dir)


# shingle CTE chain (distinct word 3-shingles + per-doc counts) over
# `documents`, shared by the jaccard oracles and the minhash
# verification-stage oracle
_SHINGLE_CTES = f"""t AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(
                  range(1, len(ws) - 1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
       FROM t WHERE len(ws) >= 3),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)"""


def verify_stage_sql(cand_path: str) -> str:
    """The exact-Jaccard verification stage (mirrors
    dedup.verify_candidates at threshold 0.5) over an exported candidate
    seam and the `documents` relation — the body of a WITH chain."""
    return f"""cand AS (SELECT d1, d2 FROM '{cand_path}/*.parquet'),
{_SHINGLE_CTES},
inter AS (SELECT c.d1, c.d2, count(*) AS i
          FROM cand c
          JOIN sh a ON a.doc_id = c.d1
          JOIN sh b ON b.doc_id = c.d2 AND b.s = a.s
          GROUP BY 1, 2)
SELECT d1, d2, round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
FROM inter
JOIN cnt ca ON d1 = ca.doc_id
JOIN cnt cb ON d2 = cb.doc_id
WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.5
ORDER BY d1, d2"""


# jaccard pair CTE chain, shared by the pair oracle and the
# connected-components (dedup groups) oracle
_JACCARD_CTES = f"""{_SHINGLE_CTES},
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
jp AS (SELECT d1, d2,
              round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
       FROM inter
       JOIN cnt ca ON d1 = ca.doc_id
       JOIN cnt cb ON d2 = cb.doc_id
       WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.5)"""

SQL_DEDUP_JACCARD = f"""
WITH {_JACCARD_CTES}
SELECT d1, d2, jaccard FROM jp
ORDER BY d1, d2
"""


# candidate-pair export seam for the two-stage minhash oracle: the LSH
# banding is engine-hash-seeded (xxhash64 signatures), but the
# verification stage — exact Jaccard over the raw text, restricted to
# the candidate pairs — is arithmetic both engines reproduce from the
# identical exported candidate list.
#
# All seam paths are re-exported on EVERY call (no cross-call cache):
# consume (collect) the returned frame before invoking the same query
# for a different sf_dir — the lazy result reads whatever the path holds
# at action time. The driver's per-query run-then-compare does exactly
# that; the cached seams (see _cached_export) guard ownership instead.
MINHASH_CAND_EXPORT = f"{_SEAM_NS}_minhash_cand.parquet"


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs, exact-Jaccard verified — two-stage
    gated check: the banded candidate pairs export to a parquet seam and
    BOTH engines run the verification stage (exact Jaccard from raw
    text, >= threshold) from it; only the MinHash banding itself stays
    engine-side (recall vs the exact jaccard query is asserted in
    tests)."""
    shingled = _shingled_docs(spark, sf_dir)
    cand = D.lsh_candidate_pairs(shingled, sort=False)
    cand.write.mode("overwrite").parquet(MINHASH_CAND_EXPORT)
    seam = spark.read.parquet(MINHASH_CAND_EXPORT)
    return D.verify_candidates(seam, shingled, threshold=0.5)


SQL_DEDUP_MINHASH_LSH = f"""
WITH {verify_stage_sql(MINHASH_CAND_EXPORT)}
"""


def q_dedup_groups(spark, sf_dir):
    """Duplicate GROUPS via connected components over the exact-Jaccard
    near-dup pair graph (operators/components.py): one row per group with
    the canonical id and sorted members — oracle-gated against a DuckDB
    recursive-CTE transitive closure over the identical pair graph. (The
    LSH-pair variant of the same operator is exercised in
    tests/test_components.py; its pair graph is engine-hash-seeded so it
    cannot be oracled.)"""
    from .operators.components import dedup_groups

    pairs = _jaccard_pairs_cached(spark, sf_dir)
    return dedup_groups(pairs).select(
        "canonical_id", F.col("n_docs").cast("bigint").alias("n_docs"),
        F.concat_ws(",", F.transform("members",
                                     lambda x: x.cast("string")))
        .alias("members"))


SQL_DEDUP_GROUPS = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (SELECT d1 AS a, d2 AS b FROM jp
          UNION SELECT d2, d1 FROM jp),
reach(node, other) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges)
    UNION
    SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
),
cc AS (SELECT node, min(other) AS comp FROM reach GROUP BY node)
SELECT comp AS canonical_id,
       count(*) AS n_docs,
       string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
FROM cc
GROUP BY comp HAVING count(*) > 1
ORDER BY canonical_id
"""


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware canonical selection over the same dup groups:
    keep the highest-quality member of each group (ties -> min id) —
    the curation policy refinement of dedup_groups' min-id canonical.
    Fully oracle-gated: quality_bp is integer basis points, so the
    argmax agrees exactly across engines."""
    from .operators.components import keep_best

    pairs = _jaccard_pairs_cached(spark, sf_dir)
    quality = TS.quality_score(_t(spark, sf_dir, "documents"))
    return keep_best(pairs, quality).orderBy("canonical_id")


# the quality_bp formula, verbatim from SQL_QUALITY_SCORE's select —
# shared so the keep-best oracle scores docs identically
_QUALITY_BP = f"""least(20 * length(text), 4000)
         + (3000 - CASE WHEN length(text) > 0
                        THEN least((15000 * (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))) // length(text), 3000)
                        ELSE 0 END)
         + CASE WHEN len(string_split({_NORM}, ' ')) > 0
                THEN least((375 * length(replace({_NORM}, ' ', ''))) // len(string_split({_NORM}, ' ')), 3000)
                ELSE 0 END"""

SQL_DEDUP_KEEP_BEST = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (SELECT d1 AS a, d2 AS b FROM jp
          UNION SELECT d2, d1 FROM jp),
reach(node, other) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges)
    UNION
    SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
),
cc AS (SELECT node, min(other) AS comp FROM reach GROUP BY node),
qd AS (SELECT doc_id, {_QUALITY_BP} AS quality_bp FROM documents),
ranked AS (
    SELECT c.comp, c.node, q.quality_bp,
           count(*) OVER (PARTITION BY c.comp) AS n_docs,
           row_number() OVER (
               PARTITION BY c.comp
               ORDER BY q.quality_bp DESC, c.node) AS rn
    FROM cc c JOIN qd q ON q.doc_id = c.node)
SELECT comp AS canonical_id, n_docs, node AS keep_id,
       quality_bp AS keep_quality_bp, n_docs - 1 AS n_dropped
FROM ranked WHERE rn = 1 AND n_docs > 1
ORDER BY canonical_id
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_token_counts(spark, sf_dir):
    return TS.token_counts(_t(spark, sf_dir, "documents"))


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       len(string_split({_NORM}, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS re_tokens,
       length(text) AS n_chars
FROM documents
ORDER BY doc_id
"""


def q_quality_score(spark, sf_dir):
    return TS.quality_score(_t(spark, sf_dir, "documents"))


SQL_QUALITY_SCORE = f"""
WITH base AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split({_NORM}, ' ')) AS n_tokens,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         length(replace({_NORM}, ' ', '')) AS word_chars,
         len(list_intersect(list_distinct(string_split({_NORM}, ' ')),
             ['the','a','and','of','to','in','is','it'])) AS n_stop
  FROM documents)
SELECT doc_id, n_chars, n_tokens,
       CASE WHEN n_chars > 0 THEN (10000 * n_punct) // n_chars ELSE 0 END AS punct_bp,
       CASE WHEN n_tokens > 0 THEN (100 * word_chars) // n_tokens ELSE 0 END AS mean_word_len_x100,
       1250 * n_stop AS stop_bp,
       least(20 * n_chars, 4000)
         + (3000 - CASE WHEN n_chars > 0
                        THEN least((15000 * n_punct) // n_chars, 3000)
                        ELSE 0 END)
         + CASE WHEN n_tokens > 0
                THEN least((375 * word_chars) // n_tokens, 3000)
                ELSE 0 END AS quality_bp
FROM base
ORDER BY doc_id
"""


def q_lang_id(spark, sf_dir):
    return TS.lang_id(_t(spark, sf_dir, "documents"))


def _votes_sql() -> str:
    parts = []
    for lang in sorted(TS.STOPWORDS):
        words = ",".join(f"'{w}'" for w in TS.STOPWORDS[lang])
        parts.append(
            f"len(list_intersect(list_distinct(string_split({_NORM}, ' ')), "
            f"[{words}])) AS v_{lang}")
    return ",\n       ".join(parts)


SQL_LANG_ID = f"""
WITH v AS (SELECT doc_id, {_votes_sql()} FROM documents),
best AS (SELECT *, greatest(v_de, v_en, v_es, v_fr) AS b FROM v)
SELECT doc_id,
       CASE WHEN b = 0 THEN 'und'
            WHEN v_de = b THEN 'de'
            WHEN v_en = b THEN 'en'
            WHEN v_es = b THEN 'es'
            ELSE 'fr' END AS lang_pred,
       v_de, v_en, v_es, v_fr
FROM best
ORDER BY doc_id
"""


NGRAM_K = 50


def q_top_ngrams(spark, sf_dir):
    """Corpus-wide top-50 bigram frequencies + document frequency
    (textstats.top_ngrams) — vocabulary statistics for stop-shingle
    calibration and boilerplate discovery; deterministic tiebreak."""
    return TS.top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=NGRAM_K)


SQL_TOP_NGRAMS = f"""
WITH b AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
g AS (SELECT doc_id,
             CASE WHEN len(w) > 1
                  THEN list_transform(generate_series(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i + 1])
                  ELSE CAST([] AS VARCHAR[]) END AS bi
      FROM b),
oc AS (SELECT gram, count(*) AS n_occurrences
       FROM (SELECT unnest(bi) AS gram FROM g) GROUP BY gram),
dc AS (SELECT gram, count(*) AS n_docs
       FROM (SELECT unnest(list_distinct(bi)) AS gram FROM g)
       GROUP BY gram),
ranked AS (SELECT oc.gram, oc.n_occurrences, dc.n_docs,
                  row_number() OVER (ORDER BY oc.n_occurrences DESC,
                                              oc.gram) AS rank
           FROM oc JOIN dc USING (gram))
SELECT rank, gram, n_occurrences, n_docs
FROM ranked WHERE rank <= {NGRAM_K} ORDER BY rank
"""


TERMS_K = 3


def q_top_terms(spark, sf_dir):
    """Per-document keyword extraction (textstats.top_terms_per_doc):
    top-3 terms by the integer-exact tf/df salience ratio."""
    return TS.top_terms_per_doc(_t(spark, sf_dir, "documents"), k=TERMS_K)


SQL_TOP_TERMS = f"""
WITH toks AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term
              FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM toks GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df
        FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                  (10000 * tf.tf) // dfq.df AS score_bp,
                  row_number() OVER (
                      PARTITION BY tf.doc_id
                      ORDER BY (10000 * tf.tf) // dfq.df DESC,
                               tf.term) AS rank
           FROM tf JOIN dfq USING (term))
SELECT doc_id, rank, term, tf, df, score_bp
FROM scored WHERE rank <= {TERMS_K}
ORDER BY doc_id, rank
"""


def q_fingerprint(spark, sf_dir):
    return TS.fingerprint(_t(spark, sf_dir, "documents"))


SQL_FINGERPRINT = f"""
SELECT doc_id,
       md5({_NORM}) AS fp,
       (length({_NORM}) // 32) * 32 AS len_band
FROM documents
ORDER BY doc_id
"""


def q_repetition(spark, sf_dir):
    return TS.repetition_stats(_t(spark, sf_dir, "documents"))


SQL_REPETITION = f"""
WITH b AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
     g AS (SELECT doc_id, w,
                  CASE WHEN len(w) > 1
                       THEN list_transform(generate_series(1, len(w) - 1),
                                           i -> w[i] || ' ' || w[i + 1])
                       ELSE CAST([] AS VARCHAR[]) END AS bi
           FROM b)
SELECT doc_id,
       len(w) AS n_words,
       len(list_distinct(w)) AS distinct_words,
       greatest(len(w) - 1, 0) AS n_bigrams,
       len(list_distinct(bi)) AS distinct_bigrams,
       CASE WHEN len(w) > 0
            THEN 10000 - (10000 * len(list_distinct(w))) // len(w)
            ELSE 0 END AS word_rep_bp,
       CASE WHEN len(w) > 1
            THEN 10000 - (10000 * len(list_distinct(bi))) // (len(w) - 1)
            ELSE 0 END AS bigram_rep_bp
FROM g
ORDER BY doc_id
"""


# winnowing fingerprint export seam: the fingerprints are engine-hash-seeded, but the pair-counting stage is
# plain relational algebra, so both engines consume the identical
# exported table and the stage is fully rows+schema+hash gated. The
# export ALSO fixes the round-3 regression: the fingerprint frame is
# computed once per (session, sf) and shared by both winnow queries
# instead of each recomputing it from raw text.
WINNOW_FP_EXPORT = f"{_SEAM_NS}_winnow_fp.parquet"

def _build_winnow_fp_seam(spark, sf_dir):
    # sort=False: q_winnow_fingerprints re-orders after the parquet
    # round-trip and the pair stage aggregates, so ordering the seam
    # write only doubled the fingerprint computation (range sampler)
    # and shuffled the table for nothing
    fp = TS.winnow_fingerprints(_t(spark, sf_dir, "documents"),
                                sort=False)
    fp.write.mode("overwrite").parquet(WINNOW_FP_EXPORT)
    return spark.read.parquet(WINNOW_FP_EXPORT)


def _winnow_fp_exported(spark, sf_dir):
    return _cached_export(spark, sf_dir, WINNOW_FP_EXPORT,
                          _build_winnow_fp_seam)


def q_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash winnowing fingerprints (MOSS scheme). Rows-only
    (engine hash); guarantees + identity properties are unit-tested."""
    return _winnow_fp_exported(spark, sf_dir).orderBy("doc", "fp")


def q_winnow_similar_pairs(spark, sf_dir):
    """Doc pairs sharing winnowing fingerprints — two-stage gated check:
    the pair-counting stage runs over the exported fingerprint seam in
    BOTH engines (rows+schema+hash), only the fingerprint generation
    itself stays rows-only."""
    return TS.winnow_pairs_from_fp(_winnow_fp_exported(spark, sf_dir))


SQL_WINNOW_SIMILAR_PAIRS = f"""
WITH fp AS (SELECT doc, fp FROM '{WINNOW_FP_EXPORT}/*.parquet'),
hot AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > 1024),
cold AS (SELECT doc, fp FROM fp WHERE fp NOT IN (SELECT fp FROM hot))
SELECT a.doc AS d1, b.doc AS d2, count(*) AS n_shared
FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc < b.doc
GROUP BY 1, 2 HAVING count(*) >= 3
ORDER BY d1, d2
"""


def q_curation_pipeline(spark, sf_dir):
    """End-to-end curation cascade (operators/curation.py): exact dedup
    -> language -> quality -> repetition, per-source audit summary.
    Runs over the dup-augmented corpus so the dedup stage has planted
    work; every stage's formula is the corresponding textstats/dedup
    operator's (parity pinned in tests/test_curation.py)."""
    from .operators.curation import curation_summary
    docs = (_t(spark, sf_dir, "documents")
            .withColumn("text", F.expr(_dup_aug("STRING"))))
    return curation_summary(docs)


def _sql_curation() -> str:
    from .operators.curation import (LANG_KEEP, QUALITY_MIN_BP,
                                     RATIO_MIN_BP)
    return f"""
WITH docs AS (SELECT doc_id, source, {_dup_aug('VARCHAR')} AS text
              FROM documents),
base AS (
  SELECT doc_id, source,
         md5({_NORM}) AS h,
         len(string_split({_NORM}, ' ')) AS ws,
         (10000 * len(list_distinct(string_split({_NORM}, ' '))))
           // len(string_split({_NORM}, ' ')) AS ratio_bp,
         length(text) AS n_chars,
         len(string_split({_NORM}, ' ')) AS n_tokens,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]',
                                              '', 'g')) AS n_punct,
         length(replace({_NORM}, ' ', '')) AS word_chars,
         {_votes_sql()}
  FROM docs),
lp AS (
  SELECT *, greatest(v_de, v_en, v_es, v_fr) AS bv,
         least(20 * n_chars, 4000)
           + (3000 - CASE WHEN n_chars > 0
                          THEN least((15000 * n_punct) // n_chars, 3000)
                          ELSE 0 END)
           + CASE WHEN n_tokens > 0
                  THEN least((375 * word_chars) // n_tokens, 3000)
                  ELSE 0 END AS quality_bp,
         min(doc_id) OVER (PARTITION BY h) AS canon
  FROM base),
v AS (
  SELECT source, ws,
         CASE WHEN doc_id != canon THEN 'dup'
              WHEN (CASE WHEN bv = 0 THEN 'und'
                         WHEN v_de = bv THEN 'de'
                         WHEN v_en = bv THEN 'en'
                         WHEN v_es = bv THEN 'es'
                         ELSE 'fr' END) != '{LANG_KEEP}' THEN 'lang'
              WHEN quality_bp < {QUALITY_MIN_BP} THEN 'quality'
              WHEN ratio_bp < {RATIO_MIN_BP} THEN 'repetitive'
              ELSE 'kept' END AS bucket
  FROM lp)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN bucket = 'dup' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup,
       CAST(sum(CASE WHEN bucket = 'lang' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lang,
       CAST(sum(CASE WHEN bucket = 'quality' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality,
       CAST(sum(CASE WHEN bucket = 'repetitive' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_repetitive,
       CAST(sum(CASE WHEN bucket = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN bucket = 'kept' THEN ws ELSE 0 END) AS BIGINT)
         AS tokens_kept
FROM v GROUP BY source ORDER BY source
"""


SQL_CURATION_PIPELINE = _sql_curation()


def q_mixture_sample(spark, sf_dir):
    """Token-budget mixture sampling (operators/curation.py
    token_budget_sample): per-source deterministic md5(id)-ordered
    greedy prefix under a per-source token budget; budgets derived
    from the source name so both engines compute them identically."""
    from .operators.curation import token_budget_sample
    docs = _t(spark, sf_dir, "documents")
    budgets = (docs.select("source").distinct()
               .withColumn("token_budget",
                           (F.lit(300) + F.lit(50)
                            * (F.length("source") % 4)).cast("bigint")))
    return token_budget_sample(docs, budgets)


SEQ_LEN = 512  # pack length for the packing-plan query


def q_packing_plan(spark, sf_dir):
    """Sequence-packing plan (operators/curation.py packing_plan):
    concat-and-cut assignment of documents to fixed 512-token training
    sequences via a distributed prefix sum — per-doc token intervals
    and pack spans, fully integer-exact."""
    from .operators.curation import packing_plan
    return packing_plan(_t(spark, sf_dir, "documents"), seq_len=SEQ_LEN)


SQL_PACKING_PLAN = f"""
WITH t AS (SELECT doc_id,
                  len(string_split({_NORM}, ' ')) AS ws_tokens
           FROM documents),
c AS (SELECT doc_id, ws_tokens,
             coalesce(sum(ws_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS start_offset
      FROM t)
SELECT doc_id, ws_tokens, start_offset,
       start_offset + ws_tokens - 1 AS end_offset,
       start_offset // {SEQ_LEN} AS first_pack,
       (start_offset + ws_tokens - 1) // {SEQ_LEN} AS last_pack
FROM c ORDER BY doc_id
"""


SQL_MIXTURE_SAMPLE = f"""
WITH t AS (SELECT doc_id, source,
                  len(string_split({_NORM}, ' ')) AS ws_tokens,
                  md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
b AS (SELECT DISTINCT source,
             CAST(300 + 50 * (length(source) % 4) AS BIGINT)
               AS token_budget
      FROM documents),
c AS (SELECT t.doc_id, t.source, t.ws_tokens, b.token_budget,
             sum(t.ws_tokens) OVER (PARTITION BY t.source
                                    ORDER BY t.h, t.doc_id) AS cum_tokens,
             row_number() OVER (PARTITION BY t.source
                                ORDER BY t.h, t.doc_id) AS mix_rank
      FROM t JOIN b USING (source))
SELECT doc_id, source, ws_tokens, cum_tokens, mix_rank, token_budget
FROM c WHERE cum_tokens <= token_budget
ORDER BY source, mix_rank
"""


# ---------------------------------------------------------------------------
# Text validity: planted encoding corruption — every 61st doc gets a
# raw BEL control byte prepended (control_chars), every 67th a U+FFFD
# replacement char appended (replacement_char), every 71st is blanked
# to whitespace (empty). Both engines derive the identical corrupted
# view from pristine parquet; the character-class regex counts match
# between Java regex and RE2.
# ---------------------------------------------------------------------------

def q_text_validity(spark, sf_dir):
    from .operators import textstats as TSV
    did = F.col("doc_id")
    t = F.col("text")
    planted = (F.when(did % 61 == 0, F.concat(F.lit("\x07"), t))
               .when(did % 67 == 0, F.concat(t, F.lit("�")))
               .when(did % 71 == 0, F.lit("   "))
               .otherwise(t))
    df = (_t(spark, sf_dir, "documents")
          .select("doc_id", planted.alias("text")))
    return (TSV.text_validity(df)
            .filter(F.col("verdict") != "ok")
            .orderBy("doc_id"))


SQL_TEXT_VALIDITY = r"""
WITH v AS (
  SELECT doc_id,
         CASE WHEN doc_id % 61 = 0 THEN chr(7) || text
              WHEN doc_id % 67 = 0 THEN text || chr(65533)
              WHEN doc_id % 71 = 0 THEN '   '
              ELSE text END AS text
  FROM documents),
q AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CAST(len(regexp_extract_all(text,
              '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS BIGINT) AS n_control,
         CAST(len(regexp_extract_all(text, chr(65533))) AS BIGINT)
           AS n_replacement,
         length(trim(text)) AS n_trimmed
  FROM v)
SELECT doc_id, n_chars, n_control, n_replacement,
       CASE WHEN n_chars IS NULL THEN 'null_text'
            WHEN n_trimmed = 0 THEN 'empty'
            WHEN n_control > 0 THEN 'control_chars'
            WHEN n_replacement > 0 THEN 'replacement_char'
            ELSE 'ok' END AS verdict
FROM q
WHERE n_chars IS NULL OR n_trimmed = 0 OR n_control > 0
   OR n_replacement > 0
ORDER BY doc_id
"""


EXTRA_QUERIES: Dict[str, Callable] = {
    "dedup_exact": q_dedup_exact,
    "dedup_incremental": q_dedup_incremental,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_groups": q_dedup_groups,
    "dedup_keep_best": q_dedup_keep_best,
    "token_counts": q_token_counts,
    "text_validity": q_text_validity,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "top_ngrams": q_top_ngrams,
    "top_terms": q_top_terms,
    "repetition": q_repetition,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_similar_pairs": q_winnow_similar_pairs,
    "curation_pipeline": q_curation_pipeline,
    "mixture_sample": q_mixture_sample,
    "packing_plan": q_packing_plan,
}

EXTRA_ORACLES: Dict[str, str] = {
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "dedup_jaccard": SQL_DEDUP_JACCARD,
    "dedup_groups": SQL_DEDUP_GROUPS,
    "dedup_keep_best": SQL_DEDUP_KEEP_BEST,
    "token_counts": SQL_TOKEN_COUNTS,
    "text_validity": SQL_TEXT_VALIDITY,
    "quality_score": SQL_QUALITY_SCORE,
    "lang_id": SQL_LANG_ID,
    "fingerprint": SQL_FINGERPRINT,
    "top_ngrams": SQL_TOP_NGRAMS,
    "top_terms": SQL_TOP_TERMS,
    "repetition": SQL_REPETITION,
    "curation_pipeline": SQL_CURATION_PIPELINE,
    "mixture_sample": SQL_MIXTURE_SAMPLE,
    "packing_plan": SQL_PACKING_PLAN,
    # two-stage: the engine-hashed artifact (fingerprints, candidate
    # pairs) is exported to a parquet seam; the downstream stage itself
    # is fully rows+schema+hash gated
    "winnow_similar_pairs": SQL_WINNOW_SIMILAR_PAIRS,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
    # rows-only: fingerprint GENERATION itself (winnow_fingerprints)
    # is engine-hash-seeded by design
}
