"""Query entries for the custom operators (dedup/similarity/as-of) and the
remaining relational coverage (grouping sets, JSON, arrays, cross join,
percentiles, approx-distinct).

MinHash-LSH shares the exact-Jaccard oracle: LSH generates candidates and the
operator verifies them exactly, so its output equals the all-pairs answer
(P(miss) < 1e-3 per pair at the chosen band shape) while doing bucket-local
work — the gate double-checks the equivalence every round.  Approximate/hash-based ops
are oracle-checked too, each by the strongest check its semantics allow:
SimHash and fingerprint dedup run on a DuckDB-replayable md5-derived hash
(full end-to-end value oracle); SRP ANN emits an in-plan recall verdict vs
the exact brute force; approx_count_distinct emits exact counts plus an
accuracy-contract boolean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalake_spark.operators import asof as asof_ops
from datalake_spark.operators import dedup as dedup_ops
from datalake_spark.operators import multimodal as mm_ops
from datalake_spark.operators import similarity as sim_ops
from datalake_spark.functions.hashing import md5hash60, sql_md5hash60
from datalake_spark.functions.text import doc_fingerprint_portable, lang_id, quality_score
from datalake_spark.queries import (
    Q, _pq_codes_sql, _pq_train_sql, load,
)
from datalake_spark.queries.pipeline_q import NGRAM_JACCARD_SQL
from datalake_spark.session import persisted


# ---------------------------------------------------------------------------
# MinHash LSH near-dup — same contract as ngram_jaccard, bucket-local plan.
# ---------------------------------------------------------------------------
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread measured NEUTRAL here at sf0.1 AND sf1 (r15 interleaved
    # A/B) — the sig map stage is cheap next to the banding/verify
    # shuffles — so the scan keeps its natural splits
    docs = load(spark, sf_dir, "documents")
    # truncation sentinel: the brute-force oracle equals the banded
    # operator ONLY while no band bucket exceeds the cap (the simhash /
    # fuzzy-join caps both started binding at sf1.0 — this one has not,
    # but the minhash banding cannot be replicated in DuckDB SQL, since
    # xxhash64 has no DuckDB analog).  Union the would-be-truncated
    # buckets as self-describing rows (doc_a = -1): the oracle predicts
    # zero of them, so if a future corpus makes the cap bind, parity
    # fails with rows that SAY why instead of a mysterious missing-pairs
    # diff.  Since r7 the sentinel rides the pairs path's OWN bucket
    # aggregation (trunc_out — bucket_size is a free count column on the
    # groupBy the pairs already run), retiring the second banding
    # shuffle the r6 form paid (~+65% on this entry).
    trunc_frames: list = []
    pairs = dedup_ops.minhash_lsh_pairs(
        docs, threshold=0.5, trunc_out=trunc_frames
    )
    trunc = trunc_frames[0].select(
        F.lit(-1).cast("long").alias("doc_a"),
        F.col("band").cast("long").alias("doc_b"),
        F.col("bucket_size").cast("long").alias("n_common"),
        F.lit(-1.0).alias("jaccard"),
    )
    return pairs.unionByName(trunc)


# ---------------------------------------------------------------------------
# Near-dup CLUSTERS: minhash pairs -> connected components -> canonical
# (min-id) cluster labels over every document, plus cluster sizes and the
# keep-one-per-cluster flag.  The Spark side iterates min-label propagation
# with path compression (operators/dedup.py:connected_components); the
# oracle replays the exact pair set (the LSH output is exact-verified, so
# it equals the all-pairs Jaccard>=0.5 set) and closes it with a recursive
# CTE — two entirely different fixpoint engines agreeing on every label.
# ---------------------------------------------------------------------------
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = dedup_ops.minhash_lsh_pairs(docs, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    comp = dedup_ops.connected_components(pairs, "doc_a", "doc_b")
    labeled = (
        docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    # cluster sizes as a window count: ONE shuffle on cluster_id and one
    # evaluation of `labeled`, vs the groupBy+re-join shape (two shuffles
    # and the docs-join lineage computed twice).  Cluster ids are
    # hash-uniform (near-dup clusters are tiny), so no skewed partition.
    w = Window.partitionBy("cluster_id")
    return labeled.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).cast("bigint").alias("keep"),
    )


DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE
-- contract identical texts to their min-id representative BEFORE the
-- pair closure: identical texts have Jaccard 1, so contraction is
-- provably component-preserving, and the naive transitive closure is
-- O(k^3) per iteration on a k-clique — the r6 sf1.0 run (10x duplicate
-- tiles, ~700-doc cliques) spilled tens of GB through it, while the
-- contracted graph (~70-node cliques) closes in seconds.  Labels expand
-- back over all docs; the cluster canonical min doc id IS the min rep.
rep AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
  FROM documents),
w AS (
  SELECT d.doc_id, string_split(d.text, ' ') AS words
  FROM documents d JOIN rep ON rep.doc_id = d.doc_id
  WHERE rep.rep_id = d.doc_id),
sh AS (
  -- md5-60 int shingles, not raw strings: see NGRAM_JACCARD_SQL — the
  -- string self-join spilled tens of GB at sf1.0
  SELECT DISTINCT doc_id,
         CAST(CAST('0x' || SUBSTR(md5(array_to_string(words[i:i+2], ' ')),
                           1, 15) AS BIGINT) AS BIGINT) AS shingle
  FROM w, UNNEST(generate_series(1, len(words) - 2)) AS t(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2) c
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs),
cc AS (
  SELECT a AS id, a AS comp FROM edges
  UNION
  SELECT e.a, cc.comp FROM edges e JOIN cc ON cc.id = e.b),
lab AS (SELECT id, MIN(comp) AS cluster_id FROM cc GROUP BY id),
allc AS (
  SELECT r.doc_id, COALESCE(l.cluster_id, r.rep_id) AS cluster_id
  FROM rep r LEFT JOIN lab l ON l.id = r.rep_id)
SELECT a.doc_id, a.cluster_id, s.cluster_size,
       CAST(a.doc_id = a.cluster_id AS BIGINT) AS keep
FROM allc a
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
      FROM allc GROUP BY cluster_id) s USING (cluster_id)
"""


# ---------------------------------------------------------------------------
# SimHash near-dup pairs, oracle-checked end-to-end: the md5-derived token
# hash is DuckDB-replayable, and with max_hamming=3 < num_bands=4 the banded
# result is provably the EXACT hamming<=3 pair set (pigeonhole) as long as
# no band bucket exceeds the operator's max_bucket cap.  The oracle
# replicates the FULL declared semantics — banding, the deterministic
# id-smallest-prefix bucket cap, candidate dedup, hamming verify — so the
# gate stays exact at every SF: the sf1.0 scale run (r6) proved the
# brute-force-only oracle diverges once tiled duplicate docs push hot
# buckets past the cap (12 buckets > 1000 at sf1.0, max 2690).
# Production default stays xxhash64 (faster); the operator logic is identical.
# ---------------------------------------------------------------------------
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup_ops.simhash_pairs(
        docs, max_hamming=3, token_hash=md5hash60
    ).withColumn("hamming", F.col("hamming").cast("long"))


SIMHASH_SQL = f"""
WITH th AS (
  SELECT doc_id, {sql_md5hash60('tok')} AS h
  FROM (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents)),
votes AS (
  SELECT doc_id, s, SUM(CASE WHEN (h >> s) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT UNNEST(generate_series(0, 59)) AS s) bitpos
  GROUP BY doc_id, s),
masks AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << s) ELSE 0 END)
              AS BIGINT) AS sh
  FROM votes GROUP BY doc_id),
banded AS (
  SELECT doc_id, sh, band, (sh >> (band * 16)) & 65535 AS bh
  FROM masks CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS band) bands),
kept AS (
  SELECT band, bh, doc_id, sh
  FROM (SELECT band, bh, doc_id, sh,
               ROW_NUMBER() OVER (PARTITION BY band, bh
                                  ORDER BY doc_id) AS rn
        FROM banded)
  WHERE rn <= 1000),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sh AS sha, b.sh AS shb
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sha, shb)) <= 3
"""


# ---------------------------------------------------------------------------
# Rolling-fingerprint dedup, oracle-checked: the portable fingerprint
# (md5 group hashes + polynomial fold in exact bigint arithmetic) is
# replayed in DuckDB via list_reduce.  Same dedup semantics as the
# xxhash64 production default.
# ---------------------------------------------------------------------------
def fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup_ops.fingerprint_dedup(
        docs, fingerprint=doc_fingerprint_portable
    ).select("doc_id", "lang", "source")


FINGERPRINT_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, source,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents),
fps AS (
  SELECT doc_id, lang, source,
         list_reduce(
           list_prepend(CAST(97531 AS BIGINT),
             list_transform(generate_series(0, (len(toks) - 1) // 8),
               i -> {sql_md5hash60("array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ')")})),
           (acc, h) -> (acc * 1000003 + h) % 2147483647) AS fp
  FROM t),
keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM fps GROUP BY fp)
SELECT f.doc_id, f.lang, f.source
FROM fps f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.keep_id
"""


# ---------------------------------------------------------------------------
# Language ID + quality — heuristic classifier as pure Column logic.
# ---------------------------------------------------------------------------
def lang_id_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        lang_id("text").alias("lang_pred"),
        F.round(quality_score("text"), 6).alias("quality_r"),
    )


_SW = {
    "de": ["der", "die", "das", "und", "ein", "ist", "nicht", "zu"],
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "es": ["el", "la", "de", "y", "un", "una", "es", "que"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "que"],
}


def _sql_count(lang: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in _SW[lang])
    return f"len(list_filter(string_split(trim(text), ' '), x -> x IN ({inlist})))"


LANG_ID_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         {_sql_count('de')} AS n_de,
         {_sql_count('en')} AS n_en,
         {_sql_count('es')} AS n_es,
         {_sql_count('fr')} AS n_fr,
         CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS n_toks,
         CAST(len(list_distinct(string_split(trim(text), ' '))) AS DOUBLE) AS n_uniq,
         CAST(len(list_filter(string_split(trim(text), ' '), x -> LENGTH(x) <= 2)) AS DOUBLE) AS n_short
  FROM documents)
SELECT doc_id, lang,
       CASE WHEN n_de > 0 AND n_de >= GREATEST(n_en, n_es, n_fr) THEN 'de'
            WHEN n_en > 0 AND n_en >= GREATEST(n_es, n_fr) THEN 'en'
            WHEN n_es > 0 AND n_es >= n_fr THEN 'es'
            WHEN n_fr > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred,
       ROUND(0.5 * LEAST(1.0, n_toks / 50.0) + 0.3 * (n_uniq / n_toks)
             + 0.2 * (1 - n_short / n_toks), 6) AS quality_r
FROM t
"""


# ---------------------------------------------------------------------------
# SRP-LSH ANN as a recall gate: the query computes BOTH the ANN answer and
# the exact brute-force top-k in one plan, counts overlap per query id, and
# emits a recall verdict the oracle pins (>= 2 of 3 exact neighbors found —
# the measured floor across sf0.001/0.01/0.1 is 2).  The hash-match gate
# thus verifies a real invariant of the approximate operator instead of
# recording rows-only.
# ---------------------------------------------------------------------------
def ann_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    c = emb.filter(F.col("vec_id") >= 3)
    ann = sim_ops.srp_ann_topk(q, c, k=3).select("q_id", "c_id")
    exact = sim_ops.brute_force_topk(q, c, k=3).select("q_id", "c_id")
    hits = ann.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("_hits")
    )
    return (
        ann.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_ann"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            "n_ann",
            (F.coalesce(F.col("_hits"), F.lit(0)) >= 2).alias("recall_ok"),
        )
    )


ANN_SRP_SQL = """
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(3 AS BIGINT) AS n_ann,
       TRUE AS recall_ok
FROM (VALUES (0), (1), (2)) t(q_id)
"""


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # m=32/ksub=32 because the gate embeddings are isotropic random —
    # PQ's worst case (no cluster structure for the codebooks to exploit;
    # measured recall@5 vs brute force: 0.06 at the classic m=8/ksub=16,
    # 0.58 here with the coreset seed, 0.70 with the r11 trained
    # codebooks — pq_train iters=2 Lloyd rounds, the default — scaling
    # exactly as PQ theory predicts with finer subspaces).  Real
    # embedding corpora cluster, so coarser defaults hold there; the
    # value-exact gate verifies the machinery (incl. the training
    # rounds, replayed in the oracle) either way.
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    # corpus side spread (r14): the persisted subvector frame inherits
    # the single-split scan's 1-partition layout, so each Lloyd round's
    # row-local argmin ran as a ~2.4 s single-task stage (stage
    # profile); the metadata-gated floor parallelizes training + encode
    # and is a no-op at scale.  The 3-row query side stays unspread
    # (broadcast input).
    c = load(spark, sf_dir, "embeddings", spread=True).filter(
        F.col("vec_id") >= 3
    )
    return sim_ops.pq_topk(q, c, k=3, m=32, ksub=32).select(
        "q_id", "c_id", "adc", "rk"
    )


# PQ-ADC is fully deterministic (unit-normalized micro components, exact
# BIGINT squared-L2 sums — see functions/vectors.quantize_micro_unit: the
# normalization is what makes L2 ADC answer the cosine question), so like
# IVF it gets a real value oracle: the SQL replays codebook SEED choice
# (subvectors of the ksub=32 lowest candidate ids — keep in sync with the
# gate's ksub and the SQL's LIMIT 32), the TWO Lloyd training rounds
# (r11, pq_train iters=2: exact-BIGINT argmin assignment with ties to
# the smaller code, then the member-mean rounded half-up back onto the
# micro grid via exact integer floor-division — (num - pmod)/den, the
# same arithmetic Spark runs, so the trained books match bit-for-bit;
# codewords with no members carry over via NOT EXISTS), per-subspace
# nearest-codeword encoding, the query distance table, and the ADC sum —
# every ranking key an exact integer.  dim 64 / m 32 gives
# sub = (pos-1)//2 at the gate's m=32; the pre-filtered-CTE discipline is the ANN_IVF_SQL
# lesson (DuckDB may not push an id filter below a per-pos equi-join).
# The training rounds and the encoding are the shared Lloyd SQL of
# datalake_spark/queries/__init__.py (_pq_train_sql, _pq_codes_sql).


_PQ_TRAIN_SQL = _pq_train_sql(2, 32)
_PQ_CODES_SQL = _pq_codes_sql(2, 32)

ANN_PQ_SQL = f"""
WITH rawel AS MATERIALIZED (
  SELECT vec_id,
         CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS rqv,
         UNNEST(generate_series(1, len(embedding))) AS pos
  FROM embeddings),
nr AS MATERIALIZED (
  SELECT vec_id,
         CASE WHEN SUM(rqv * rqv) > 0
              THEN SQRT(CAST(SUM(rqv * rqv) AS DOUBLE)) ELSE 1.0 END AS nrm
  FROM rawel GROUP BY vec_id),
el AS MATERIALIZED (
  SELECT e.vec_id,
         CAST(FLOOR(CAST(e.rqv AS DOUBLE) / n.nrm * 1000000 + 0.5)
              AS BIGINT) AS qv,
         e.pos
  FROM rawel e JOIN nr n ON e.vec_id = n.vec_id),
sub_el AS MATERIALIZED (
  SELECT vec_id, CAST((pos - 1) // 2 AS BIGINT) AS sub, pos, qv FROM el),
cb_ids AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id FROM embeddings WHERE vec_id >= 3
        ORDER BY vec_id LIMIT 32)),
cbe AS MATERIALIZED (
  SELECT b.code, s.sub, s.pos, s.qv
  FROM sub_el s JOIN cb_ids b ON s.vec_id = b.vec_id),
ce AS (SELECT vec_id, sub, pos, qv FROM sub_el WHERE vec_id >= 3),
cet AS (SELECT vec_id, sub, pos, qv FROM ce),{_PQ_TRAIN_SQL}{_PQ_CODES_SQL}
qe AS (SELECT vec_id, sub, pos, qv FROM sub_el WHERE vec_id < 3),
qdist AS (
  SELECT s.vec_id AS q_id, s.sub, c.code,
         CAST(SUM((s.qv - c.qv) * (s.qv - c.qv)) AS BIGINT) AS dist
  FROM qe s JOIN cb2 c ON s.sub = c.sub AND s.pos = c.pos
  GROUP BY 1, 2, 3),
adc AS (
  SELECT q.q_id, c.c_id, CAST(SUM(q.dist) AS BIGINT) AS adc
  FROM codes c JOIN qdist q ON c.sub = q.sub AND c.code = q.code
  GROUP BY 1, 2)
SELECT q_id, c_id, adc, rk FROM (
  SELECT q_id, c_id, adc,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rk
  FROM adc)
WHERE rk <= 3
"""


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the billion-vector serving composition: IVF coarse cells prune
    # WHICH codes are read (nprobe=4 of 16), PQ compresses WHAT is read
    # (m=32/ksub=32 — the gate's isotropic-embeddings setting, see
    # ann_pq_topk).  Values are exact: the probe ranks by the fixed-IEEE
    # exact cosine and ADC by BIGINT sums, so the oracle replays both
    # layers end-to-end.
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    # corpus side spread (r14): see ann_pq_topk — parallelizes the
    # row-local cell assignment, residual/encode folds and Lloyd rounds
    # that otherwise run single-task on the 1-split scan.
    c = load(spark, sf_dir, "embeddings", spread=True).filter(
        F.col("vec_id") >= 3
    )
    return sim_ops.ivfpq_topk(
        q, c, k=3, num_centroids=16, nprobe=4, m=32, ksub=32
    ).select("q_id", "c_id", "adc", "rk")


# Composed from ANN_IVF_SQL (coarse layer: raw micro components, exact
# cosine assignment/probe) and ANN_PQ_SQL (PQ layer: unit-normalized
# micro, BIGINT ADC) over the shared rawel base; the ADC aggregation is
# restricted to (q_id, c_id) pairs whose candidate cell is among the
# query's 4 probed cells.  Keep ksub/LIMIT and m/sub-width in sync with
# the gate call (ksub=32, m=32 → sub = (pos-1)//2 at dim 64).
_IVFPQ_SQL_TEMPLATE = """
WITH rawel AS MATERIALIZED (
  SELECT vec_id,
         CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS rqv,
         UNNEST(generate_series(1, len(embedding))) AS pos
  FROM embeddings),
inorms AS MATERIALIZED (
  SELECT vec_id, CAST(SUM(rqv * rqv) AS BIGINT) AS nsq
  FROM rawel GROUP BY vec_id),
cents AS (
  SELECT vec_id AS cent_id FROM embeddings WHERE {tw}
  ORDER BY vec_id LIMIT 16),
ice AS (
  SELECT e.vec_id AS cent_id, e.pos, e.rqv
  FROM rawel e JOIN cents ON e.vec_id = cents.cent_id),
cdots AS (
  SELECT a.vec_id AS c_id, b.cent_id,
         CAST(SUM(a.rqv * b.rqv) AS BIGINT) AS dt
  FROM rawel a JOIN ice b ON a.pos = b.pos
  WHERE a.vec_id >= 3
  GROUP BY 1, 2),
cassign AS MATERIALIZED (
  SELECT c_id, cent_id FROM (
    SELECT c_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY c_id
             ORDER BY CASE WHEN ISNAN(CAST(dt AS DOUBLE) /
                        (SQRT(CAST(nc.nsq AS DOUBLE)) *
                         SQRT(CAST(nn.nsq AS DOUBLE)))) THEN -2.0
                      ELSE CAST(dt AS DOUBLE) /
                        (SQRT(CAST(nc.nsq AS DOUBLE)) *
                         SQRT(CAST(nn.nsq AS DOUBLE))) END DESC, cent_id) AS rk
    FROM cdots
    JOIN inorms nc ON nc.vec_id = c_id
    JOIN inorms nn ON nn.vec_id = cent_id)
  WHERE rk = 1),
iqe AS (SELECT vec_id, pos, rqv FROM rawel WHERE vec_id < 3),
qdots AS (
  SELECT a.vec_id AS q_id, b.cent_id,
         CAST(SUM(a.rqv * b.rqv) AS BIGINT) AS dt
  FROM iqe a JOIN ice b ON a.pos = b.pos
  GROUP BY 1, 2),
qprobe AS (
  SELECT q_id, cent_id FROM (
    SELECT q_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY CASE WHEN ISNAN(CAST(dt AS DOUBLE) /
                        (SQRT(CAST(nq.nsq AS DOUBLE)) *
                         SQRT(CAST(nn.nsq AS DOUBLE)))) THEN -2.0
                      ELSE CAST(dt AS DOUBLE) /
                        (SQRT(CAST(nq.nsq AS DOUBLE)) *
                         SQRT(CAST(nn.nsq AS DOUBLE))) END DESC, cent_id) AS rk
    FROM qdots
    JOIN inorms nq ON nq.vec_id = q_id
    JOIN inorms nn ON nn.vec_id = cent_id)
  WHERE rk <= 4),
pairs AS (SELECT q_id, c_id FROM qprobe JOIN cassign USING (cent_id)),
nr AS (
  SELECT vec_id,
         CASE WHEN SUM(rqv * rqv) > 0
              THEN SQRT(CAST(SUM(rqv * rqv) AS DOUBLE)) ELSE 1.0 END AS nrm
  FROM rawel GROUP BY vec_id),
el AS MATERIALIZED (
  SELECT e.vec_id,
         CAST(FLOOR(CAST(e.rqv AS DOUBLE) / n.nrm * 1000000 + 0.5)
              AS BIGINT) AS qv,
         e.pos
  FROM rawel e JOIN nr n ON e.vec_id = n.vec_id),
sub_el AS MATERIALIZED (
  SELECT vec_id, CAST((pos - 1) // 2 AS BIGINT) AS sub, pos, qv FROM el),
cb_ids AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id FROM embeddings WHERE {tw}
        ORDER BY vec_id LIMIT 32)),
cbe AS MATERIALIZED (
  SELECT b.code, s.sub, s.pos, s.qv
  FROM sub_el s JOIN cb_ids b ON s.vec_id = b.vec_id),
ce AS (SELECT vec_id, sub, pos, qv FROM sub_el WHERE vec_id >= 3),
cet AS (SELECT vec_id, sub, pos, qv FROM sub_el WHERE {tw}),{train}{codes}
qe AS (SELECT vec_id, sub, pos, qv FROM sub_el WHERE vec_id < 3),
qdist AS (
  SELECT s.vec_id AS q_id, s.sub, c.code,
         CAST(SUM((s.qv - c.qv) * (s.qv - c.qv)) AS BIGINT) AS dist
  FROM qe s JOIN cb2 c ON s.sub = c.sub AND s.pos = c.pos
  GROUP BY 1, 2, 3),
adc AS (
  SELECT q.q_id, c.c_id, CAST(SUM(q.dist) AS BIGINT) AS adc
  FROM codes c
  JOIN pairs p ON p.c_id = c.c_id
  JOIN qdist q ON c.sub = q.sub AND c.code = q.code AND q.q_id = p.q_id
  GROUP BY 1, 2)
SELECT q_id, c_id, adc, rk FROM (
  SELECT q_id, c_id, adc,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rk
  FROM adc)
WHERE rk <= 3
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    # corpus side spread (r14): see ann_pq_topk — parallelizes the
    # row-local nearest-centroid argmax that otherwise runs single-task
    # on the 1-split scan; metadata-gated no-op at scale.
    c = load(spark, sf_dir, "embeddings", spread=True).filter(
        F.col("vec_id") >= 3
    )
    return sim_ops.ivf_topk(q, c, k=3).select("q_id", "c_id", "rk")


# Deterministic IVF is fully relational, so it gets a real oracle: the SQL
# replays centroid choice (16 lowest candidate ids), nearest-centroid
# assignment, 4-probe, and the exact re-rank.  Every ranking key is the
# micro-quantized EXACT cosine (functions/vectors.cosine_micro_exact):
# components floor(x*1e6+0.5) -> BIGINT dot/norm sums -> one fixed chain
# of IEEE double ops, bit-identical across engines.  The r6 sf1.0 scale
# run proved the old double-fold-vs-decimal-sum pairing flips
# nearest-centroid assignments on near-parallel vectors (a <=1-ulp
# disagreement swaps whole probe cells), so exactness here is
# load-bearing, not cosmetic.
ANN_IVF_SQL = """
WITH el AS (
  SELECT vec_id,
         CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS qv,
         UNNEST(generate_series(1, len(embedding))) AS pos
  FROM embeddings),
norms AS (
  SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS nsq
  FROM el GROUP BY vec_id),
cents AS (
  SELECT vec_id AS cent_id FROM embeddings WHERE vec_id >= 3
  ORDER BY vec_id LIMIT 16),
-- pre-filter each join side into its own CTE: without this the planner
-- can run the pos-equi-join BEFORE the centroid filter, a 640k x 20k
-- per-pos explosion (observed: the sf1.0 oracle ran for minutes)
ce AS (
  SELECT e.vec_id AS cent_id, e.pos, e.qv
  FROM el e JOIN cents ON e.vec_id = cents.cent_id),
cdots AS (
  SELECT a.vec_id AS c_id, b.cent_id,
         CAST(SUM(a.qv * b.qv) AS BIGINT) AS dt
  FROM el a JOIN ce b ON a.pos = b.pos
  WHERE a.vec_id >= 3
  GROUP BY 1, 2),
cassign AS (
  SELECT c_id, cent_id FROM (
    SELECT c_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY c_id
             ORDER BY CASE WHEN ISNAN(CAST(dt AS DOUBLE) /
                        (SQRT(CAST(nc.nsq AS DOUBLE)) *
                         SQRT(CAST(nn.nsq AS DOUBLE)))) THEN -2.0
                      ELSE CAST(dt AS DOUBLE) /
                        (SQRT(CAST(nc.nsq AS DOUBLE)) *
                         SQRT(CAST(nn.nsq AS DOUBLE))) END DESC, cent_id) AS rk
    FROM cdots
    JOIN norms nc ON nc.vec_id = c_id
    JOIN norms nn ON nn.vec_id = cent_id)
  WHERE rk = 1),
qe AS (SELECT vec_id, pos, qv FROM el WHERE vec_id < 3),
qdots AS (
  SELECT a.vec_id AS q_id, b.cent_id,
         CAST(SUM(a.qv * b.qv) AS BIGINT) AS dt
  FROM qe a JOIN ce b ON a.pos = b.pos
  GROUP BY 1, 2),
qprobe AS (
  SELECT q_id, cent_id FROM (
    SELECT q_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY CASE WHEN ISNAN(CAST(dt AS DOUBLE) /
                        (SQRT(CAST(nq.nsq AS DOUBLE)) *
                         SQRT(CAST(nn.nsq AS DOUBLE)))) THEN -2.0
                      ELSE CAST(dt AS DOUBLE) /
                        (SQRT(CAST(nq.nsq AS DOUBLE)) *
                         SQRT(CAST(nn.nsq AS DOUBLE))) END DESC, cent_id) AS rk
    FROM qdots
    JOIN norms nq ON nq.vec_id = q_id
    JOIN norms nn ON nn.vec_id = cent_id)
  WHERE rk <= 4),
pairs AS (
  SELECT q_id, c_id FROM qprobe JOIN cassign USING (cent_id)),
fdots AS (
  SELECT p.q_id, p.c_id, CAST(SUM(a.qv * b.qv) AS BIGINT) AS dt
  FROM pairs p
  JOIN el a ON a.vec_id = p.q_id
  JOIN el b ON b.vec_id = p.c_id AND a.pos = b.pos
  GROUP BY 1, 2)
SELECT q_id, c_id, rk FROM (
  SELECT q_id, c_id,
         -- ISNAN guard = the Spark side's nanvl(.., -2.0): a zero-norm
         -- candidate ranks last, not first
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY CASE WHEN ISNAN(CAST(dt AS DOUBLE) /
                      (SQRT(CAST(nq.nsq AS DOUBLE)) *
                       SQRT(CAST(nc.nsq AS DOUBLE)))) THEN -2.0
                    ELSE CAST(dt AS DOUBLE) /
                      (SQRT(CAST(nq.nsq AS DOUBLE)) *
                       SQRT(CAST(nc.nsq AS DOUBLE))) END DESC, c_id) AS rk
  FROM fdots
  JOIN norms nq ON nq.vec_id = q_id
  JOIN norms nc ON nc.vec_id = c_id)
WHERE rk <= 3
"""

ANN_IVFPQ_SQL = _IVFPQ_SQL_TEMPLATE.format(
    tw="vec_id >= 3", train=_PQ_TRAIN_SQL, codes=_PQ_CODES_SQL
)


def ann_recall_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan recall verdict for the IVF-PQ stack (r11, the
    srp_ann_topk recall-verdict pattern lifted to the compressed index):
    ONE plan computes the exact brute-force cosine top-3 (the truth set)
    AND the ivfpq_topk top-3 (same parameters as the ann_ivfpq_topk
    gate sub), and emits per-query hit counts.  Both sides rank by
    exact cross-engine keys (fixed-IEEE cosine / BIGINT ADC), so the
    intersection is value-exact and the oracle replays it end-to-end —
    the ANN stack's recall claims become driver-gated numbers instead
    of test-log footnotes."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    c = emb.filter(F.col("vec_id") >= 3)
    truth = sim_ops.brute_force_topk(q, c, k=3).select("q_id", "c_id")
    approx = sim_ops.ivfpq_topk(
        q, c, k=3, num_centroids=16, nprobe=4, m=32, ksub=32
    ).select("q_id", "c_id")
    hits = (
        truth.join(approx, ["q_id", "c_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        q.select(F.col("vec_id").alias("q_id"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.lit(3).cast("long").alias("denom"),
        )
    )


# truth side = the exact-cosine re-rank pattern (ANN_IVF_SQL's final
# stage, unrestricted by probes); approx side = ANN_IVFPQ_SQL verbatim
# as a subquery — the verdict's oracle is the composition of two
# already-verified oracles plus one intersection count.
_ANN_RECALL_TEMPLATE = """
WITH el AS (
  SELECT vec_id,
         CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS qv,
         UNNEST(generate_series(1, len(embedding))) AS pos
  FROM embeddings),
norms AS (
  SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS nsq
  FROM el GROUP BY vec_id),
qe AS (SELECT vec_id, pos, qv FROM el WHERE vec_id < 3),
dots AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         CAST(SUM(a.qv * b.qv) AS BIGINT) AS dt
  FROM qe a JOIN el b ON a.pos = b.pos
  WHERE b.vec_id >= 3
  GROUP BY 1, 2),
truth AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY CASE WHEN ISNAN(CAST(dt AS DOUBLE) /
                        (SQRT(CAST(nq.nsq AS DOUBLE)) *
                         SQRT(CAST(nc.nsq AS DOUBLE)))) THEN -2.0
                      ELSE CAST(dt AS DOUBLE) /
                        (SQRT(CAST(nq.nsq AS DOUBLE)) *
                         SQRT(CAST(nc.nsq AS DOUBLE))) END DESC, c_id) AS rk
    FROM dots
    JOIN norms nq ON nq.vec_id = q_id
    JOIN norms nc ON nc.vec_id = c_id)
  WHERE rk <= 3),
approx AS (SELECT q_id, c_id FROM (__IVFPQ__) t),
hits AS (
  SELECT t.q_id, COUNT(*) AS n
  FROM truth t JOIN approx a ON t.q_id = a.q_id AND t.c_id = a.c_id
  GROUP BY 1)
SELECT q.vec_id AS q_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
       CAST(3 AS BIGINT) AS denom
FROM (SELECT vec_id FROM embeddings WHERE vec_id < 3) q
LEFT JOIN hits h ON q.vec_id = h.q_id
"""

ANN_RECALL_SQL = _ANN_RECALL_TEMPLATE.replace("__IVFPQ__", ANN_IVFPQ_SQL)


# ---------------------------------------------------------------------------
# ann_clustered_recall (r12) — the two ANN design claims as driver-gated
# NUMBERS.  The r11 verdict flagged both as unfalsifiable on the gate's
# isotropic embeddings: (1) trained codebooks beat the coreset seed, and
# (2) the IVFADC residual layout beats raw codes on CLUSTERED corpora
# (on isotropic vectors residuals measurably do NOT help — recall 0.37
# vs 0.42, BASELINE.md r11 — because random unit vectors give residuals
# no concentration).  This entry gates four recall measurements in one
# plan:
#
# - pq_coreset / pq_trained — plain PQ (m=32, ksub=32, k=3) on the REAL
#   isotropic embeddings: the trained-vs-coreset separation the r11
#   text claimed (0.58 -> 0.70) becomes two value-gated totals.
# - ivfpq_raw / ivfpq_residual — IVF-PQ (m=16, ksub=16, 64 centroids,
#   nprobe=4, k=5) on a SYNTHESIZED mixture corpus: 64 clusters (more
#   clusters than codewords — the regime IVFADC was designed for,
#   Jégou et al. 2011 §III-C), centers = real embedding rows 16..79,
#   members = center × per-component multiplicative noise that is a
#   pure integer function of (vec_id, pos) — the image_phash_pairs
#   in-plan-synthesis precedent, so the oracle replays the corpus
#   exactly.  Raw codebooks collapse each cluster to one codeword (ADC
#   degenerates to id-order ties within a probed cell); residual
#   codebooks quantize the noise that actually distinguishes members —
#   measured at sf0.01: 67/80 residual vs 60-62/80 raw.
#
# Output: (config, q_id, n_hits, denom) per query plus a q_id = -1
# total row per config — the separations are the gated totals.
# ---------------------------------------------------------------------------
_CR_CLUSTERS = 64
_CR_AMP = "0.08"


def _clustered_synth(
    emb: DataFrame, centers_from: DataFrame | None = None
) -> DataFrame:
    """``centers_from`` (r15): the 64 center rows (vec_id 16..79) may be
    drawn from a different load of the same table than the member rows —
    the query slice's members come from the UNSPREAD frame (broadcast
    input; riding the scan-parallelism repartition under it wastes an
    exchange) while the centers are the same physical rows either way."""
    centers = (centers_from if centers_from is not None else emb).filter(
        (F.col("vec_id") >= 16) & (F.col("vec_id") < 16 + _CR_CLUSTERS)
    ).select(
        (F.col("vec_id") - 16).alias("_cidx"),
        F.col("embedding").alias("_cemb"),
    )
    return (
        emb.select("vec_id")
        .withColumn("_cidx", F.pmod("vec_id", F.lit(_CR_CLUSTERS)))
        .join(F.broadcast(centers), "_cidx")
        .select(
            "vec_id",
            F.expr(
                "transform(_cemb, (x, i) -> CAST(x AS DOUBLE) * "
                "(1.0D + CAST(((vec_id * 131 + i * 7) % 997) % 11 - 5 "
                f"AS DOUBLE) * {_CR_AMP}D))"
            ).alias("embedding"),
        )
    )


def ann_clustered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")

    def block(label, truth, approx, q, k):
        hits = (
            truth.join(approx, ["q_id", "c_id"], "left_semi")
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        return (
            q.select(F.col("vec_id").alias("q_id"))
            .join(hits, "q_id", "left")
            .select(
                F.lit(label).alias("config"),
                "q_id",
                F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
                F.lit(k).cast("long").alias("denom"),
            )
        )

    # fixed corpus slices (= the full sf0.01 corpus; see
    # _clustered_recall_sql — claim verdicts should not drift with SF)
    parts = []
    # corpus-side slices spread (r14): see ann_pq_topk — all four ANN
    # pipelines' training/encode folds otherwise run single-task on the
    # 1-split scan; query slices stay unspread (broadcast inputs).
    emb_sp = load(spark, sf_dir, "embeddings", spread=True)
    qi = emb.filter(F.col("vec_id") < 3)
    ci = emb_sp.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 500))
    truth_i = sim_ops.brute_force_topk(qi, ci, k=3).select("q_id", "c_id")
    for label, it in (("pq_coreset", 0), ("pq_trained", 2)):
        ap = sim_ops.pq_topk(
            qi, ci, k=3, m=32, ksub=32, train_iters=it
        ).select("q_id", "c_id")
        parts.append(block(label, truth_i, ap, qi, 3))
    # r15 (r14 advisor): build the 16-row QUERY slice from the UNSPREAD
    # frame — deriving it from emb_sp rode the repartition exchange
    # under a broadcast input; only the corpus side takes the
    # scan-parallelism floor.  _clustered_synth is a per-row transform
    # (pmod-keyed broadcast join), so splitting the <516 filter across
    # the two loads is value-identical.
    qc = _clustered_synth(
        emb.filter(F.col("vec_id") < 16), centers_from=emb
    )
    cc = _clustered_synth(
        emb_sp.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 516))
    )
    truth_c = sim_ops.brute_force_topk(qc, cc, k=5).select("q_id", "c_id")
    for label, res in (("ivfpq_raw", False), ("ivfpq_residual", True)):
        ap = sim_ops.ivfpq_topk(
            qc, cc, k=5, num_centroids=_CR_CLUSTERS, nprobe=4, m=16,
            ksub=16, train_iters=2, residual=res,
        ).select("q_id", "c_id")
        parts.append(block(label, truth_c, ap, qc, 5))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # persisted: the totals branch re-reads all four pipelines
    out = persisted(out)
    totals = (
        out.groupBy("config")
        .agg(
            F.sum("n_hits").cast("long").alias("n_hits"),
            F.sum("denom").cast("long").alias("denom"),
        )
        .select(
            "config", F.lit(-1).cast("long").alias("q_id"),
            "n_hits", "denom",
        )
    )
    return out.unionByName(totals)


# the exact-IEEE cosine rank key both engines share (the verified
# _IVFPQ_SQL_TEMPLATE text)
_CR_COS = (
    "CASE WHEN ISNAN(CAST({dt} AS DOUBLE) / (SQRT(CAST({na} AS DOUBLE)) * "
    "SQRT(CAST({nb} AS DOUBLE)))) THEN -2.0 ELSE CAST({dt} AS DOUBLE) / "
    "(SQRT(CAST({na} AS DOUBLE)) * SQRT(CAST({nb} AS DOUBLE))) END"
)


def _cr_cfg_sql(
    label: str,
    clustered: bool,
    k: int,
    qmax: int,
    cmin: int,
    cmax: int,
    m: int,
    ksub: int,
    iters: int,
    ivf: bool,
    residual: bool,
    nc: int = _CR_CLUSTERS,
    nprobe: int = 4,
) -> str:
    """One config block of ANN_CLUSTERED_RECALL_SQL: a self-contained
    WITH chain replaying synth → quantize → [IVF] → PQ train/encode →
    [residual] ADC → top-k → hits-vs-truth, wrapped as a subquery (the
    nested-WITH form both engines accept)."""
    subw = 64 // m
    if clustered:
        src = f"""cent AS (
  SELECT vec_id - 16 AS cidx,
         CAST(UNNEST(embedding) AS DOUBLE) AS cx,
         UNNEST(generate_series(1, len(embedding))) AS pos
  FROM embeddings WHERE vec_id >= 16 AND vec_id < {16 + _CR_CLUSTERS}),
sel AS (
  SELECT e.vec_id, c.pos,
         c.cx * (1.0 + CAST(((e.vec_id * 131 + (c.pos - 1) * 7) % 997)
                            % 11 - 5 AS DOUBLE) * {_CR_AMP}) AS comp
  FROM (SELECT vec_id FROM embeddings WHERE vec_id < {cmax}) e
  JOIN cent c ON c.cidx = e.vec_id % {_CR_CLUSTERS}),"""
    else:
        # bounded at the source like the clustered branch: everything
        # downstream (truth corpus, coreset, training, queries) lives
        # under cmax, so unnesting the rest of the table at a big SF
        # would be pure waste
        src = f"""sel AS (
  SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS comp,
         UNNEST(generate_series(1, len(embedding))) AS pos
  FROM embeddings WHERE vec_id < {cmax}),"""
    tcos = _CR_COS.format(dt="dt", na="nq.nsq", nb="nc2.nsq")
    ivf_ctes = ""
    if ivf:
        acos = _CR_COS.format(dt="dt", na="nn.nsq", nb="nm.nsq")
        ivf_ctes = f"""
cents AS (
  SELECT vec_id AS cent_id FROM (
    SELECT DISTINCT vec_id FROM sel WHERE vec_id >= {cmin} AND vec_id < {cmax})
  ORDER BY vec_id LIMIT {nc}),
ice AS (
  SELECT c.cent_id, e.pos, e.rqv FROM rawel e
  JOIN cents c ON e.vec_id = c.cent_id),
cdt AS (
  SELECT a.vec_id AS c_id, b.cent_id,
         CAST(SUM(a.rqv * b.rqv) AS BIGINT) AS dt
  FROM rawel a JOIN ice b ON a.pos = b.pos
  WHERE a.vec_id >= {cmin} AND a.vec_id < {cmax} GROUP BY 1, 2),
cassign AS (
  SELECT c_id, cent_id FROM (
    SELECT c_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY
             {_CR_COS.format(dt="dt", na="nn.nsq", nb="nm.nsq")} DESC,
             cent_id) AS rk
    FROM cdt JOIN inorms nn ON nn.vec_id = c_id
    JOIN inorms nm ON nm.vec_id = cent_id)
  WHERE rk = 1),
qdt AS (
  SELECT a.vec_id AS q_id, b.cent_id,
         CAST(SUM(a.rqv * b.rqv) AS BIGINT) AS dt
  FROM qre a JOIN ice b ON a.pos = b.pos GROUP BY 1, 2),
qprobe AS (
  SELECT q_id, cent_id FROM (
    SELECT q_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
             {acos.replace("nn.nsq", "nq2.nsq").replace("nm.nsq", "nm2.nsq")} DESC,
             cent_id) AS rk
    FROM qdt JOIN inorms nq2 ON nq2.vec_id = q_id
    JOIN inorms nm2 ON nm2.vec_id = cent_id)
  WHERE rk <= {nprobe}),
cm AS (
  SELECT c.cent_id, e.pos, e.qv AS cqv FROM el e
  JOIN cents c ON e.vec_id = c.cent_id),"""
    if residual:
        pel = """
pel AS (
  SELECT a.c_id AS vec_id, e.pos, e.qv - m2.cqv AS qv
  FROM cassign a JOIN el e ON e.vec_id = a.c_id
  JOIN cm m2 ON m2.cent_id = a.cent_id AND m2.pos = e.pos),"""
    else:
        pel = f"""
pel AS (SELECT vec_id, pos, qv FROM el
  WHERE vec_id >= {cmin} AND vec_id < {cmax}),"""
    if iters > 0:
        train = _pq_train_sql(subw, ksub).rstrip()
    else:
        train = "\ncb2 AS (SELECT sub, code, pos, qv FROM cbe),"
    codes = _pq_codes_sql(subw, ksub, src="sub_el").rstrip()
    if residual:
        qside = f"""
qres AS (
  SELECT p.q_id, p.cent_id, e.pos, e.qv - m2.cqv AS qv
  FROM qprobe p JOIN el e ON e.vec_id = p.q_id
  JOIN cm m2 ON m2.cent_id = p.cent_id AND m2.pos = e.pos),
qsub AS (
  SELECT q_id, cent_id, CAST((pos - 1) // {subw} AS BIGINT) AS sub,
         pos, qv
  FROM qres),
qdist AS (
  SELECT s.q_id, s.cent_id, s.sub, c.code,
         CAST(SUM((s.qv - c.qv) * (s.qv - c.qv)) AS BIGINT) AS dist
  FROM qsub s JOIN cb2 c ON s.sub = c.sub AND s.pos = c.pos
  GROUP BY 1, 2, 3, 4),
prs AS (
  SELECT p.q_id, a.c_id, a.cent_id
  FROM qprobe p JOIN cassign a ON a.cent_id = p.cent_id),
adc AS (
  SELECT pr.q_id, cd.c_id, CAST(SUM(qd.dist) AS BIGINT) AS adc
  FROM prs pr JOIN codes cd ON cd.c_id = pr.c_id
  JOIN qdist qd ON qd.q_id = pr.q_id AND qd.cent_id = pr.cent_id
   AND qd.sub = cd.sub AND qd.code = cd.code
  GROUP BY 1, 2)"""
    else:
        qside = f"""
qsub AS (
  SELECT vec_id AS q_id, CAST((pos - 1) // {subw} AS BIGINT) AS sub,
         pos, qv
  FROM el WHERE vec_id < {qmax}),
qdist AS (
  SELECT s.q_id, s.sub, c.code,
         CAST(SUM((s.qv - c.qv) * (s.qv - c.qv)) AS BIGINT) AS dist
  FROM qsub s JOIN cb2 c ON s.sub = c.sub AND s.pos = c.pos
  GROUP BY 1, 2, 3),"""
        if ivf:
            qside += """
prs AS (
  SELECT p.q_id, a.c_id
  FROM qprobe p JOIN cassign a ON a.cent_id = p.cent_id),
adc AS (
  SELECT pr.q_id, cd.c_id, CAST(SUM(qd.dist) AS BIGINT) AS adc
  FROM prs pr JOIN codes cd ON cd.c_id = pr.c_id
  JOIN qdist qd ON qd.q_id = pr.q_id AND qd.sub = cd.sub
   AND qd.code = cd.code
  GROUP BY 1, 2)"""
        else:
            qside += """
adc AS (
  SELECT q.q_id, c.c_id, CAST(SUM(q.dist) AS BIGINT) AS adc
  FROM codes c JOIN qdist q ON c.sub = q.sub AND c.code = q.code
  GROUP BY 1, 2)"""
    return f"""SELECT * FROM (
WITH {src}
rawel AS (
  SELECT vec_id, pos,
         CAST(FLOOR(comp * 1000000 + 0.5) AS BIGINT) AS rqv
  FROM sel),
inorms AS (
  SELECT vec_id, CAST(SUM(rqv * rqv) AS BIGINT) AS nsq
  FROM rawel GROUP BY vec_id),
qre AS (SELECT vec_id, pos, rqv FROM rawel WHERE vec_id < {qmax}),
tdots AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         CAST(SUM(a.rqv * b.rqv) AS BIGINT) AS dt
  FROM qre a JOIN rawel b ON a.pos = b.pos
  WHERE b.vec_id >= {cmin} AND b.vec_id < {cmax} GROUP BY 1, 2),
truth AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY {tcos} DESC, c_id) AS rk
    FROM tdots JOIN inorms nq ON nq.vec_id = q_id
    JOIN inorms nc2 ON nc2.vec_id = c_id)
  WHERE rk <= {k}),
nr AS (
  SELECT vec_id,
         CASE WHEN nsq > 0 THEN SQRT(CAST(nsq AS DOUBLE)) ELSE 1.0 END
           AS nrm
  FROM inorms),
el AS (
  SELECT e.vec_id, e.pos,
         CAST(FLOOR(CAST(e.rqv AS DOUBLE) / n.nrm * 1000000 + 0.5)
              AS BIGINT) AS qv
  FROM rawel e JOIN nr n ON e.vec_id = n.vec_id),{ivf_ctes}{pel}
sub_el AS (
  SELECT vec_id, CAST((pos - 1) // {subw} AS BIGINT) AS sub, pos, qv
  FROM pel),
cb_ids AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT DISTINCT vec_id FROM sel
        WHERE vec_id >= {cmin} AND vec_id < {cmax}
        ORDER BY vec_id LIMIT {ksub})),
cbe AS (
  SELECT b.code, s.sub, s.pos, s.qv
  FROM sub_el s JOIN cb_ids b ON s.vec_id = b.vec_id),
cet AS (SELECT vec_id, sub, pos, qv FROM sub_el),{train}{codes}{qside},
appr AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rk
    FROM adc)
  WHERE rk <= {k}),
hits AS (
  SELECT t.q_id, COUNT(*) AS n
  FROM truth t JOIN appr a ON t.q_id = a.q_id AND t.c_id = a.c_id
  GROUP BY 1)
SELECT '{label}' AS config, q.vec_id AS q_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
       CAST({k} AS BIGINT) AS denom
FROM (SELECT DISTINCT vec_id FROM sel WHERE vec_id < {qmax}) q
LEFT JOIN hits h ON q.vec_id = h.q_id)"""


def _clustered_recall_sql() -> str:
    # corpora are CAPPED at a fixed vec_id slice (iso 3..499, clustered
    # 16..515 — exactly the full sf0.01 gate corpus, so gate values are
    # unchanged by the cap): this entry verifies the two DESIGN CLAIMS,
    # and the cap keeps its four-pipeline cost from growing with SF
    # while the other ANN entries carry the scale coverage
    # (ann_ivfpq_topk ran value-exact at sf10).  The testdata generator
    # draws different vectors per SF, so the per-SF totals differ but
    # the separations hold on each (sf0.01: 5/9 > 3/9 and 67/80 >
    # 62/80; sf0.1: 4/9 > 2/9 and 61/80 > 58/80).
    blocks = [
        _cr_cfg_sql("pq_coreset", False, 3, 3, 3, 500, 32, 32, 0,
                    ivf=False, residual=False),
        _cr_cfg_sql("pq_trained", False, 3, 3, 3, 500, 32, 32, 2,
                    ivf=False, residual=False),
        _cr_cfg_sql("ivfpq_raw", True, 5, 16, 16, 516, 16, 16, 2,
                    ivf=True, residual=False),
        _cr_cfg_sql("ivfpq_residual", True, 5, 16, 16, 516, 16, 16, 2,
                    ivf=True, residual=True),
    ]
    union = "\nUNION ALL\n".join(blocks)
    return f"""WITH allrows AS (
{union}
)
SELECT config, q_id, n_hits, denom FROM allrows
UNION ALL
SELECT config, CAST(-1 AS BIGINT) AS q_id,
       CAST(SUM(n_hits) AS BIGINT) AS n_hits,
       CAST(SUM(denom) AS BIGINT) AS denom
FROM allrows GROUP BY config"""


ANN_CLUSTERED_RECALL_SQL = _clustered_recall_sql()


def ann_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the STANDING serving index, end-to-end under the marker-CAS commit
    # protocol (operators/ann_index.IvfPqIndex): build on vec_id 3..399
    # (trains centroids + Lloyd codebooks on the build slice only),
    # append vec_id >= 400 as epoch 1 (encoded against the STANDING
    # model — never retrained), probe through a FRESH handle that
    # reloads everything from the committed manifest (stage 'pre'),
    # then REBUILD — retrain-and-swap on the full committed corpus (the
    # r12 lifecycle verb) — and probe again through another fresh
    # handle (stage 'post').  Values are the ivfpq math, so the oracle
    # is the IVF-PQ SQL twice: training slice restricted to the build
    # slice for 'pre' (the appended vectors' codes fall out of encoding
    # them against those standing books, exactly what append() does),
    # and the full candidate set for 'post' (exactly what rebuild()
    # retrains on).
    import tempfile

    from datalake_spark.operators.ann_index import IvfPqIndex

    emb = load(spark, sf_dir, "embeddings")
    # corpus-side slices spread (r14): a first attempt regressed +15%
    # because the index writes fanned every codes/ids epoch into
    # input-partitions× more files (the small-files tax, guide §6);
    # IvfPqIndex now clusters those writes by their output partition
    # (repartition before partitionBy), after which the spread corpus
    # parallelizes the training/encode folds without the write fan-out.
    # The 3-row query side stays unspread (broadcast input).
    emb_sp = load(spark, sf_dir, "embeddings", spread=True)
    q = emb.filter(F.col("vec_id") < 3)
    base = emb_sp.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 400))
    extra = emb_sp.filter(F.col("vec_id") >= 400)
    root = tempfile.mkdtemp(prefix="dl_annidx_q_")
    idx = IvfPqIndex(spark, root, num_centroids=16, m=32, ksub=32)
    idx.build(base)
    idx.append(extra, 1)
    reopened = IvfPqIndex(spark, root)  # params come from the manifest
    # search runs when called and returns a local relation, so the
    # pre-rebuild rows do not read the version dir the swap retires
    pre = reopened.search(q, k=3, nprobe=4).select(
        "q_id", "c_id", "adc", "rk"
    ).withColumn("stage", F.lit("pre"))
    reopened.rebuild(emb_sp)  # inner-joins committed ids: queries excluded
    post = IvfPqIndex(spark, root).search(q, k=3, nprobe=4).select(
        "q_id", "c_id", "adc", "rk"
    ).withColumn("stage", F.lit("post"))
    return pre.unionByName(post)


# Same math as ANN_IVFPQ_SQL run twice: the TRAINING slice pinned to the
# build slice (3 <= vec_id < 400) for the pre-rebuild probe — the
# standing-model append contract — and to the full candidate set
# (vec_id >= 3) for the post-rebuild probe — the retrain-and-swap
# contract (rebuild == a fresh pipeline over the committed corpus).
ANN_INDEX_LIFECYCLE_SQL = (
    "SELECT q_id, c_id, adc, rk, 'pre' AS stage FROM ("
    + _IVFPQ_SQL_TEMPLATE.format(
        tw="vec_id >= 3 AND vec_id < 400", train=_PQ_TRAIN_SQL,
        codes=_PQ_CODES_SQL,
    )
    + ") pre_t UNION ALL SELECT q_id, c_id, adc, rk, 'post' AS stage FROM ("
    + _IVFPQ_SQL_TEMPLATE.format(tw="vec_id >= 3", train=_PQ_TRAIN_SQL,
                                  codes=_PQ_CODES_SQL)
    + ") post_t"
)



# ---------------------------------------------------------------------------
# Multimodal pipeline — documents' text bytes as opaque binary content driven
# through the real mapInPandas machinery (operators/multimodal.py): Arrow
# batches, re-chunking, FEATURE_SCHEMA.  The deterministic stand-in feature
# (byte i%n over 255) is exactly recomputable in SQL because the corpus is
# ASCII, so the full binary → batch → UDF → explode path is oracle-checked.
# ---------------------------------------------------------------------------
_MM_DIM = 8


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("modality"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    feats = mm_ops.extract_features(media, dim=_MM_DIM, use_fake=True)
    return feats.select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "n_bytes",
        F.posexplode("feature").alias("pos", "val"),
    ).select("doc_id", "n_bytes", F.col("pos").cast("bigint").alias("pos"), "val")


MULTIMODAL_SQL = f"""
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) AS n_bytes,
       CAST(i AS BIGINT) AS pos,
       CAST(ascii(substring(text, (i % LENGTH(text)) + 1, 1)) AS DOUBLE) / 255.0 AS val
FROM documents, UNNEST(generate_series(0, {_MM_DIM - 1})) AS t(i)
"""


# ---------------------------------------------------------------------------
# Real-codec gate: per doc, SYNTHESIZE a PNG of doc-id-derived dimensions
# (functions/imaging.py png_encode in a mapInPandas stage), run the
# production decode_image operator over the bytes, and emit the decoded
# dimensions.  The oracle pins the same dimensions arithmetically — a
# hash-match proves the stdlib encoder and decoder agree end-to-end inside
# the engine, for every document, every round.
# ---------------------------------------------------------------------------
def image_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from datalake_spark.functions.imaging import png_encode

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids.astype(str),
                    "modality": "image",
                    "content": [
                        png_encode(
                            np.full(
                                (3 + int(i) % 4, 4 + int(i) % 5, 1 + int(i) % 3),
                                int(i) % 251,
                                dtype=np.uint8,
                            )
                        )
                        for i in ids
                    ],
                    "mime": None,
                    "width": None,
                    "height": None,
                    "duration_ms": None,
                }
            )

    media = docs.mapInPandas(synth, schema=mm_ops.MEDIA_SCHEMA)
    return mm_ops.decode_image(media).select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "format",
    )


IMAGE_ROUNDTRIP_SQL = """
SELECT doc_id,
       4 + doc_id % 5 AS width,
       3 + doc_id % 4 AS height,
       'png' AS format
FROM documents
"""


# ---------------------------------------------------------------------------
# image_phash_pairs — perceptual-hash image near-dup, REAL-codec gated
# (r11).  Per doc, synthesize a 32×32 grayscale PNG whose pixels are a
# pure function of doc_id — one base pattern under 16 brightness shifts
# (+base·37 mod 241) × a 2×2 corner bump on alternating id blocks.
# pHash drops the DC coefficient, so the brightness shifts are INVISIBLE
# by design (the classic pHash invariance) and the corpus forms large
# hamming-0 clusters across shifts, while the corner bump sits 0-2 bits
# away per shift — the gate exercises both the zero- and
# nonzero-hamming paths.  Push the bytes through the PRODUCTION
# pipeline — stdlib PNG
# decode → integer-DCT pHash (functions/imaging.phash64) → pigeonhole
# banding (operators/dedup.hamming_band_pairs) — and emit the verified
# near-dup pairs.  The ORACLE replays the whole thing arithmetically,
# codec-free: same pixel formula, same fixed-point cosine table (the
# PHASH_COS constants embedded as literals, so executors and DuckDB
# share identical integers), same 32nd-smallest threshold, same band
# split and XOR popcount.  A hash-match therefore proves the PNG
# encoder, the decoder, the integer DCT, the median thresholding, and
# the banded pair join all agree with the arithmetic model — for every
# document, every round.
# ---------------------------------------------------------------------------
def image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from datalake_spark.functions.imaging import png_encode
    from datalake_spark.operators import dedup as dedup_ops

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        y, x = np.mgrid[0:32, 0:32]
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            imgs = []
            for d in ids:
                base = int(d) % 16
                p = (base * 37 + y * 5 + x * 11 + ((y * x) % 7) * 29) % 241
                if (int(d) // 16) % 2 == 1:
                    # 2×2 corner bump: moves the variant 0-2 pHash bits
                    # from its base (measured per base; all <= the
                    # max_hamming=3 filter), so the gate exercises BOTH
                    # zero and nonzero hamming pairs
                    p[0:2, 0:2] = (p[0:2, 0:2] + 50) % 241
                imgs.append(png_encode(p.astype(np.uint8)[:, :, None]))
            yield pd.DataFrame(
                {
                    "media_id": ids.astype(str),
                    "modality": "image",
                    "content": imgs,
                    "mime": None,
                    "width": None,
                    "height": None,
                    "duration_ms": None,
                }
            )

    media = docs.mapInPandas(synth, schema=mm_ops.MEDIA_SCHEMA)
    # cast ids to long BEFORE banding: the bucket cap keeps an
    # id-smallest prefix, and the oracle orders by numeric doc_id —
    # string order ("100" < "2") would keep a different prefix once a
    # bucket binds
    hashes = mm_ops.phash_image(media).select(
        F.col("media_id").cast("long").alias("media_id"), "phash"
    )
    # truncation sentinel (the minhash_lsh_dedup contract): would-be
    # truncated buckets ride the pairs' own bucket aggregation
    # (trunc_out — the pre-cap count is a free window column) as
    # self-describing doc_a = -1 rows.  The oracle replicates BOTH the
    # id-smallest-prefix cap and the sentinel, so the gate stays exact
    # at every SF — the gate corpus forms ~n/22 identical-pHash
    # clusters, which pushes buckets past 1000 around sf1.0 (the exact
    # uncapped-oracle divergence class r6 fixed in SIMHASH_SQL).
    trunc_frames: list = []
    pairs = dedup_ops.hamming_band_pairs(hashes, trunc_out=trunc_frames)
    trunc = trunc_frames[0].select(
        F.lit(-1).cast("long").alias("doc_a"),
        (F.col("band").cast("long") * 65536 + F.col("band_hash"))
        .cast("long").alias("doc_b"),
        F.col("bucket_size").cast("long").alias("hamming"),
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("hamming").cast("long").alias("hamming"),
    ).unionByName(trunc)


def _phash_sql() -> str:
    from datalake_spark.functions.imaging import PHASH_COS

    ct = ", ".join(
        f"({u}, {yy}, {c})"
        for u, row in enumerate(PHASH_COS)
        for yy, c in enumerate(row)
    )
    return f"""
WITH ct(u, y, c) AS (VALUES {ct}),
pix AS (
  SELECT doc_id, g.y, g.x,
         CASE WHEN (doc_id // 16) % 2 = 1 AND g.y < 2 AND g.x < 2
              THEN (((doc_id % 16) * 37 + 29 * ((g.y * g.x) % 7)
                     + g.y * 5 + g.x * 11) % 241 + 50) % 241
              ELSE ((doc_id % 16) * 37 + g.y * 5 + g.x * 11
                    + ((g.y * g.x) % 7) * 29) % 241 END AS p
  FROM documents, (
    SELECT yy.y AS y, xx.x AS x
    FROM UNNEST(generate_series(0, 31)) yy(y),
         UNNEST(generate_series(0, 31)) xx(x)) g),
coef AS (
  SELECT doc_id, tu.u AS u, tv.u AS v,
         CAST(SUM(p * tu.c * tv.c) AS BIGINT) AS cf
  FROM pix
  JOIN ct tu ON tu.y = pix.y
  JOIN ct tv ON tv.y = pix.x
  GROUP BY 1, 2, 3),
ac AS (
  SELECT doc_id, u * 8 + v - 1 AS j, cf
  FROM coef WHERE NOT (u = 0 AND v = 0)),
thr AS (
  SELECT doc_id, cf AS t FROM (
    SELECT doc_id, cf,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cf, j) AS rn
    FROM ac)
  WHERE rn = 32),
hashes AS (
  SELECT ac.doc_id,
         CAST(SUM(CASE WHEN ac.cf > thr.t
                       THEN (1::BIGINT << ac.j) ELSE 0 END) AS BIGINT)
           AS phash
  FROM ac JOIN thr ON ac.doc_id = thr.doc_id
  GROUP BY 1),
banded AS (
  SELECT doc_id, phash, b.b AS band,
         (phash >> (b.b * 16)) &
           CASE WHEN b.b = 3 THEN 32767 ELSE 65535 END AS bh
  FROM hashes, UNNEST(generate_series(0, 3)) b(b)),
-- the production op caps each (band, bh) bucket at its 1000
-- id-smallest members (hamming_band_pairs max_bucket) — replicate the
-- cap so the gate stays exact at every SF (the SIMHASH_SQL precedent:
-- the gate corpus's identical-hash clusters push buckets past the cap
-- around sf1.0)
kept AS (
  SELECT band, bh, doc_id, phash
  FROM (SELECT band, bh, doc_id, phash,
               ROW_NUMBER() OVER (PARTITION BY band, bh
                                  ORDER BY doc_id) AS rn
        FROM banded)
  WHERE rn <= 1000),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.phash AS ha, b.phash AS hb
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
-- truncation sentinel twin: one doc_a = -1 row per over-cap bucket
trunc AS (
  SELECT CAST(-1 AS BIGINT) AS doc_a,
         CAST(band * 65536 + bh AS BIGINT) AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS hamming
  FROM banded GROUP BY band, bh HAVING COUNT(*) > 1000)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= 3
UNION ALL SELECT doc_a, doc_b, hamming FROM trunc
"""


IMAGE_PHASH_SQL = _phash_sql()


# ---------------------------------------------------------------------------
# Real-codec gate for JPEG (functions/jpeg.py, pure numpy baseline codec):
# synthesize a FLAT grayscale JPEG per doc and run the production
# extract_features(use_fake=False) pixel decode.  For a flat gray value v
# the whole lossy pipeline collapses to exact integer arithmetic:
#   q00 = 3 (Annex-K luma DC divisor at quality 90)
#   k   = floor(8(v-128)/q00 + 1/2)          -- DC quantization
#   v'  = clamp(floor(128 + k*q00/8 + 1/2))   -- DC-only reconstruction
# (AC coefficients are identically zero).  Gray values whose reconstruction
# lands ON the floor(x+0.5) rounding boundary (k*q00 ≡ 4 mod 8) are excluded
# from the synth set so float noise can never flip a pixel; everything else
# sits ≥ 1/8 from a boundary.  The oracle carries the independently computed
# (Fraction-arithmetic, codec-free) expected pixel per allowed v — a
# hash-match proves encoder AND decoder agree with the arithmetic model for
# every document, every round.
# ---------------------------------------------------------------------------
def _jpeg_flat_expectation() -> tuple[list[int], list[int]]:
    import math
    from fractions import Fraction

    q00 = 3  # _scaled_qt(_QT_LUMA, 90)[0]
    allowed, expected = [], []
    for v in range(256):
        k = math.floor(Fraction(8 * (v - 128), q00) + Fraction(1, 2))
        if (k * q00) % 8 == 4:
            continue
        pix = math.floor(Fraction(k * q00, 8) + 128 + Fraction(1, 2))
        allowed.append(v)
        expected.append(min(255, max(0, pix)))
    return allowed, expected


_JPEG_ALLOWED, _JPEG_EXPECTED = _jpeg_flat_expectation()


def jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from datalake_spark.functions.jpeg import jpeg_encode

    docs = load(spark, sf_dir, "documents").select("doc_id")
    allowed = _JPEG_ALLOWED

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids.astype(str),
                    "modality": "image",
                    "content": [
                        jpeg_encode(
                            np.full(
                                (6 + int(i) % 7, 8 + int(i) % 9, 1),
                                allowed[int(i) % len(allowed)],
                                dtype=np.uint8,
                            ),
                            quality=90,
                        )
                        for i in ids
                    ],
                    "mime": None,
                    "width": None,
                    "height": None,
                    "duration_ms": None,
                }
            )

    media = docs.mapInPandas(synth, schema=mm_ops.MEDIA_SCHEMA)
    feats = mm_ops.extract_features(media, dim=8, use_fake=False)
    f = F.col("feature")
    return feats.select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        f[0].cast("bigint").alias("width"),
        f[1].cast("bigint").alias("height"),
        f[2].cast("bigint").alias("channels"),
        f[3].alias("mean_px"),
        f[4].alias("px_std"),
        f[7].alias("px_grad"),
    )


JPEG_ROUNDTRIP_SQL = f"""
SELECT doc_id,
       CAST(8 + doc_id % 9 AS BIGINT) AS width,
       CAST(6 + doc_id % 7 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CAST(list_extract([{", ".join(str(p) for p in _JPEG_EXPECTED)}],
            CAST(doc_id % {len(_JPEG_ALLOWED)} AS INTEGER) + 1) AS DOUBLE)
         / 255.0 AS mean_px,
       0.0 AS px_std,
       0.0 AS px_grad
FROM documents
"""


# ---------------------------------------------------------------------------
# AC + 4:2:0 gate for the JPEG codec — the flat member above only drives
# the DC path.  Each doc gets a 16×16 gray RGB image of four 8×8 blocks;
# block bi carries v(x) = m + t·σ_x with σ = [+,-,-,+,+,-,-,+], the SIGN
# PATTERN of the u=4 DCT basis (cos((2x+1)π/4) = σ_x·√2/2).  That choice
# is what keeps a lossy codec value-exact in a cross-engine gate: the only
# nonzero coefficients are F(0,0) = 8(m−128) and F(4,0) = 8t EXACTLY (the
# √2s cancel; a literal ramp would smear irrational mass over every
# frequency and admit no closed form).  With q00=3, q40=5 at quality 90:
#     kd = ⌊8(m−128)/3 + ½⌋,  ka = ⌊8t/5 + ½⌋      (encoder quantize)
#     p(σ) = clamp ⌊128 + (3·kd + 5·σ·ka)/8 + ½⌋   (decoder pixel)
# Exercised paths the flat member never touches: AC zigzag run-length
# (run=13 to scan position 14), AC Huffman + EXTEND, per-block DC
# prediction diffs, 2×2-luma MCUs, chroma box-average + upsample (gray
# input ⇒ both chroma planes quantize to exactly 128, so RGB = Y).
# Exclusions: (3kd ± 5ka) ≡ 4 (mod 8) sits ON the ⌊x+½⌋ pixel boundary
# where float-DCT noise could flip — dropped (same discipline as the flat
# member; quantizer boundaries are unreachable: 16Δ+3 is odd, 6 even, and
# 16t+5 is odd, 10 even).  The check surface is the full per-image pixel
# HISTOGRAM via the production pixel_histogram operator — no float stats,
# pure integer multiset equality per document, every round.
# ---------------------------------------------------------------------------
_JPEG_SIGMA = (1, -1, -1, 1, 1, -1, -1, 1)


def _jpeg_gradient_expectation() -> tuple[list[tuple[int, int]], list[int], list[int]]:
    import math
    from fractions import Fraction

    q00, q40 = 3, 5  # _scaled_qt(_QT_LUMA, 90) raster entries 0 and 4
    pairs, p_pos, p_neg = [], [], []
    for m in range(92, 165, 4):
        for t in (3, 4, 6, 7, 9, 11, 14, 17):
            kd = math.floor(Fraction(8 * (m - 128), q00) + Fraction(1, 2))
            ka = math.floor(Fraction(8 * t, q40) + Fraction(1, 2))
            if (kd * q00 + ka * q40) % 8 == 4 or (kd * q00 - ka * q40) % 8 == 4:
                continue
            pp = math.floor(Fraction(kd * q00 + ka * q40, 8) + 128 + Fraction(1, 2))
            pn = math.floor(Fraction(kd * q00 - ka * q40, 8) + 128 + Fraction(1, 2))
            pairs.append((m, t))
            p_pos.append(min(255, max(0, pp)))
            p_neg.append(min(255, max(0, pn)))
    return pairs, p_pos, p_neg


_JPEG_GRAD_PAIRS, _JPEG_GRAD_PPOS, _JPEG_GRAD_PNEG = _jpeg_gradient_expectation()


def jpeg_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from datalake_spark.functions.jpeg import jpeg_encode

    docs = load(spark, sf_dir, "documents").select("doc_id")
    pairs = _JPEG_GRAD_PAIRS
    sigma = np.array(_JPEG_SIGMA, dtype=np.int64)

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            content = []
            for d in ids:
                img = np.zeros((16, 16), dtype=np.uint8)
                for bi in range(4):
                    m, t = pairs[(int(d) * 4 + bi) % len(pairs)]
                    row = (m + t * sigma).astype(np.uint8)
                    by, bx = (bi // 2) * 8, (bi % 2) * 8
                    img[by:by + 8, bx:bx + 8] = row[None, :]
                rgb = np.stack([img, img, img], axis=2)
                content.append(jpeg_encode(rgb, quality=90, subsample=True))
            yield pd.DataFrame(
                {
                    "media_id": ids.astype(str),
                    "modality": "image",
                    "content": content,
                    "mime": None,
                    "width": None,
                    "height": None,
                    "duration_ms": None,
                }
            )

    media = docs.mapInPandas(synth, schema=mm_ops.MEDIA_SCHEMA)
    hist = mm_ops.pixel_histogram(media)
    return hist.select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "px",
        "cnt",
    )


JPEG_GRADIENT_SQL = f"""
WITH b AS (
  SELECT doc_id, CAST((doc_id * 4 + bi.i) % {len(_JPEG_GRAD_PAIRS)} AS INTEGER) AS idx
  FROM documents, UNNEST([0, 1, 2, 3]) AS bi(i)),
v AS (
  SELECT doc_id,
         list_extract([{", ".join(str(p) for p in _JPEG_GRAD_PPOS)}], idx + 1) AS px
  FROM b
  UNION ALL
  SELECT doc_id,
         list_extract([{", ".join(str(p) for p in _JPEG_GRAD_PNEG)}], idx + 1) AS px
  FROM b)
SELECT doc_id, CAST(px AS INTEGER) AS px, CAST(96 * COUNT(*) AS BIGINT) AS cnt
FROM v GROUP BY doc_id, px
"""


# ---------------------------------------------------------------------------
# Real-codec gate for audio: synthesize a constant-amplitude 16-bit PCM WAV
# per doc (amplitude k·4096, k = doc_id%7+1; n samples = 800 + doc_id%5·80),
# run the production audio_features operator, emit the decoded fields.  For
# a constant signal RMS = peak = k/8 EXACTLY in IEEE doubles (k·4096/32768
# = k/8 is representable; sqrt of an exact square of a representable value
# is exact), and zcr = 0 — so the oracle pins every field arithmetically.
# ---------------------------------------------------------------------------
def audio_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import wave

    import numpy as np
    import pandas as pd

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for i in ids:
                k = int(i) % 7 + 1
                n = 800 + (int(i) % 5) * 80
                buf = io.BytesIO()
                with wave.open(buf, "wb") as f:
                    f.setnchannels(1)
                    f.setsampwidth(2)
                    f.setframerate(8000)
                    f.writeframes(
                        np.full(n, k * 4096, dtype="<i2").tobytes()
                    )
                blobs.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": ids.astype(str),
                    "modality": "audio",
                    "content": blobs,
                    "mime": None,
                    "width": None,
                    "height": None,
                    "duration_ms": None,
                }
            )

    media = docs.mapInPandas(synth, schema=mm_ops.MEDIA_SCHEMA)
    return mm_ops.audio_features(media).select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        F.col("channels").cast("bigint").alias("channels"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        "duration_ms",
        "rms",
        "peak",
        "zcr",
    )


AUDIO_ROUNDTRIP_SQL = """
SELECT doc_id,
       1 AS channels,
       8000 AS sample_rate,
       CAST((800 + (doc_id % 5) * 80) * 1000 / 8000 AS BIGINT) AS duration_ms,
       CAST(doc_id % 7 + 1 AS DOUBLE) / 8 AS rms,
       CAST(doc_id % 7 + 1 AS DOUBLE) / 8 AS peak,
       0.0 AS zcr
FROM documents
"""


# ---------------------------------------------------------------------------
# Header-sniff gate for compressed AUDIO: per doc, synthesize a real MP3
# (even ids: CBR Layer-III frames, bitrate/rate/frame-count derived from
# the id) or FLAC (odd ids: STREAMINFO with total = rate·k samples), run
# the production audio_metadata header walk, and emit the parsed fields.
# All outputs are closed-form integers of doc_id; FLAC duration is exact
# because total is a rate multiple, and MP3 duration is intentionally NOT
# gated (float-summed frame durations truncate at engine-dependent ulps)
# — frame count and rate pin the walk instead via sample_rate.
# ---------------------------------------------------------------------------
def audio_sniff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load(spark, sf_dir, "documents").select("doc_id")
    rates = (44100, 48000, 32000)
    bitrates = (64, 96, 128, 160, 192)

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for i in ids:
                i = int(i)
                if i % 2 == 0:
                    kbps = bitrates[i % 5]
                    rate_idx = i % 3
                    rate = rates[rate_idx]
                    br_idx = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                              160, 192, 224, 256, 320).index(kbps)
                    b2 = (br_idx << 4) | (rate_idx << 2)
                    frame = bytes([0xFF, 0xFB, b2, 0x00])
                    frame += b"\x00" * (144 * kbps * 1000 // rate - 4)
                    blobs.append(frame * (i % 4 + 2))
                else:
                    rate, ch = 44100, i % 8 + 1
                    total = rate * (i % 3 + 1)
                    packed = (rate << 44) | ((ch - 1) << 41) | (15 << 36) | total
                    blobs.append(
                        b"fLaC" + bytes([0x80, 0, 0, 34]) + b"\x00" * 10
                        + packed.to_bytes(8, "big") + b"\x00" * 16
                    )
            yield pd.DataFrame(
                {
                    "media_id": ids.astype(str),
                    "modality": "audio",
                    "content": blobs,
                    "mime": None,
                    "width": None,
                    "height": None,
                    "duration_ms": None,
                }
            )

    media = docs.mapInPandas(synth, schema=mm_ops.MEDIA_SCHEMA)
    out = mm_ops.audio_metadata(media)
    return out.select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "container",
        F.col("channels").cast("bigint").alias("channels"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.when(F.col("container") == "flac", F.col("duration_ms")).alias(
            "flac_duration_ms"
        ),
    )


AUDIO_SNIFF_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'mp3' ELSE 'flac' END AS container,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 2
                 ELSE doc_id % 8 + 1 END AS BIGINT) AS channels,
       CAST(CASE WHEN doc_id % 2 = 0 THEN
                 CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                                 ELSE 32000 END
                 ELSE 44100 END AS BIGINT) AS sample_rate,
       CASE WHEN doc_id % 2 = 1
            THEN CAST((doc_id % 3 + 1) * 1000 AS BIGINT) END
         AS flac_duration_ms
FROM documents
"""


# ---------------------------------------------------------------------------
# Header-sniff gate for VIDEO containers: per doc, synthesize a real
# ISO-BMFF mp4 skeleton (even ids: moov/mvhd/trak/tkhd/mdia/hdlr with
# closed-form timescale/duration/dims and 1 video + id%2... tracks) or an
# MJPEG AVI header (odd ids: avih with derived frame timing), run the
# production video_metadata box/RIFF walk, and emit the parsed fields —
# all closed-form integers of doc_id, so the DuckDB oracle is pure
# arithmetic.  The mp4 walk gives the container the same header-only
# treatment MP3/FLAC already have (audio_sniff_roundtrip precedent),
# shrinking the av-gated surface to frame pixels only.
# ---------------------------------------------------------------------------
def video_sniff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np

        from datalake_spark.functions.avi import avi_encode_mjpeg
        from datalake_spark.functions.jpeg import jpeg_encode
        from datalake_spark.functions.mp4 import mp4_build

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for i in ids:
                i = int(i)
                if i % 2 == 0:
                    ts = 1000 * (i % 4 + 1)
                    dur = ts * (i % 5 + 1)          # exact seconds
                    tracks = [
                        {"kind": "vide", "width": 320 + 16 * (i % 8),
                         "height": 240 + 8 * (i % 8)}
                    ] + [{"kind": "soun"}] * (i % 3)
                    blobs.append(mp4_build(ts, dur, tracks))
                else:
                    w, h = 8 + (i % 3) * 2, 6 + (i % 2) * 2
                    frame = jpeg_encode(
                        np.full((h, w), i % 251, dtype=np.uint8)
                    )
                    blobs.append(
                        avi_encode_mjpeg(
                            [frame] * (i % 4 + 1), w, h,
                            us_per_frame=100_000 * (i % 3 + 1),
                        )
                    )
            yield pd.DataFrame(
                {
                    "media_id": ids.astype(str),
                    "modality": "video",
                    "content": blobs,
                    "mime": None,
                    "width": None,
                    "height": None,
                    "duration_ms": None,
                }
            )

    media = docs.mapInPandas(synth, schema=mm_ops.MEDIA_SCHEMA)
    out = mm_ops.video_metadata(media)
    return out.select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "container",
        "duration_ms",
        F.col("n_tracks").cast("bigint").alias("n_tracks"),
        F.col("n_video").cast("bigint").alias("n_video"),
        F.col("n_audio").cast("bigint").alias("n_audio"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
    )


VIDEO_SNIFF_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS container,
       CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id % 5 + 1) * 1000
                 ELSE 100 * (doc_id % 3 + 1) * (doc_id % 4 + 1)
            END AS BIGINT) AS duration_ms,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3
                 ELSE 1 END AS BIGINT) AS n_tracks,
       CAST(1 AS BIGINT) AS n_video,
       CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 3
                 ELSE 0 END AS BIGINT) AS n_audio,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 320 + 16 * (doc_id % 8)
                 ELSE 8 + (doc_id % 3) * 2 END AS BIGINT) AS width,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 240 + 8 * (doc_id % 8)
                 ELSE 6 + (doc_id % 2) * 2 END AS BIGINT) AS height
FROM documents
"""


# ---------------------------------------------------------------------------
# Real-codec gate for VIDEO: per doc, synthesize an animated GIF (nf =
# 2+id%3 solid frames of gray v_j = (id*31 + j*17) % 251, delay d =
# 200+(id%4)*100 ms, w = 4+id%3, h = 3+id%2), run the production
# sample_frames REAL path (stdlib GIF LZW decode → 250 ms timeline
# sampling → PNG re-encode), then PNG-decode each sampled frame and emit
# its dimensions and mean pixel.  Solid frames make the mean EXACT (= v of
# the source frame active at t = 250·i, i.e. j = t div d), so the oracle
# pins the full chain — GIF encode → LZW decode → timeline sampling → PNG
# encode → PNG decode — arithmetically.
# ---------------------------------------------------------------------------
def video_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from datalake_spark.functions.imaging import gif_encode, png_decode

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for i in ids:
                i = int(i)
                nf = 2 + i % 3
                d = 200 + (i % 4) * 100
                w, h = 4 + i % 3, 3 + i % 2
                frames = [np.full((h, w), j, dtype=np.uint8) for j in range(nf)]
                pal = np.array(
                    [[(i * 31 + j * 17) % 251] * 3 for j in range(nf)],
                    dtype=np.uint8,
                )
                blobs.append(gif_encode(frames, pal, delay_ms=d))
            yield pd.DataFrame(
                {
                    "media_id": ids.astype(str),
                    "modality": "video",
                    "content": blobs,
                    "mime": None,
                    "width": None,
                    "height": None,
                    "duration_ms": None,
                }
            )

    media = docs.mapInPandas(synth, schema=mm_ops.MEDIA_SCHEMA)
    frames = mm_ops.sample_frames(
        media, every_ms=250, max_frames=8, use_fake=False
    )

    dec_schema = "doc_id bigint, frame_idx bigint, frame_ms bigint, " \
                 "width bigint, height bigint, mean_px double"

    def dec(batches):
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "frame_idx", "frame_ms",
                                   "width", "height", "mean_px")}
            for mid, idx, ms, png in zip(
                pdf["media_id"], pdf["frame_idx"], pdf["frame_ms"], pdf["frame"]
            ):
                px = png_decode(bytes(png))
                out["doc_id"].append(int(mid))
                out["frame_idx"].append(int(idx))
                out["frame_ms"].append(int(ms))
                out["width"].append(px.shape[1])
                out["height"].append(px.shape[0])
                out["mean_px"].append(float(px.mean()))
            yield pd.DataFrame(out)

    return frames.mapInPandas(dec, schema=dec_schema)


VIDEO_ROUNDTRIP_SQL = """
WITH s AS (
    SELECT doc_id,
           2 + doc_id % 3 AS nf,
           200 + (doc_id % 4) * 100 AS d,
           4 + doc_id % 3 AS w,
           3 + doc_id % 2 AS h
    FROM documents
)
SELECT doc_id,
       CAST(i AS BIGINT) AS frame_idx,
       CAST(i * 250 AS BIGINT) AS frame_ms,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST((doc_id * 31 + ((i * 250) // d) * 17) % 251 AS DOUBLE) AS mean_px
FROM s, UNNEST(generate_series(0, 7)) AS t(i)
WHERE i * 250 < nf * d
"""


# ---------------------------------------------------------------------------
# video_real_roundtrip — REAL video through a REAL container with zero
# optional dependencies: per doc, 2-4 flat 16x16 gray JPEG frames muxed
# into an MJPEG AVI (functions/avi.py RIFF writer) at 5 fps, then the
# production sample_frames REAL path (RIFF walk → in-repo baseline JPEG
# decode → timeline sampling → PNG re-encode), then PNG-decode each
# sampled frame into its pixel histogram.  Flat blocks quantize
# deterministically: gray m round-trips to p(m) = ⌊(⌊8(m-128)/q00 + ½⌋ ·
# q00)/8 + 128 + ½⌋ (q00 = 3 at quality 90), computed below in exact
# rationals with the DC values sitting ON the ⌊x+½⌋ boundary excluded —
# the same discipline as jpeg_gradient.  Every frame is one (px, cnt=768)
# histogram row, so the oracle pins the container mux → demux → decode →
# sample → encode → decode chain arithmetically, per doc, per frame.
# ---------------------------------------------------------------------------
def _avi_flat_expectation() -> tuple[list[int], list[int]]:
    import math
    from fractions import Fraction

    q00 = 3  # _scaled_qt(_QT_LUMA, 90) raster entry 0
    ms, ps = [], []
    for m in range(64, 220, 3):
        kd = math.floor(Fraction(8 * (m - 128), q00) + Fraction(1, 2))
        if (kd * q00) % 8 == 4:  # rounding boundary — float DCT could flip
            continue
        p = math.floor(Fraction(kd * q00, 8) + 128 + Fraction(1, 2))
        ms.append(m)
        ps.append(min(255, max(0, p)))
    return ms, ps


_AVI_M, _AVI_P = _avi_flat_expectation()


def video_real_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from datalake_spark.functions.avi import avi_encode_mjpeg
    from datalake_spark.functions.imaging import png_decode
    from datalake_spark.functions.jpeg import jpeg_encode

    # 1-in-7 doc sample: the sub verifies the codec/container CHAIN, not
    # corpus coverage, and the pure-Python JPEG encode+decode per frame
    # is the dominant bench cost (~10 s full-corpus at sf0.1, ~1.4 s
    # sampled).  The oracle applies the identical predicate.
    docs = load(spark, sf_dir, "documents").select("doc_id").filter(
        F.expr("doc_id % 7 = 0")
    )

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for i in ids:
                i = int(i)
                nf = 2 + i % 3
                jpegs = []
                for j in range(nf):
                    m = _AVI_M[(i * 3 + j * 7) % len(_AVI_M)]
                    img = np.full((16, 16, 3), m, dtype=np.uint8)
                    jpegs.append(jpeg_encode(img, quality=90, subsample=True))
                blobs.append(
                    avi_encode_mjpeg(jpegs, 16, 16, us_per_frame=200_000)
                )
            yield pd.DataFrame(
                {
                    "media_id": ids.astype(str),
                    "modality": "video",
                    "content": blobs,
                    "mime": None,
                    "width": None,
                    "height": None,
                    "duration_ms": None,
                }
            )

    media = docs.mapInPandas(synth, schema=mm_ops.MEDIA_SCHEMA)
    frames = mm_ops.sample_frames(
        media, every_ms=200, max_frames=8, use_fake=False
    )

    def dec(batches):
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "frame_idx", "frame_ms",
                                   "px", "cnt")}
            for mid, idx, ms, png in zip(
                pdf["media_id"], pdf["frame_idx"], pdf["frame_ms"],
                pdf["frame"],
            ):
                pix = png_decode(bytes(png))
                hist = np.bincount(pix.ravel(), minlength=256)
                for v in np.nonzero(hist)[0]:
                    out["doc_id"].append(int(mid))
                    out["frame_idx"].append(int(idx))
                    out["frame_ms"].append(int(ms))
                    out["px"].append(int(v))
                    out["cnt"].append(int(hist[v]))
            yield pd.DataFrame(out)

    return frames.mapInPandas(
        dec,
        "doc_id bigint, frame_idx bigint, frame_ms bigint, "
        "px int, cnt bigint",
    )


VIDEO_REAL_ROUNDTRIP_SQL = f"""
WITH s AS (SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents
           WHERE doc_id % 7 = 0)
SELECT doc_id,
       CAST(i AS BIGINT) AS frame_idx,
       CAST(i * 200 AS BIGINT) AS frame_ms,
       CAST(list_extract([{", ".join(str(p) for p in _AVI_P)}],
            ((doc_id * 3 + i * 7) % {len(_AVI_M)}) + 1) AS INTEGER) AS px,
       CAST(768 AS BIGINT) AS cnt
FROM s, UNNEST(generate_series(0, 7)) AS t(i)
WHERE i < nf
"""


# ---------------------------------------------------------------------------
# Grouped-map applyInPandas — the per-group custom-aggregator escape hatch
# (one Arrow batch per group).  Outputs are integer-exact so the oracle
# matches bit for bit.  At scale: one shuffle on the group key; group size
# bounded by the source cardinality.
# ---------------------------------------------------------------------------
def grouped_pandas_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load(spark, sf_dir, "documents").select("source", "n_chars")

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        n = pdf["n_chars"]
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "n_docs": [len(pdf)],
                "min_chars": [int(n.min())],
                "max_chars": [int(n.max())],
                "sum_chars": [int(n.sum())],
            }
        )

    return docs.groupBy("source").applyInPandas(
        stats,
        schema="source string, n_docs bigint, min_chars bigint, "
        "max_chars bigint, sum_chars bigint",
    )


GROUPED_PANDAS_SQL = """
SELECT source, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# Document chunking — Python UDTF lateral join (operators/chunking.py); the
# oracle replays the window arithmetic with generate_series.
# ---------------------------------------------------------------------------
_CHUNK_SIZE = 40
_CHUNK_OVERLAP = 10
_CHUNK_STEP = _CHUNK_SIZE - _CHUNK_OVERLAP


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_spark.operators.chunking import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return chunk_documents(spark, docs, size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP)


DOC_CHUNKS_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents),
c AS (
  SELECT doc_id, toks, n,
         UNNEST(generate_series(0,
             CASE WHEN n <= {_CHUNK_SIZE} THEN 0
                  ELSE CAST(CEIL((n - {_CHUNK_SIZE}) / {_CHUNK_STEP}.0) AS BIGINT)
             END)) AS chunk_id
  FROM t)
SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
       CAST(len(toks[chunk_id * {_CHUNK_STEP} + 1 : chunk_id * {_CHUNK_STEP} + {_CHUNK_SIZE}]) AS INTEGER) AS n_chunk_tokens,
       array_to_string(toks[chunk_id * {_CHUNK_STEP} + 1 : chunk_id * {_CHUNK_STEP} + {_CHUNK_SIZE}], ' ') AS chunk
FROM c
"""


# ---------------------------------------------------------------------------
# Generic as-of join operator against the windowed oracle.
# ---------------------------------------------------------------------------
def asof_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ms"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts_ms").alias("signup_ms")
    )
    joined = asof_ops.asof_join(
        purchases,
        signups.withColumnRenamed("signup_ms", "ts_ms").withColumn(
            "signup_ms", F.col("ts_ms")
        ),
        on="ts_ms",
        by=["user_id"],
    )
    return joined.select("event_id", "user_id", "ts_ms", "signup_ms")


ASOF_GENERIC_SQL = """
SELECT event_id, user_id, ts_ms, signup_ms FROM (
  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
         MAX(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END) OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_ms
  FROM events)
WHERE event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# Remaining relational coverage.
# ---------------------------------------------------------------------------
_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # identical SQL text runs on both engines (shared dialect subset)
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GROUPING_SETS_SQL)


def q_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


Q_JSON_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
       COUNT(*) AS n,
       MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_min,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max
FROM events GROUP BY 1
"""


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.element_at(toks, 1).alias("first_tok"),
        F.element_at(toks, -1).alias("last_tok"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.concat_ws("|", F.slice(F.sort_array(F.array_distinct(toks)), 1, 3)).alias("top3_sorted"),
        F.size(F.array_remove(toks, "the")).cast("bigint").alias("n_non_the"),
    )


Q_ARRAY_SQL = """
SELECT doc_id,
       string_split(text, ' ')[1] AS first_tok,
       string_split(text, ' ')[-1] AS last_tok,
       list_contains(string_split(text, ' '), 'spark') AS has_spark,
       array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], '|') AS top3_sorted,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> 'the')) AS BIGINT) AS n_non_the
FROM documents
"""


def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region").select("r_name")
    nation = load(spark, sf_dir, "nation").select("n_name")
    return region.crossJoin(nation).select(
        F.col("r_name"), F.col("n_name"), F.concat_ws("-", "r_name", "n_name").alias("pair")
    )


Q_CROSS_SQL = """
SELECT r_name, n_name, CONCAT_WS('-', r_name, n_name) AS pair
FROM region CROSS JOIN nation
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketches gated by their accuracy contract: sketch values are
    engine-specific, so the query emits the exact counts (oracle-computable)
    plus a boolean per sketch asserting |approx − exact| ≤ 5%·exact.  The
    sketch runs at rsd=0.01 (measured error ≤ 0.9% across sf0.001–0.1), so
    the 5% contract is a ≥5-sigma bound; a sketch drifting out of tolerance
    flips the boolean and fails the hash gate.

    Exact and approx aggregate SEPARATELY and join on the 3-row group key
    (r10 — same scale trap as table_profile_approx: mixed into one .agg()
    the multi-COUNT-DISTINCT Expand rewrite makes the partial hash
    aggregate carry a full rsd=0.01 sketch pair per distinct value —
    measured 183 s at sf1 vs seconds for the split form)."""
    li = load(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("_ao"),
        F.approx_count_distinct("l_partkey", 0.01).alias("_ap"),
    )
    agg = exact.join(F.broadcast(approx), "l_returnflag")
    def ok(approx_c, exact_c):
        return (
            F.abs(F.col(approx_c) - F.col(exact_c))
            <= 0.05 * F.col(exact_c).cast("double")
        )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        ok("_ao", "exact_orders").alias("orders_ok"),
        ok("_ap", "exact_parts").alias("parts_ok"),
    )


Q_APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS orders_ok, TRUE AS parts_ok
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Salted two-phase distinct aggregation (operators/skew.py) proven exact
# against the single-phase oracle: the hot-key scale path must return the
# same values as the plain groupBy, and this gate entry pins that every
# round.
# ---------------------------------------------------------------------------
def q_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_spark.operators.skew import salted_agg

    li = load(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        ["l_returnflag"],
        {
            "n_rows": ("l_orderkey", "count"),
            "nd_orders": ("l_orderkey", "count_distinct"),
            "nd_parts": ("l_partkey", "count_distinct"),
            "max_qty": ("l_quantity", "max"),
        },
        salt=16,
    )


Q_SALTED_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(l_orderkey) AS n_rows,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nd_orders,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
       MAX(l_quantity) AS max_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (SQL `percentile`, Spark's exact implementation)
    vs DuckDB quantile_cont — both linear-interpolate over the sorted set."""
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus,
               ROUND(percentile(o_totalprice, 0.5), 4) AS p50,
               ROUND(percentile(o_totalprice, 0.9), 4) AS p90,
               ROUND(percentile(o_totalprice, 0.99), 4) AS p99
        FROM orders_v GROUP BY o_orderstatus
        """
    )


Q_PERCENTILES_SQL = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY o_orderstatus
"""


QUERIES = [
    Q("minhash_lsh_dedup", minhash_lsh_dedup, NGRAM_JACCARD_SQL, "MinHash LSH near-dup (exact-verified)"),
    Q("simhash_pairs", simhash_pairs, SIMHASH_SQL, "SimHash near-dup pairs, exact at hamming<=3"),
    Q("fingerprint_dedup", fingerprint_dedup, FINGERPRINT_SQL, "rolling-fingerprint dedup"),
    Q("lang_id_quality", lang_id_quality, LANG_ID_SQL, "language ID + quality score"),
    Q("ann_srp_topk", ann_srp_topk, ANN_SRP_SQL, "SRP-LSH ANN recall gate vs brute force"),
    Q("ann_ivf_topk", ann_ivf_topk, ANN_IVF_SQL, "IVF ANN top-k (deterministic, oracle-checked)"),
    Q("multimodal_features", multimodal_features, MULTIMODAL_SQL, "binary → mapInPandas features"),
    Q("doc_chunks", doc_chunks, DOC_CHUNKS_SQL, "UDTF context-window chunking"),
    Q("grouped_pandas_stats", grouped_pandas_stats, GROUPED_PANDAS_SQL, "grouped-map applyInPandas"),
    Q("asof_generic", asof_generic, ASOF_GENERIC_SQL, "generic as-of join operator"),
    Q("q_grouping_sets", q_grouping_sets, _GROUPING_SETS_SQL, "GROUPING SETS"),
    Q("q_json", q_json, Q_JSON_SQL, "JSON extraction"),
    Q("q_array_funcs", q_array_funcs, Q_ARRAY_SQL, "array function battery"),
    Q("q_cross_join", q_cross_join, Q_CROSS_SQL, "cross join"),
    Q("q_approx_distinct", q_approx_distinct, Q_APPROX_DISTINCT_SQL, "HLL++ sketches within accuracy contract"),
    Q("q_salted_distinct", q_salted_distinct, Q_SALTED_DISTINCT_SQL,
      "salted two-phase distinct agg == single-phase oracle"),
    Q("q_percentiles", q_percentiles, Q_PERCENTILES_SQL, "exact percentiles"),
]
