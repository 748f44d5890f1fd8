"""Similarity search over the ``embeddings`` table: brute-force cosine
top-k (baseline) and random-hyperplane LSH bucketing (ANN scale path)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tiledb_mariadb_spark.functions import similarity as S
from tiledb_mariadb_spark.suite import QuerySpec, t
from tiledb_mariadb_spark.suite.scratch import scratch_dir
from tiledb_mariadb_spark.suite.scratch import tag as _scratch_tag


# --- q68: brute-force cosine top-k ----------------------------------------
def q68_cosine_topk(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    others = e.filter(F.col("vec_id") != 0)
    return S.cosine_topk(others, query, "vec_id", "embedding", k=10)


Q68_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, {S.cosine_sql('embedding', 'qv')} AS cos
FROM embeddings, q
WHERE vec_id != 0
ORDER BY cos DESC, vec_id ASC
LIMIT 10
"""


# --- q69: LSH bucket histogram (ANN candidate structure) -------------------
def q69_ann_lsh_buckets(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    bucketed = e.withColumn("bucket", F.expr(S.lsh_bucket_expr("embedding", 8, dim=64)))
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
    )


Q69_SQL = f"""
SELECT {S.lsh_bucket_sql('embedding', 8, dim=64)} AS bucket,
       COUNT(*) AS n_vectors,
       MIN(vec_id) AS min_vec_id
FROM embeddings
GROUP BY 1
"""


# --- q71: bucketed ANN search: query restricted to its own bucket ----------
def q71_ann_bucketed_search(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    bucketed = e.withColumn("bucket", F.expr(S.lsh_bucket_expr("embedding", 8, dim=64)))
    qrow = bucketed.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket")
    )
    cands = bucketed.join(
        F.broadcast(qrow), bucketed.bucket == qrow.qbucket
    ).filter(F.col("vec_id") != 0)
    return (
        cands.select(
            "vec_id",
            "bucket",
            F.expr(S.cosine_expr("embedding", "qv")).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(5)
    )


Q71_SQL = f"""
WITH b AS (SELECT vec_id, embedding,
                  {S.lsh_bucket_sql('embedding', 8, dim=64)} AS bucket
           FROM embeddings),
q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id, bucket, {S.cosine_sql('embedding', 'qv')} AS cos
FROM b, q
WHERE b.bucket = q.qbucket AND vec_id != 0
ORDER BY cos DESC, vec_id ASC
LIMIT 5
"""


# --- q76: embedding-cosine near-dup pairs ----------------------------------
# The embedding-space member of the dedup family (exact/minhash/LSH/
# simhash/ngram live in llm_ops): all pairs above a cosine threshold.
# Exact int-scaled arithmetic both sides; the n² expansion is bounded to a
# slice here — at corpus scale the LSH/IVF bucket join replaces the cross.
def q76_cosine_neardup(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    a = e.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", F.expr(S.cosine_expr("va", "vb")).alias("cos"))
        .filter(F.col("cos") > 0.3)
    )


Q76_SQL = f"""
SELECT x.vec_id AS a, y.vec_id AS b,
       {S.cosine_sql('x.embedding', 'y.embedding')} AS cos
FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
WHERE x.vec_id < 200 AND y.vec_id < 200
  AND {S.cosine_sql('x.embedding', 'y.embedding')} > 0.3
"""


# --- q72: IVF ANN end-to-end (train → assign → write index → search) -------
# Full index lifecycle through storage: k-means lists, write_ivf_index
# (partitionBy list_id → probes prune partitions), read back, search.
# Probing ALL lists makes IVF exact == brute-force top-k, so the DuckDB
# oracle can hash-verify the whole pipeline; nprobe < n_lists quality is
# asserted separately by the recall test (tests/test_ivf.py).
def q72_ann_ivf(spark, sf_dir):
    import os  # noqa: PLC0415

    from tiledb_mariadb_spark.functions import ivf  # noqa: PLC0415

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # train on a deterministic subset — the sample-at-scale pattern the
    # trainer documents; search exactness is centroid-independent here
    # because every list is probed
    cents = ivf.train_centroids(
        e.filter(F.col("vec_id") < 256), "vec_id", "embedding", k=8, iters=1
    )
    indexed = ivf.assign_lists(e, cents, "embedding")
    tag = _scratch_tag(sf_dir)
    path = os.path.join(scratch_dir("ivf_index"), f"emb-{tag}")
    ivf.write_ivf_index(indexed, path)
    stored = spark.read.parquet(path)
    qvec = [float(x) for x in e.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    return ivf.ivf_search(
        stored, cents, qvec, "embedding", "vec_id", k=10, nprobe=len(cents)
    )


Q72_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings
           WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings))
SELECT vec_id, {S.cosine_sql('embedding', 'qv')} AS cos
FROM embeddings, q
ORDER BY cos DESC, vec_id ASC
LIMIT 10
"""


# --- q143: batch ANN — many queries × corpus, two-phase top-k --------------
def q143_ann_batch(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    corpus = e.filter(F.col("vec_id") >= 5)
    return S.cosine_topk_batch(
        corpus, queries, "vec_id", "embedding", "qid", "qv", k=3
    )


Q143_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
scored AS (
  SELECT qid, vec_id, {S.cosine_sql('embedding', 'qv')} AS cos
  FROM c CROSS JOIN q),
ranked AS (
  SELECT qid, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rk
  FROM scored)
SELECT qid, vec_id, cos FROM ranked WHERE rk <= 3
"""


# --- q153: batch IVF search — queries probe their own inverted lists -------
def q153_ivf_batch(spark, sf_dir):
    import os  # noqa: PLC0415

    from tiledb_mariadb_spark.functions import ivf  # noqa: PLC0415

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") >= 5)
    cents = ivf.train_centroids(
        e.filter(F.col("vec_id") < 256), "vec_id", "embedding", k=8, iters=1
    )
    indexed = ivf.assign_lists(corpus, cents, "embedding")
    tag = _scratch_tag(f"batch-{sf_dir}")
    path = os.path.join(scratch_dir("ivf_index"), f"embatch-{tag}")
    ivf.write_ivf_index(indexed, path)
    stored = spark.read.parquet(path)
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    # nprobe = all lists → exact results, so the brute-force oracle
    # applies; nprobe < k (the approximate mode) is covered by the
    # recall test in tests/test_ivf.py
    return ivf.ivf_search_batch(
        stored, cents, queries, "qid", "qv", "embedding", "vec_id",
        k=3, nprobe=len(cents),
    )


Q153_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
scored AS (
  SELECT qid, vec_id, {S.cosine_sql('embedding', 'qv')} AS cos
  FROM c CROSS JOIN q),
ranked AS (
  SELECT qid, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rk
  FROM scored)
SELECT qid, vec_id, cos FROM ranked WHERE rk <= 3
"""


# --- q159: LSH-bucketed embedding near-dup (scale path for q76) ------------
# q76 proves the exact pairwise semantics on a bounded slice; this is the
# shape that survives 100 TB: hyperplane-bucket every vector ONCE, confine
# the quadratic pair generation to a bucket equi-join (no cross product
# ever materializes), then exact-cosine-verify only in-bucket candidates.
# Recall is governed by the plane count (8 planes / 256 buckets here);
# both engines apply identical md5-derived planes so results hash-match.
def q159_lsh_neardup(spark, sf_dir):
    # One pass, one shuffle: buckets come from the literal-inlined
    # hyperplane expression (a self-join formulation would recompute the
    # bucket hash on both branches and shuffle twice), vectors gather per
    # bucket (groupBy — the only exchange), the C(n,2) in-bucket pairs
    # are generated IN-LINE with array lambdas, and the exact int-scaled
    # cosine verify runs in the same codegen stage.  Everything stays
    # JVM-side: with hyperplane components inlined as literals the
    # whole-stage-codegen path beats the Arrow twins (which pay a Python
    # worker round-trip) until bucket populations reach ~10^5 vectors —
    # the Arrow twins (lsh_assign_arrow / cosine_pairs_arrow) remain the
    # documented corpus-scale escape hatch.  Bucket population is bounded
    # by plane count (raise planes at corpus scale), so the per-bucket
    # array never approaches executor memory the way an unbounded
    # groupBy-collect would.
    e = t(spark, sf_dir, "embeddings")
    # stage the scaled-int vector ONCE per row (SPARK-36718: lambda
    # bodies never CSE, so the bucket hash, the dot, and both norms
    # would each re-run the per-element ROUND+CAST chain — the norms
    # per PAIR instead of per vector).  Values are bit-identical to the
    # raw-vector expressions (see scaled_vec_expr); only where the
    # scaling/norm evaluation happens changes.
    sv = e.select(
        "vec_id", F.expr(S.scaled_vec_expr("embedding")).alias("sv")
    )
    b = sv.select(
        "vec_id",
        "sv",
        F.expr(S.lsh_bucket_scaled_expr("sv", 8, dim=64)).alias("bucket"),
        F.expr(f"SQRT({S.dot_scaled_expr('sv', 'sv')})").alias("nrm"),
    )
    grouped = b.groupBy("bucket").agg(
        F.collect_list(F.struct("vec_id", "sv", "nrm")).alias("vs")
    )
    pairs = grouped.select(
        "bucket",
        F.explode(
            F.expr(
                "flatten(transform(vs, (x, i) ->"
                " transform(slice(vs, i + 2, size(vs)), y -> struct("
                "   least(x.vec_id, y.vec_id) AS a,"
                "   greatest(x.vec_id, y.vec_id) AS b,"
                "   x.sv AS sa, y.sv AS sb,"
                "   x.nrm AS na, y.nrm AS nb))))"
            )
        ).alias("p"),
    ).select(
        F.col("p.a").alias("a"),
        F.col("p.b").alias("b"),
        "bucket",
        F.col("p.sa").alias("sa"),
        F.col("p.sb").alias("sb"),
        F.col("p.na").alias("na"),
        F.col("p.nb").alias("nb"),
    )
    return (
        pairs.select(
            "a",
            "b",
            "bucket",
            F.expr(
                S.cosine_scaled_expr("sa", "sb", "na", "nb")
            ).alias("cos"),
        )
        .filter(F.col("cos") > 0.3)
    )


Q159_SQL = f"""
WITH b AS (SELECT vec_id, embedding,
                  {S.lsh_bucket_sql('embedding', 8, dim=64)} AS bucket
           FROM embeddings)
SELECT x.vec_id AS a, y.vec_id AS b, x.bucket AS bucket,
       {S.cosine_sql('x.embedding', 'y.embedding')} AS cos
FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE {S.cosine_sql('x.embedding', 'y.embedding')} > 0.3
"""


# --- q256: RAG retrieval end-to-end ----------------------------------------
# The retrieval composition a RAG pipeline actually runs: vector top-k
# over the embedding index, then hydrate the hit set against the
# documents table for context assembly.  The k-row hit list drives a
# BROADCAST join into documents (the corpus is never shuffled for a
# k-row lookup); snippet text is fingerprinted (md5 of the head) so the
# driver can hash it.
_RAG_K = 8


def q256_rag_retrieve(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    d = t(spark, sf_dir, "documents")
    query = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    hits = S.cosine_topk(
        e.filter(F.col("vec_id") != 0), query, "vec_id", "embedding", k=_RAG_K
    )
    from pyspark.sql.window import Window  # noqa: PLC0415

    ranked = hits.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("cos").desc(), F.col("vec_id"))
        ),
    )
    return (
        d.join(F.broadcast(ranked), d.doc_id == ranked.vec_id)
        .select(
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            "cos",
            "lang",
            F.size(F.split(F.trim("text"), " +")).cast("long").alias(
                "n_tokens"
            ),
            F.md5(F.expr("substring(text, 1, 80)")).alias("snippet_fp"),
        )
        .orderBy("rank")
    )


Q256_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
hits AS (
  SELECT vec_id, {S.cosine_sql('embedding', 'qv')} AS cos
  FROM embeddings, q WHERE vec_id != 0
  ORDER BY cos DESC, vec_id LIMIT {_RAG_K}),
ranked AS (
  SELECT vec_id, cos,
         ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rank
  FROM hits)
SELECT CAST(rank AS BIGINT) AS rank, doc_id, cos, lang,
       CAST(len(regexp_split_to_array(TRIM(text), ' +')) AS BIGINT)
         AS n_tokens,
       md5(substring(text, 1, 80)) AS snippet_fp
FROM documents JOIN ranked ON doc_id = vec_id
ORDER BY rank
"""


SPECS = [
    QuerySpec("q68_cosine_topk", q68_cosine_topk, Q68_SQL, "brute-force cosine top-k"),
    QuerySpec(
        "q256_rag_retrieve",
        q256_rag_retrieve,
        Q256_SQL,
        "RAG retrieval: vector top-k + broadcast document hydration",
    ),
    QuerySpec(
        "q159_lsh_neardup", q159_lsh_neardup, Q159_SQL,
        "LSH-bucketed embedding near-dup: in-bucket pairs + exact cosine verify",
    ),
    QuerySpec(
        "q153_ivf_batch", q153_ivf_batch, Q153_SQL,
        "batch IVF: per-query nprobe list pruning over the stored index",
    ),
    QuerySpec(
        "q143_ann_batch", q143_ann_batch, Q143_SQL,
        "batch ANN: many queries, two-phase per-query top-k",
    ),
    QuerySpec(
        "q72_ann_ivf",
        q72_ann_ivf,
        Q72_SQL,
        "IVF ANN end-to-end: train, write partitioned index, probe search",
    ),
    QuerySpec(
        "q76_cosine_neardup", q76_cosine_neardup, Q76_SQL, "embedding-cosine near-dup"
    ),
    QuerySpec("q69_ann_lsh_buckets", q69_ann_lsh_buckets, Q69_SQL, "LSH bucketing"),
    QuerySpec(
        "q71_ann_bucketed_search", q71_ann_bucketed_search, Q71_SQL, "bucketed ANN"
    ),
]


# --- q280: Matryoshka (truncated-prefix) ANN (round 4) ----------------------
# MRL-style embeddings are trained so a PREFIX of the vector is itself a
# usable embedding: rank cheaply on the first 16 of 64 dims (4x less
# compute, and at scale a 4x-narrower stored column / IO), keep the top-50
# prefix candidates, then exact full-dim re-rank to top-10.  Same
# funnel shape as PQ->exact re-rank (functions/pq.py), with dimension
# truncation as the coarse quantizer.  All int-scaled deterministic math.
def q280_matryoshka_ann(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            "embedding",
            "qv",
            F.expr(
                S.cosine_expr("slice(embedding, 1, 16)", "slice(qv, 1, 16)")
            ).alias("pcos"),
        )
        .orderBy(F.col("pcos").desc(), F.col("vec_id").asc())
        .limit(50)
    )
    return (
        cand.select(
            "vec_id",
            F.expr(S.cosine_expr("embedding", "qv")).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(10)
    )


Q280_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT vec_id, embedding, qv,
         {S.cosine_sql('embedding[1:16]', 'qv[1:16]')} AS pcos
  FROM embeddings, q
  WHERE vec_id != 0
  ORDER BY pcos DESC, vec_id ASC
  LIMIT 50
)
SELECT vec_id, {S.cosine_sql('embedding', 'qv')} AS cos
FROM cand
ORDER BY cos DESC, vec_id ASC
LIMIT 10
"""

SPECS.append(
    QuerySpec(
        "q280_matryoshka_ann",
        q280_matryoshka_ann,
        Q280_SQL,
        "Matryoshka ANN: truncated-prefix coarse ranking + exact full-dim "
        "re-rank (MRL-embedding funnel)",
    )
)


# --- q336: embedding-based (semantic) decontamination -----------------------
#
# q192 decontaminates by n-gram overlap (lexical); modern pipelines ALSO
# drop training documents semantically close to an eval set — paraphrased
# contamination n-grams can't see.  Eval embeddings are the SMALL side:
# broadcast them, score corpus x eval map-side (exact int64 dot products,
# IEEE sqrt/divide — both engines correctly rounded), and take each
# train vector's argmax via a map-side-combinable struct-max groupBy
# (no window sort, no corpus reshuffle: only (id, cos, qid) partials
# move).  At 100 TB the corpus is scanned once; the eval set rides the
# broadcast.  Tie-break on equal cosine: LOWEST eval id (struct max of
# (cos, -qid) == ROW_NUMBER ordered cos DESC, qid ASC).
def q336_semantic_decontaminate(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    ev = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    tr = e.filter(F.col("vec_id") >= 20)
    scored = tr.crossJoin(F.broadcast(ev)).select(
        "vec_id",
        "qid",
        F.expr(S.cosine_expr("embedding", "qv")).alias("cos"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("cos").alias("cos"), (-F.col("qid")).alias("nq"))
        ).alias("m")
    )
    return (
        best.filter(F.col("m.cos") >= 0.3)
        .select(
            "vec_id",
            (-F.col("m.nq")).cast("long").alias("eval_id"),
            F.col("m.cos").alias("max_cos"),
        )
        .orderBy("vec_id")
    )


Q336_SQL = f"""
WITH ev AS (SELECT vec_id AS qid, embedding AS qv
            FROM embeddings WHERE vec_id < 20),
tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
scored AS (SELECT tr.vec_id, ev.qid,
                  {S.cosine_sql('embedding', 'qv')} AS cos
           FROM tr, ev),
best AS (SELECT vec_id, qid, cos,
                ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, qid ASC) AS rn
         FROM scored)
SELECT vec_id, CAST(qid AS BIGINT) AS eval_id, cos AS max_cos
FROM best WHERE rn = 1 AND cos >= 0.3
ORDER BY vec_id
"""

SPECS.append(
    QuerySpec(
        "q336_semantic_decontaminate",
        q336_semantic_decontaminate,
        Q336_SQL,
        "embedding-based eval-set decontamination: broadcast eval "
        "vectors, map-side exact cosine, struct-max argmax per train "
        "vector, threshold flag (the semantic twin of q192's n-gram "
        "decontamination)",
    )
)
