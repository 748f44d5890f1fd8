"""Corpus-pipeline operators, continued: incremental dedup against a
stored index, deterministic weighted sampling, and int8-quantized ANN.

These extend the training-data tier (SURVEY §2 driver-added scope) with
the three shapes a rolling 100 TB ingest hits next:

* q173 — **incremental LSH dedup**: new-batch MinHash signatures probe the
  existing corpus's band index (``functions/dedup.py::lsh_probe_pairs``),
  then candidates are verified with exact distinct-shingle Jaccard.  The
  reference has no analog (mytile stores arrays; dedup lives above it) —
  the shape follows Broder '97 resemblance + MMDS ch.3 banding.  Per-ingest
  cost scales with the batch: the corpus side is banded once (at scale: a
  TileTable partitioned by band/hash so probes partition-prune) and never
  shuffles — the probe bands broadcast.
* q174 — **weighted corpus sampling**: deterministic priority sampling,
  priority = hash(doc) DIV weight, take bottom-k — the integer-exact
  analog of Efraimidis–Spirakis A-Res keys (u^(1/w)): selection odds rise
  with weight, reproducible across engines because no transcendentals are
  involved.  Map-side scored, one global top-k (TakeOrderedAndProject —
  per-partition heads only, no full sort shuffle).
* q175 — **int8-quantized ANN**: symmetric per-vector quantization
  q_i = round(x_i·127/max|x|) then exact int64 dot-product top-k — the 4×
  memory-compression scale path for vector search.  Quantized scores are
  integer arithmetic end-to-end, so both engines agree bit-for-bit; recall
  vs the exact float ranking is pinned in tests/test_ivf.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tiledb_mariadb_spark.functions import dedup as D
from tiledb_mariadb_spark.functions import similarity as S
from tiledb_mariadb_spark.suite import QuerySpec, ldf, spread, t
from tiledb_mariadb_spark.suite.scratch import scratch_dir
from tiledb_mariadb_spark.suite.scratch import tag as _scratch_tag

# --- q173: incremental dedup — probe a new batch against the corpus --------
# Batch = doc_id % 5 == 0 (a ~20% "new ingest" at every sf); corpus = the
# rest.  Candidates from band-join, verified with exact Jaccard over
# distinct 3-gram shingles; pairs with zero shared shingles (pure LSH
# band collisions) drop out in the inner join on the intersection —
# mirrored in the oracle.


def q173_incremental_dedup(spark, sf_dir):
    # the bench fixture is a single-row-group parquet file, so the
    # md5-per-shingle MinHash stage below would run on ONE task (guide
    # §2.5 unsplittable input) — spread it; no-op on real-scale inputs
    d = spread(
        t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)
    # signatures in-row (zero shuffle) — bit-identical to the groupBy path
    cands = D.lsh_probe_pairs(
        D.with_minhash_inline(corpus, "text", ["doc_id"]),
        D.with_minhash_inline(batch, "text", ["doc_id"]),
        "doc_id",
    )
    # the candidate set feeds three joins below; persist so the two
    # minhash scans run once
    from pyspark import StorageLevel  # noqa: PLC0415

    from tiledb_mariadb_spark import persists as _P  # noqa: PLC0415

    cands = _P.track(cands.persist(StorageLevel.MEMORY_AND_DISK))
    # verify cost must scale with the CANDIDATE set, not the corpus:
    # shingle only the docs that appear in a candidate pair (broadcast
    # semi-join — the candidate id set is band-collision sized).
    # Without this, the exact-Jaccard verify shuffles every corpus
    # shingle to check a handful of pairs.
    #
    # The exact-Jaccard verify carries each candidate doc's DISTINCT
    # shingle SET through the pair join (collect_set + array_intersect)
    # instead of exploding shingles into three aggregations and four
    # joins: |sp ∩ si| over distinct sets is exactly the old
    # "count shared distinct shingles" inner-join, size(sp)/size(si)
    # are exactly the old per-doc distinct counts, and pairs with an
    # empty intersection drop out (filter >= 1) exactly as the old
    # inner join on the shingle column dropped them.  Equivalence is
    # pinned by tests/test_pipeline_fns.py::
    # test_incremental_dedup_setverify_matches_explode and the DuckDB
    # oracle (Q173_SQL, unchanged).  One aggregation + broadcast joins:
    # the shingle frames stay candidate-bounded, and the plan drops
    # from 24 Exchanges to a handful.
    ids = (
        cands.select(F.col("index_id").alias("doc_id"))
        .union(cands.select(F.col("probe_id").alias("doc_id")))
        .distinct()
    )
    sets = (
        D.with_shingles(
            d.join(F.broadcast(ids), "doc_id", "left_semi"),
            "doc_id",
            "text",
            k=3,
        )
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
    )
    return (
        cands.join(
            F.broadcast(
                sets.select(
                    F.col("doc_id").alias("probe_id"), F.col("sh").alias("sp")
                )
            ),
            "probe_id",
        )
        .join(
            F.broadcast(
                sets.select(
                    F.col("doc_id").alias("index_id"), F.col("sh").alias("si")
                )
            ),
            "index_id",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("sp", "si")).cast("long")
        )
        .filter(F.col("inter") >= 1)
        .select(
            "probe_id",
            "index_id",
            "inter",
            (
                F.col("inter")
                / (
                    F.size("sp").cast("long")
                    + F.size("si").cast("long")
                    - F.col("inter")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


_CORPUS_SH = D.shingles_sql(
    "(SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0)",
    "doc_id",
    "text",
    k=3,
)
_BATCH_SH = D.shingles_sql(
    "(SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0)",
    "doc_id",
    "text",
    k=3,
)
_PROBE_PAIRS = D.lsh_probe_pairs_sql(
    D.minhash_sql(_CORPUS_SH, "doc_id"), D.minhash_sql(_BATCH_SH, "doc_id")
)
Q173_SQL = f"""
WITH cands AS ({_PROBE_PAIRS}),
cdist AS (SELECT DISTINCT doc_id AS index_id, shingle FROM ({_CORPUS_SH})),
bdist AS (SELECT DISTINCT doc_id AS probe_id, shingle FROM ({_BATCH_SH})),
inter AS (
  SELECT c.probe_id, c.index_id, CAST(COUNT(*) AS BIGINT) AS inter
  FROM cands c
  JOIN bdist p ON p.probe_id = c.probe_id
  JOIN cdist i ON i.index_id = c.index_id AND i.shingle = p.shingle
  GROUP BY c.probe_id, c.index_id
)
SELECT probe_id, index_id, inter,
       (inter / CAST(np + ni - inter AS DOUBLE)) AS jaccard
FROM inter
JOIN (SELECT probe_id, COUNT(*) AS np FROM bdist GROUP BY probe_id) USING (probe_id)
JOIN (SELECT index_id, COUNT(*) AS ni FROM cdist GROUP BY index_id) USING (index_id)
"""


# --- q174: deterministic weighted sampling ---------------------------------
# Weight = n_chars (longer documents proportionally likelier); priority =
# hash60(doc_id) DIV weight, bottom-50.  Integer division keeps both
# engines bit-equal (operands positive, so floor == trunc).


def q174_weighted_sample(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # hash60 exceeds 2^53, so the divide MUST stay in int64 (DIV) — a
    # double divide + floor would round the dividend first and disagree
    # with the oracle's integer `//`.
    return (
        d.withColumn("__h", D.hash60(F.col("doc_id").cast("string"), "ws"))
        .withColumn(
            "priority",
            F.expr("__h DIV greatest(CAST(n_chars AS BIGINT), CAST(1 AS BIGINT))"),
        )
        .select("doc_id", "lang", "n_chars", "priority")
        .orderBy(F.col("priority").asc(), F.col("doc_id").asc())
        .limit(50)
    )


Q174_SQL = f"""
SELECT doc_id, lang, n_chars,
       CAST({D.hash60_sql("CAST(doc_id AS VARCHAR)", "ws")}
            // greatest(n_chars, 1) AS BIGINT) AS priority
FROM documents
ORDER BY priority ASC, doc_id ASC
LIMIT 50
"""


# --- q175: int8-quantized ANN top-k ----------------------------------------
def q175_quantized_ann(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.expr(S.quantize_int8_expr("embedding")).alias("qq")
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(
                S.qdot_expr(S.quantize_int8_expr("embedding"), "qq")
            ).alias("qscore"),
        )
        .orderBy(F.col("qscore").desc(), F.col("vec_id").asc())
        .limit(10)
    )


Q175_SQL = f"""
WITH q AS (SELECT {S.quantize_int8_sql('embedding')} AS qq
           FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       {S.qdot_sql(S.quantize_int8_sql('embedding'), 'qq')} AS qscore
FROM embeddings, q
WHERE vec_id != 0
ORDER BY qscore DESC, vec_id ASC
LIMIT 10
"""


# --- q176: overlapping document chunking -----------------------------------
# The retrieval/context-prep inverse of q138's packing: split each document
# into word chunks of size 40 with stride 30 (10-word overlap so no
# boundary sentence is lost to retrieval).  Chunk c covers words
# [30c+1, 30c+40]; c ranges over 0..floor((n_words-1)/30), so every word
# is covered and the final chunk may run short.  Pure per-row explode —
# ZERO shuffle; at 100 TB this runs at scan rate alongside the quality
# gates (same map stage).
_CHUNK, _STRIDE = 40, 30


def q176_chunk_documents(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    # ws staged as its own projection column: referenced from inside the
    # transform lambda it would be re-split per chunk (no CSE across
    # lambdas; see the verify recipe).
    staged = d.select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("ws")
    )
    chunks = F.expr(
        f"transform(sequence(0, CAST(floor((size(ws) - 1)"
        f" / {_STRIDE}) AS INT)),"
        f" c -> struct(CAST(c AS BIGINT) AS chunk_idx,"
        f" concat_ws(' ', slice(ws,"
        f" c * {_STRIDE} + 1, {_CHUNK})) AS chunk_text))"
    )
    return (
        staged.select("doc_id", F.explode(chunks).alias("ch"))
        .select(
            "doc_id",
            "ch.chunk_idx",
            "ch.chunk_text",
            F.size(F.split("ch.chunk_text", " ")).cast("long").alias("n_words"),
        )
    )


Q176_SQL = f"""
SELECT doc_id,
       CAST(c.c AS BIGINT) AS chunk_idx,
       array_to_string(ws[c.c * {_STRIDE} + 1 : c.c * {_STRIDE} + {_CHUNK}], ' ')
         AS chunk_text,
       CAST(len(ws[c.c * {_STRIDE} + 1 : c.c * {_STRIDE} + {_CHUNK}]) AS BIGINT)
         AS n_words
FROM (SELECT doc_id, str_split(TRIM(text), ' ') AS ws FROM documents),
     UNNEST(range(0, ((len(ws) - 1) // {_STRIDE}) + 1)) AS c(c)
"""


# --- q178: exact set-similarity self-join (PPJoin prefix filtering) --------
# The exact counterpart to LSH banding: no false negatives at the same
# candidate-bounding idea (rare-token prefixes).  Threshold 3/5; all
# comparisons integer (5·inter ≥ 3·union).


def q178_setsim_join(spark, sf_dir):
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    return D.setsim_join(d, "doc_id", "text", threshold_num=3, threshold_den=5)


Q178_SQL = """
WITH toks AS (
  SELECT DISTINCT doc_id AS doc, UNNEST(str_split(TRIM(text), ' ')) AS tok
  FROM documents WHERE doc_id < 200
),
freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
ranked AS (
  SELECT doc, tok,
         ROW_NUMBER() OVER (PARTITION BY doc ORDER BY tf, tok) AS rn,
         COUNT(*) OVER (PARTITION BY doc) AS sz
  FROM toks JOIN freq USING (tok)
),
prefix AS (SELECT doc, tok FROM ranked
           WHERE rn <= sz - ((3 * sz + 4) // 5) + 1),
cands AS (
  SELECT DISTINCT p1.doc AS a, p2.doc AS b
  FROM prefix p1 JOIN prefix p2 ON p1.tok = p2.tok AND p1.doc < p2.doc
),
sizes AS (SELECT doc, COUNT(*) AS n FROM toks GROUP BY doc),
inter AS (
  SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM cands c
  JOIN toks ta ON ta.doc = c.a
  JOIN toks tb ON tb.doc = c.b AND tb.tok = ta.tok
  GROUP BY c.a, c.b
)
SELECT a, b, inter,
       CAST(sa.n + sb.n - inter AS BIGINT) AS un,
       (inter / CAST(sa.n + sb.n - inter AS DOUBLE)) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = a
JOIN sizes sb ON sb.doc = b
WHERE 5 * inter >= 3 * (sa.n + sb.n - inter)
"""


# --- q179: incremental IVF maintenance (append without retrain) ------------
# Index the resident 80% of vectors, append the other 20% assign-only,
# then an all-probe search over the stored index must equal brute-force
# top-k over the FULL table — proving the appended rows landed in
# searchable lists without touching resident ones.


def q179_ivf_append(spark, sf_dir):
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from tiledb_mariadb_spark.functions import ivf  # noqa: PLC0415

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    resident = e.filter(F.col("vec_id") % 5 != 0)
    batch = e.filter(F.col("vec_id") % 5 == 0)
    cents = ivf.train_centroids(
        e.filter(F.col("vec_id") < 256), "vec_id", "embedding", k=8, iters=1
    )
    tag = _scratch_tag(f"append:{sf_dir}")
    path = os.path.join(scratch_dir("ivf_index"), f"emb-app-{tag}")
    shutil.rmtree(path, ignore_errors=True)
    ivf.write_ivf_index(ivf.assign_lists(resident, cents, "embedding"), path)
    ivf.append_ivf_index(batch, cents, "embedding", path)
    stored = spark.read.parquet(path)
    qvec = [
        float(x)
        for x in e.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    ]
    return ivf.ivf_search(
        stored, cents, qvec, "embedding", "vec_id", k=10, nprobe=len(cents)
    )


Q179_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings
           WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings))
SELECT vec_id, {S.cosine_sql('embedding', 'qv')} AS cos
FROM embeddings, q
ORDER BY cos DESC, vec_id ASC
LIMIT 10
"""


# --- q180: SimHash Hamming near-dup pairs ----------------------------------
# The scale path for q67's fingerprints: 4-bit band buckets bound the
# candidate set (pigeonhole: Hamming ≤ 3 ⟹ one band equal), exact
# popcount verify on candidates only.


def q180_simhash_neardup(spark, sf_dir):
    corpus = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "text")
    )
    tokens = corpus.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("token")
    )
    return D.simhash_neardup_pairs(
        D.simhash16(tokens, "doc_id"), "doc_id", max_hamming=3
    )


Q180_SQL = D.simhash_neardup_sql(
    D.simhash16_sql(
        "SELECT doc_id, UNNEST(str_split(TRIM(text), ' ')) AS token "
        "FROM documents WHERE doc_id < 400",
        "doc_id",
    ),
    "doc_id",
    max_hamming=3,
)


# --- q181: temperature-smoothed source mixing weights ----------------------
# The multilingual-sampling scheme (XLM-R style): source s is sampled with
# p_s ∝ n_s^α.  α = 1/2 keeps it engine-deterministic — IEEE sqrt is
# correctly rounded on both engines, n·10^12 is exact in double for any
# plausible count, and floor() lands on the same int64, so the weights
# sum exactly.  (Arbitrary α would hit pow()'s cross-engine ulp drift —
# documented limitation, not an implementation gap.)


def q181_temperature_mix(spark, sf_dir):
    counts = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = F.floor(F.sqrt(F.col("n_docs").cast("double") * F.lit(1.0e12))).cast(
        "long"
    )
    weighted = counts.select("source", F.col("n_docs").cast("long").alias("n_docs"), w.alias("w"))
    total = weighted.groupBy().agg(F.sum("w").cast("long").alias("tw"))
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            (F.col("w").cast("double") / F.col("tw").cast("double")).alias(
                "p_sample"
            ),
        )
        .orderBy("source")
    )


Q181_SQL = """
WITH w AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE) * 1e12)) AS BIGINT) AS w
  FROM documents GROUP BY source
)
SELECT source, n_docs,
       (CAST(w AS DOUBLE) / CAST((SELECT SUM(w) FROM w) AS DOUBLE)) AS p_sample
FROM w
ORDER BY source
"""


# --- q182: corpus-prep funnel — gate → exact dedup → split, one query ------
# The capstone composition a curation team runs per ingest, expressed as
# ONE declarative plan so Catalyst fuses the gate into the scan and the
# whole funnel is three stages (scan+gate, md5 groupBy, split counts).
# Output = per-stage survivor counts; pure BIGINTs.


def q182_corpus_funnel(spark, sf_dir):
    from tiledb_mariadb_spark.functions import pipeline as P  # noqa: PLC0415
    from tiledb_mariadb_spark.functions import text as X  # noqa: PLC0415

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    feats = X.quality_features(F.col("text"))
    gated = d.filter(
        feats["n_tokens"].between(5, 500) & (feats["stop_ratio"] >= 0.01)
    )
    uniq = gated.groupBy(F.md5(F.col("text")).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    split = P.train_test_split(uniq, "doc_id", 0.1)
    counts = split.agg(
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
    )
    n_raw = d.agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
    n_gated = gated.agg(F.count(F.lit(1)).cast("long").alias("n_gated"))
    return (
        n_raw.crossJoin(F.broadcast(n_gated))
        .crossJoin(F.broadcast(counts))
        .select("n_raw", "n_gated", "n_unique", "n_train", "n_test")
    )


def _q182_sql() -> str:
    from tiledb_mariadb_spark.functions import pipeline as P  # noqa: PLC0415
    from tiledb_mariadb_spark.functions import text as X  # noqa: PLC0415

    qf = X.quality_features_sql("text")
    return f"""
WITH gated AS (
  SELECT doc_id, text FROM documents
  WHERE ({qf['n_tokens']} BETWEEN 5 AND 500) AND ({qf['stop_ratio']} >= 0.01)
),
uniq AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
split AS (SELECT doc_id, {P.split_case_sql('doc_id', 0.1)} AS split FROM uniq)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_raw,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM gated) AS n_gated,
       CAST(COUNT(*) AS BIGINT) AS n_unique,
       CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
FROM split
"""


Q182_SQL = _q182_sql()


SPECS = [
    QuerySpec(
        "q173_incremental_dedup",
        q173_incremental_dedup,
        Q173_SQL,
        "incremental LSH dedup: new batch probed against the corpus index",
    ),
    QuerySpec(
        "q174_weighted_sample",
        q174_weighted_sample,
        Q174_SQL,
        "deterministic weighted priority sampling (integer E-S analog)",
    ),
    QuerySpec(
        "q175_quantized_ann",
        q175_quantized_ann,
        Q175_SQL,
        "int8-quantized ANN: exact int64 dot top-k (4x memory scale path)",
    ),
    QuerySpec(
        "q176_chunk_documents",
        q176_chunk_documents,
        Q176_SQL,
        "overlapping word-window chunking (RAG/context prep, map-only)",
    ),
    QuerySpec(
        "q178_setsim_join",
        q178_setsim_join,
        Q178_SQL,
        "exact Jaccard-threshold join via PPJoin prefix filtering",
    ),
    QuerySpec(
        "q179_ivf_append",
        q179_ivf_append,
        Q179_SQL,
        "incremental IVF append: all-probe search equals full brute force",
    ),
    QuerySpec(
        "q180_simhash_neardup",
        q180_simhash_neardup,
        Q180_SQL,
        "SimHash Hamming near-dup: band buckets + exact popcount verify",
    ),
    QuerySpec(
        "q181_temperature_mix",
        q181_temperature_mix,
        Q181_SQL,
        "temperature-smoothed (alpha=1/2) source sampling weights",
    ),
    QuerySpec(
        "q182_corpus_funnel",
        q182_corpus_funnel,
        Q182_SQL,
        "corpus-prep funnel: gate, exact dedup, split in one plan",
    ),
]


# --- q271: IVF index maintenance with DELETES (deletion vectors) ------------
# Completes the index lifecycle (build q72, append q179): deletes land as
# a tombstone-id sidecar (no list rewrite — deletion-vector style), the
# search subtracts them with one broadcast anti-join, and compaction
# rewrites ONLY the lists containing deletions (dynamic partition
# overwrite).  The spec searches all-probe after delete AND after
# compaction; both must equal brute-force top-k over the surviving
# vectors — which is exactly what the oracle computes.
def q271_ivf_delete(spark, sf_dir):
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from tiledb_mariadb_spark.functions import ivf  # noqa: PLC0415

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf.train_centroids(
        e.filter(F.col("vec_id") < 256), "vec_id", "embedding", k=8, iters=1
    )
    tag = _scratch_tag(f"delete:{sf_dir}")
    path = os.path.join(scratch_dir("ivf_index"), f"emb-del-{tag}")
    shutil.rmtree(path, ignore_errors=True)
    ivf.write_ivf_index(ivf.assign_lists(e, cents, "embedding"), path)
    ivf.delete_ivf_index(
        e.filter(F.col("vec_id") % 7 == 0), "vec_id", path
    )
    qvec = [
        float(x)
        for x in e.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    ]
    # materialize BEFORE compaction deletes the sidecar files this lazy
    # plan references (k rows — driver-side by design)
    tombstoned = ldf(spark,
        ivf.ivf_search(
            ivf.live_ivf_index(spark, path), cents, qvec, "embedding",
            "vec_id", k=10, nprobe=len(cents),
        ).collect(),
        "vec_id bigint, cos double",
    ).select(F.lit("tombstoned").alias("phase"), "vec_id", "cos")
    n_rewritten = ivf.compact_ivf_index(spark, path)
    assert n_rewritten > 0
    compacted = ivf.ivf_search(
        ivf.live_ivf_index(spark, path), cents, qvec, "embedding", "vec_id",
        k=10, nprobe=len(cents),
    ).select(F.lit("compacted").alias("phase"), "vec_id", "cos")
    return tombstoned.unionByName(compacted).orderBy("phase", "vec_id")


Q271_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings
           WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
topk AS (
  SELECT vec_id, {S.cosine_sql('embedding', 'qv')} AS cos
  FROM embeddings, q
  WHERE vec_id % 7 <> 0
  ORDER BY cos DESC, vec_id ASC
  LIMIT 10)
SELECT phase, vec_id, cos
FROM topk, (VALUES ('tombstoned'), ('compacted')) AS p(phase)
ORDER BY phase, vec_id
"""

SPECS.append(
    QuerySpec(
        "q271_ivf_delete",
        q271_ivf_delete,
        Q271_SQL,
        "IVF deletion vectors: tombstone-sidecar search + list-pruned "
        "compaction both equal brute force over survivors",
    )
)


# --- q290: SemDeDup — semantic dedup via cluster-confined cosine pruning ----
# The embedding-space analog of Abbas et al. 2023 (SemDeDup, public):
# assign every vector to its nearest centroid, then prune near-duplicate
# PAIRS only WITHIN a cluster — the quadratic compare never crosses
# cluster boundaries, so at 100 TB the pair generation is bounded by the
# largest cluster, not the corpus (same confinement argument as q159's
# LSH buckets, but with learned/derived centroids instead of random
# hyperplanes).  To keep a hash-exact DuckDB oracle, the "training" is a
# deterministic seeded mean: centroid_j = elementwise SUM of the scaled
# int embeddings with vec_id%8==j (cosine is scale-invariant, so the sum
# stands in for the mean exactly); assignment and the pair verify are
# exact int64 dots + IEEE sqrt/divide, identical on both engines.  The
# corpus is salted with perturbed copies (vec_id+100000, coords scaled by
# 1±1%) so genuine near-dups (cos≈0.99997) exist at every sf — natural
# pairs top out at cos≈0.51 on this data, so the 0.9 threshold cleanly
# separates.  Reference scope: mytile stores the vectors (SURVEY §2
# driver-added LLM tier); the dedup semantics follow the public paper.
_Q290_PERT_SPARK = (
    "transform(embedding, (x, i) -> CAST(x AS DOUBLE)"
    " * (1.0D + (CAST(i % 5 AS DOUBLE) - 2.0D) / 200.0D))"
)
# DuckDB lambda indexes are 1-based; (i-1) aligns the factor cycle.
_Q290_PERT_SQL = (
    "list_transform(embedding, (x, i) -> CAST(x AS DOUBLE)"
    " * (1.0 + (CAST((i - 1) % 5 AS DOUBLE) - 2.0) / 200.0))"
)
_Q290_THRESH = 0.9


def q290_semdedup(spark, sf_dir):
    # Library operators (functions/similarity.py): quantized_with_norm
    # stages qv + nrm once per row (one interpreted dot per PAIR instead
    # of three — the q159/q173 staging lesson), seeded_centroids builds
    # 32 deterministic clusters (pair work scales ~N^2/k), and
    # semdedup_pairs does broadcast argmax assignment + the
    # cluster-confined equi-join prune.
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = e.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(_Q290_PERT_SPARK).alias("embedding"),
    )
    corpus = S.quantized_with_norm(
        e.unionByName(copies), "embedding"
    ).select("vec_id", "qv", "nrm")
    cents = S.seeded_centroids(
        e.filter(F.col("vec_id") < 256), "vec_id", "embedding", k=32
    )
    return S.semdedup_pairs(
        corpus, cents, "vec_id", threshold=_Q290_THRESH
    ).orderBy("kept", "dropped")


Q290_SQL = f"""
WITH corpus AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(ROUND(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
  FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform({_Q290_PERT_SQL}, x ->
           CAST(ROUND(x * 10000.0) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id % 7 = 0),
normed AS (
  SELECT vec_id, qv, SQRT({S.qdot_sql('qv', 'qv')}) AS nrm FROM corpus),
cent_comps AS (
  SELECT vec_id % 32 AS j, CAST(i - 1 AS BIGINT) AS dim,
         SUM({S._scaled_int_sql('embedding[i]')}) AS cx
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
  WHERE vec_id < 256 GROUP BY 1, 2),
cents AS (
  SELECT j, cv, SQRT({S.qdot_sql('cv', 'cv')}) AS cnrm FROM (
    SELECT j, list(cx ORDER BY dim) AS cv FROM cent_comps GROUP BY j)),
scored AS (
  SELECT vec_id, qv, nrm, j,
         ({S.qdot_sql('qv', 'cv')} / (nrm * cnrm)) AS cosc
  FROM normed, cents),
assigned AS (
  SELECT vec_id, qv, nrm, j AS cluster FROM scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY cosc DESC, j ASC) = 1)
SELECT a.vec_id AS kept, b.vec_id AS dropped,
       CAST(a.cluster AS BIGINT) AS cluster,
       ({S.qdot_sql('a.qv', 'b.qv')} / (a.nrm * b.nrm)) AS cos
FROM assigned a JOIN assigned b
  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE ({S.qdot_sql('a.qv', 'b.qv')} / (a.nrm * b.nrm)) >= {_Q290_THRESH}
ORDER BY kept, dropped
"""

SPECS.append(
    QuerySpec(
        "q290_semdedup",
        q290_semdedup,
        Q290_SQL,
        "SemDeDup: centroid-assigned, cluster-confined cosine near-dup prune",
    )
)


# --- q300: multi-tier dedup FUNNEL (exact -> semantic) ----------------------
# The cascade real corpus pipelines run (Dolma/FineWeb practice): cheap
# exact dedup first, then embedding-space SemDeDup over the SURVIVORS —
# each tier only pays for what the previous one let through.  The corpus
# is salted with both duplicate kinds: byte-identical copies
# (doc_id+200000, caught by tier 1 for the cost of one md5 groupBy) and
# semantically-near copies (doc_id+100000, text perturbed so tier 1
# CANNOT catch them, embedding perturbed ~1% so tier 2 does).  Outputs
# are the per-tier removal counts and a survivor id-checksum, all
# recomputed exactly by the oracle — composition of q62 (exact) and
# q290 (SemDeDup) machinery, library operators end to end.
def q300_dedup_funnel(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    exact_copies = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    sem_copies_d = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" ~")).alias("text"),
    )
    corpus = d.unionByName(exact_copies).unionByName(sem_copies_d)

    # tier 1: exact — keep the min doc_id of every identical-text group
    hashed = corpus.withColumn("th", F.md5(F.col("text").cast("binary")))
    keeps = hashed.groupBy("th").agg(F.min("doc_id").alias("keep_id"))
    s1 = hashed.join(
        F.broadcast(keeps),
        (hashed.th == keeps.th) & (hashed.doc_id == keeps.keep_id),
    ).select("doc_id")

    # tier 2: SemDeDup over survivors that have an embedding
    sem_copies_e = e.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(_Q290_PERT_SPARK).alias("embedding"),
    )
    emb_corpus = e.unionByName(sem_copies_e).join(
        s1.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    cents = S.seeded_centroids(
        e.filter(F.col("vec_id") < 256), "vec_id", "embedding", k=32
    )
    dropped2 = (
        S.semdedup_pairs(
            S.quantized_with_norm(emb_corpus, "embedding").select(
                "vec_id", "qv", "nrm"
            ),
            cents,
            "vec_id",
            threshold=_Q290_THRESH,
        )
        .select("dropped")
        .distinct()
    )

    n_corpus = corpus.count()
    n_s1 = s1.count()
    n_d2 = dropped2.count()
    idsum = (
        s1.join(
            dropped2.select(F.col("dropped").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        .agg(F.sum("doc_id"))
        .collect()[0][0]
    )
    return ldf(spark,
        [
            ("survivor_idsum", int(idsum)),
            ("survivors", int(n_s1 - n_d2)),
            ("tier1_removed", int(n_corpus - n_s1)),
            ("tier2_removed", int(n_d2)),
        ],
        "metric string, value long",
    )


Q300_SQL = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id + 100000, text || ' ~' FROM documents WHERE doc_id % 7 = 0),
keeps AS (SELECT MIN(doc_id) AS doc_id FROM docs GROUP BY text),
s1 AS (SELECT doc_id FROM keeps),
emb AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(ROUND(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
  FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform({_Q290_PERT_SQL}, x ->
           CAST(ROUND(x * 10000.0) AS BIGINT))
  FROM embeddings WHERE vec_id % 7 = 0),
ec AS (SELECT vec_id, qv FROM emb JOIN s1 ON emb.vec_id = s1.doc_id),
normed AS (SELECT vec_id, qv, SQRT({S.qdot_sql('qv', 'qv')}) AS nrm FROM ec),
cent_comps AS (
  SELECT vec_id % 32 AS j, CAST(i - 1 AS BIGINT) AS dim,
         SUM({S._scaled_int_sql('embedding[i]')}) AS cx
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
  WHERE vec_id < 256 GROUP BY 1, 2),
cents AS (
  SELECT j, cv, SQRT({S.qdot_sql('cv', 'cv')}) AS cnrm FROM (
    SELECT j, list(cx ORDER BY dim) AS cv FROM cent_comps GROUP BY j)),
assigned AS (
  SELECT vec_id, qv, nrm, j AS cluster FROM (
    SELECT vec_id, qv, nrm, j,
           ({S.qdot_sql('qv', 'cv')} / (nrm * cnrm)) AS cosc
    FROM normed, cents)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY cosc DESC, j ASC) = 1),
dropped2 AS (
  SELECT DISTINCT b.vec_id AS doc_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ({S.qdot_sql('a.qv', 'b.qv')} / (a.nrm * b.nrm)) >= {_Q290_THRESH}),
stats AS (
  SELECT (SELECT COUNT(*) FROM docs) AS n_corpus,
         (SELECT COUNT(*) FROM s1) AS n_s1,
         (SELECT COUNT(*) FROM dropped2) AS n_d2,
         (SELECT SUM(doc_id) FROM s1
          WHERE doc_id NOT IN (SELECT doc_id FROM dropped2)) AS idsum)
SELECT * FROM (
  SELECT 'survivor_idsum' AS metric, CAST(idsum AS BIGINT) AS value FROM stats
  UNION ALL SELECT 'survivors', CAST(n_s1 - n_d2 AS BIGINT) FROM stats
  UNION ALL SELECT 'tier1_removed', CAST(n_corpus - n_s1 AS BIGINT) FROM stats
  UNION ALL SELECT 'tier2_removed', CAST(n_d2 AS BIGINT) FROM stats
) ORDER BY metric
"""

SPECS.append(
    QuerySpec(
        "q300_dedup_funnel",
        q300_dedup_funnel,
        Q300_SQL,
        "multi-tier dedup cascade: exact md5 tier, then SemDeDup over "
        "the survivors — each tier pays only for what got through",
    )
)
