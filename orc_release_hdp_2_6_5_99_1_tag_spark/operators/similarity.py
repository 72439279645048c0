"""Similarity search over embedding columns (SURVEY §2.13):
brute-force cosine top-k as the exactness baseline, plus two scale
paths — sign-LSH bucketing (v2) and IVF inverted lists with a coarse
quantizer (v3).

Scale notes: brute force is O(queries × corpus) — fine when the query
side is small enough to broadcast (it is, here and in the typical
"dedupe this batch against the corpus" shape); the dot products stay
JVM-side via zip_with/aggregate (no Python). The LSH variant buckets
the corpus once (narrow map), turning each probe into a bucket-local
scan — the 100 TB pattern where a full cross join is impossible.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

_N_QUERIES = 5
_TOP_K = 3
_LSH_BITS = 8


def _dot(a, b):
    """Dot product of two float-array columns in double, list-order
    summation (bit-identical in the oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    """L2 norm of a float-array column (same summation order as the
    per-pair variant, so factoring it out is bit-identical)."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def _cosine(a, b, na=None, nb=None):
    """Cosine similarity of two float-array columns. Pass precomputed
    per-row norm columns (na/nb) to avoid recomputing the corpus norm
    once per query pair — at N queries x M corpus rows that turns
    3 interpreted aggregates per pair into 1."""
    na = _norm(a) if na is None else na
    nb = _norm(b) if nb is None else nb
    return _dot(a, b) / (na * nb)


def v1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the first 5 vectors are the queries;
    top-3 corpus neighbors each (including self, similarity 1)."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("c_norm"))
    q = corpus.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("c_norm").alias("q_norm"),
    )
    pairs = F.broadcast(q).crossJoin(corpus)
    sim = pairs.select(
        "query_id",
        "vec_id",
        _cosine(
            F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("c_norm")
        ).alias("cosine_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_raw"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            "query_id",
            "vec_id",
            F.format_string("%.4f", F.col("cosine_raw")).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


V1_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {_N_QUERIES}
), sim AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cosine_raw
  FROM q CROSS JOIN embeddings e
), ranked AS (
  SELECT query_id, vec_id, cosine_raw,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, vec_id ASC) AS rank
  FROM sim
)
SELECT query_id, vec_id, printf('%.4f', cosine_raw) AS cosine, rank FROM ranked
WHERE rank <= {_TOP_K} ORDER BY query_id, rank
"""


def _sign_bucket(col):
    """Axis-aligned sign-LSH bucket: bit i = sign(embedding[i]),
    i in [0, _LSH_BITS)."""
    bucket = None
    for i in range(_LSH_BITS):
        bit = F.when(F.element_at(col, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def v2_lsh_bucketed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed approximate NN with MULTI-PROBE: corpus bucketed by 8
    sign bits; each query scans its own bucket PLUS the 8 buckets at
    Hamming distance 1 (~9/256 of the corpus) for the nearest non-self
    neighbor. Single-bucket probing is brittle exactly where it
    matters — a true near-duplicate whose perturbation flips ONE
    near-zero sign dim lands one bucket away and is unfindable
    (measured: recall@1 was 0.60 at 1M on planted near-dups);
    distance-1 probing is the standard multi-probe LSH recall lever
    (Lv et al. 2007) at 9× the probe cost, still a ~3% corpus scan.
    Returns (query, neighbor, cosine, bucket) — approximate by
    construction; the oracle replicates the same probe set."""
    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.select(
        "vec_id",
        "embedding",
        _sign_bucket(F.col("embedding")).alias("bucket"),
        _norm(F.col("embedding")).alias("c_norm"),
    )
    q = bucketed.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
        F.col("c_norm").alias("q_norm"),
    )
    # each query explodes to its probe set: own bucket + one-bit flips
    # (buckets are distinct, so no candidate is seen twice)
    probes = q.select(
        "query_id",
        "q_emb",
        "q_norm",
        F.explode(
            F.array(
                F.col("q_bucket"),
                *[
                    F.col("q_bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(_LSH_BITS)
                ],
            )
        ).alias("probe"),
    )
    pairs = F.broadcast(probes).join(
        bucketed,
        (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("query_id")),
    )
    sim = pairs.select(
        "query_id",
        "vec_id",
        "bucket",
        _cosine(
            F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("c_norm")
        ).alias("cosine_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_raw"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .select(
            "query_id",
            "vec_id",
            F.format_string("%.4f", F.col("cosine_raw")).alias("cosine"),
            "bucket",
        )
        .orderBy("query_id")
    )


_IVF_K = 16       # coarse centroids
_IVF_NPROBE = 4   # clusters probed per query


def v3_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate NN: the inverted-file counterpart to v2's
    sign-LSH. Coarse quantizer = 16 deterministic centroid vectors
    (corpus rows 100..115 — a stand-in for k-means output, which would
    be data-dependent and oracle-incomparable). Every corpus vector is
    assigned to its nearest centroid (one narrow broadcast-cosine map
    + an argmin); each query probes its `nprobe`=4 nearest centroids
    and scans only those inverted lists (~nprobe/K of the corpus).

    Scale shape: assignment is corpus × K broadcast cosines — a narrow
    map whose argmin here uses a row_number window on vec_id (swap to
    a single-pass max_by at 100 TB, same result); the probe join hits
    only the probed clusters, never the full corpus.
    """
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("e_norm"))
    cents = corpus.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + _IVF_K)).select(
        (F.col("vec_id") - 100).alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("e_norm").alias("cent_norm"),
    )
    # inverted lists: nearest centroid per corpus vector (corpus norm
    # computed once per row, not once per centroid pair)
    assign_sim = corpus.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "e_norm",
        "centroid_id",
        _cosine(
            F.col("embedding"), F.col("c_emb"), F.col("e_norm"), F.col("cent_norm")
        ).alias("ac"),
    )
    wa = Window.partitionBy("vec_id").orderBy(F.desc("ac"), F.asc("centroid_id"))
    lists = (
        assign_sim.withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") == 1)
        .select("vec_id", "embedding", "e_norm", "centroid_id")
    )
    # probe: nprobe nearest centroids per query
    q = corpus.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("e_norm").alias("q_norm"),
    )
    probe_sim = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "q_emb",
        "q_norm",
        "centroid_id",
        _cosine(F.col("q_emb"), F.col("c_emb"), F.col("q_norm"), F.col("cent_norm")).alias("pc"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("pc"), F.asc("centroid_id"))
    probes = (
        probe_sim.withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= _IVF_NPROBE)
        .select("query_id", "q_emb", "q_norm", "centroid_id")
    )
    # search only the probed inverted lists
    pairs = F.broadcast(probes).join(lists, "centroid_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sim = pairs.select(
        "query_id",
        "vec_id",
        "centroid_id",
        _cosine(F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("e_norm")).alias("c"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            "query_id",
            "vec_id",
            F.format_string("%.4f", F.col("c")).alias("cosine"),
            "centroid_id",
            "rank",
        )
        .orderBy("query_id", "rank")
    )


V3_ORACLE = f"""
WITH cents AS (
  SELECT vec_id - 100 AS centroid_id, embedding AS c_emb
  FROM embeddings WHERE vec_id >= 100 AND vec_id < {100 + _IVF_K}
), assign_sim AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[])) AS ac
  FROM embeddings e CROSS JOIN cents c
), lists AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ac DESC, centroid_id ASC) AS arn
    FROM assign_sim
  ) WHERE arn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {_N_QUERIES}
), probes AS (
  SELECT query_id, q_emb, centroid_id FROM (
    SELECT q.query_id, q.q_emb, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[])) DESC,
                      c.centroid_id ASC
           ) AS prn
    FROM q CROSS JOIN cents c
  ) WHERE prn <= {_IVF_NPROBE}
), sim AS (
  SELECT p.query_id, l.vec_id, l.centroid_id,
         list_cosine_similarity(CAST(p.q_emb AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])) AS c
  FROM probes p JOIN lists l ON l.centroid_id = p.centroid_id AND l.vec_id != p.query_id
)
SELECT query_id, vec_id, printf('%.4f', c) AS cosine, centroid_id, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) AS rank
  FROM sim
) WHERE rank <= {_TOP_K} ORDER BY query_id, rank
"""


def d6_embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: an incoming batch (vec_id < 200)
    checked against the whole corpus for cosine ≥ 0.4 — the
    dedupe-new-data-against-corpus shape. Batch side broadcasts; the
    corpus is scanned once. (This synthetic corpus has no planted
    vector dups — threshold 0.4 surfaces the near-collision tail; the
    operator is the contract, the oracle replicates it.)"""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("c_norm"))
    batch = corpus.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("new_id"),
        F.col("embedding").alias("new_emb"),
        F.col("c_norm").alias("b_norm"),
    )
    pairs = F.broadcast(batch).crossJoin(corpus).filter(F.col("vec_id") != F.col("new_id"))
    sim = pairs.select(
        "new_id",
        "vec_id",
        _cosine(F.col("new_emb"), F.col("embedding"), F.col("b_norm"), F.col("c_norm")).alias("c"),
    )
    return (
        sim.filter(F.col("c") >= 0.4)
        .select("new_id", "vec_id", F.format_string("%.4f", F.col("c")).alias("cosine"))
        .orderBy("new_id", "vec_id")
    )


D6_ORACLE = """
WITH batch AS (
  SELECT vec_id AS new_id, embedding AS new_emb FROM embeddings WHERE vec_id < 200
), sim AS (
  SELECT b.new_id, e.vec_id,
         list_cosine_similarity(CAST(b.new_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS c
  FROM batch b CROSS JOIN embeddings e
  WHERE e.vec_id != b.new_id
)
SELECT new_id, vec_id, printf('%.4f', c) AS cosine
FROM sim WHERE c >= 0.4 ORDER BY new_id, vec_id
"""


def _sql_bucket(col: str) -> str:
    return " + ".join(
        f"(CASE WHEN {col}[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(_LSH_BITS)
    )


V2_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket
  FROM b WHERE vec_id < {_N_QUERIES}
), probes AS (
  SELECT query_id, q_emb,
         unnest([q_bucket, {', '.join(f'xor(q_bucket, {1 << i})' for i in range(_LSH_BITS))}]) AS probe
  FROM q
), sim AS (
  SELECT p.query_id, b.vec_id, b.bucket,
         list_cosine_similarity(CAST(p.q_emb AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cosine_raw
  FROM probes p JOIN b ON b.bucket = p.probe AND b.vec_id != p.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine_raw, bucket,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, vec_id ASC) AS rank
  FROM sim
)
SELECT query_id, vec_id, printf('%.4f', cosine_raw) AS cosine, bucket FROM ranked WHERE rank = 1 ORDER BY query_id
"""


# ---------------------------------------------------------------------------
# v4: product quantization (PQ) ANN — the memory-bound 100 TB scale path
# ---------------------------------------------------------------------------

_PQ_M = 4        # subspaces
_PQ_DSUB = 16    # dims per subspace (64-dim embeddings)
_PQ_K = 8        # codewords per subspace. Measured (round 5): doubling
                 # to 16 left recall@5 at the 1M hash-random stress
                 # point unchanged (0.33) — quantization error on
                 # clusterless data is the floor, not codebook size —
                 # so the cheaper codebook stays.
_PQ_NQ = 3       # queries
_PQ_TOPK = 5
_PQ_PROBE = 4    # refinement: nearest cells (by ADC) whose occupants
                 # are exactly reranked. Measured (round 6, planted-
                 # cluster corpus): ADC alone collapses — every blob
                 # member shares one code tuple, so within-cell rank
                 # is the vec_id tie-break and recall@5 was 0.20; the
                 # cell-probe + exact rerank is the FAISS IVFADC+R
                 # shape and restores recall without touching the
                 # memory-bound coarse pass.


def _pq_sqdist_py(a, b):
    """Driver-side squared L2 matching the oracle's
    POWER(list_distance, 2): dim-order sum, sqrt'd then squared so the
    float path is identical on both engines."""
    import math

    s = 0.0
    for x, y in zip(a, b):
        s += (x - y) * (x - y)
    return math.sqrt(s) ** 2


def v4_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: split 64-dim embeddings into 4×16-dim
    subspaces; per subspace learn an 8-codeword codebook (first-8 init
    + one Lloyd update, the deterministic k1 recipe); encode the corpus
    as 4 byte-sized codes; answer queries in two stages: (1) asymmetric
    distance (ADC) — a per-query 4×8 lookup table of subspace
    distances, summed via code indexing, never touching the original
    vectors — ranks the PQ CELLS (distinct code tuples, ≤ K^M = 4096
    rows, kilobytes); (2) the occupants of the _PQ_PROBE nearest cells
    are fetched and exactly reranked by full-dimension cosine. This is
    the FAISS IVFADC+R refinement: ADC is constant within a cell, so
    on clustered corpora (where whole blobs share one code tuple) ADC
    alone cannot rank within the top cell — measured recall@5 was 0.20
    on the planted-cluster stress corpus before the rerank stage.

    This is the memory-bound ANN shape for 100 TB: the coarse pass
    reads 4 small codes per row (32× compression at these parameters)
    and the per-row cost is 4 table lookups; codebooks, LUTs, and the
    ranked cell table are kilobyte model state. The LUT is
    broadcast-hash-joined against the distinct-cells table (tiny) and
    the winning cells are broadcast back against the codes scan, so
    only ≈ _PQ_PROBE·n/K^M rows (balanced codebooks) reach the exact
    join — ONE plan regardless of query batch size (no per-query plan
    union; Catalyst analysis cost is constant in NQ). Top-k per query
    is a rank-limit window over candidates only (Spark's
    WindowGroupLimit pushes the k-cap into the per-partition sort).
    Codebook training is one scan per Lloyd round, same as k1.

    Oracle: full SQL replay — per-subspace CTE chains for init/assign/
    update/encode, LUT via POWER(list_distance,2), cell ADC as the
    same left-associated 4-term sum, rerank via
    list_cosine_similarity.
    """
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.clustering import (
        _argmin_cid_sql,
    )

    from pyspark import StorageLevel

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # persisted across the training jobs (init collect, assignment,
    # codebook update, final encode) — the MLlib iterative-input
    # pattern; MEMORY_AND_DISK spills rather than OOMs at scale
    e = e.persist(StorageLevel.MEMORY_AND_DISK)

    def code_expr(books, m):
        """Argmin codeword id for subspace m against literal codebook
        `books[m]` (struct ordering ties to the lower cid). Built as
        ONE parsed SQL string — the py4j-per-literal construction cost
        of the 4×8×16 codebook tree was 2.8s per build, measured r13
        (see clustering._lit_vec_sql); the analyzed plan is identical."""
        sub = f"slice(v, {m * _PQ_DSUB + 1}, {_PQ_DSUB})"
        return F.expr(_argmin_cid_sql(sub, books[m]))

    # init codebooks: ONE collect of the first-K vectors, sliced per
    # subspace driver-side (k1's first-k recipe, all subspaces at once)
    init_rows = sorted(
        (int(r["vec_id"]), list(r["v"]))
        for r in e.filter(F.col("vec_id") < _PQ_K).collect()
    )
    books0 = [
        [(cid, v[m * _PQ_DSUB : (m + 1) * _PQ_DSUB]) for cid, v in init_rows]
        for m in range(_PQ_M)
    ]

    # one Lloyd update for ALL subspaces in a single distributed job:
    # assign all M codes in one projection, widen each vector to M
    # (subspace, cluster, subvector) rows — NOT corpus×dim rows — and
    # run k1's codegen'd per-dimension-sum aggregation per (subspace,
    # cluster): count + _PQ_DSUB static sum(sub[i]) expressions, rows
    # one-per-subvector, no posexplode anywhere in the update plan.
    assigned0 = e.select(
        "v", F.array(*[code_expr(books0, m) for m in range(_PQ_M)]).alias("cs")
    )
    sub_rows = assigned0.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.element_at("cs", m + 1).alias("cluster"),
                        F.slice("v", m * _PQ_DSUB + 1, _PQ_DSUB).alias("sub"),
                    )
                    for m in range(_PQ_M)
                ]
            )
        )
    )
    cb_rows = (
        sub_rows.groupBy("m", "cluster")
        .agg(
            F.count("*").alias("n"),
            *[F.expr(f"sum(sub[{i}]) AS s{i}") for i in range(_PQ_DSUB)],
        )
        .select(
            "m",
            "cluster",
            F.expr(
                "array(" + ",".join(f"s{i} / n" for i in range(_PQ_DSUB)) + ")"
            ).alias("c"),
        )
        .collect()
    )
    books = [dict() for _ in range(_PQ_M)]
    for r in cb_rows:
        books[r["m"]][r["cluster"]] = list(r["c"])
    codebooks = [sorted(b.items()) for b in books]

    # the encoded corpus is referenced twice below (the distinct-cells
    # ADC stage and the winning-cell candidate join), and uncached each
    # reference re-evaluates the M x K x dsub argmin encode over every
    # row. codes is vec_id + M bytes — exactly the artifact a PQ
    # deployment STORES as its index — so one materialization is the
    # honest shape (r14 paired A/B in OPTIMIZATION_r14.md);
    # MEMORY_AND_DISK spills rather than OOMs at corpus scale.
    codes = e.select(
        "vec_id", *[code_expr(codebooks, m).alias(f"c{m}") for m in range(_PQ_M)]
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # serving: LUT[qid][m][cid] = sqdist(query subvector, codeword),
    # materialized as one tiny DataFrame (NQ × M × K rows — kilobytes)
    # and broadcast-joined per subspace against the codes scan. The
    # query vectors are a prefix of the already-collected init rows
    # (_PQ_NQ < _PQ_K) — no second collect job.
    lut_rows = [
        (int(qid), m, int(cid), _pq_sqdist_py(qv[m * _PQ_DSUB : (m + 1) * _PQ_DSUB], c))
        for qid, qv in init_rows[:_PQ_NQ]
        for m in range(_PQ_M)
        for cid, c in codebooks[m]
    ]
    lut = spark.createDataFrame(lut_rows, "query_id int, m int, code int, d double")
    code_cols = [f"c{m}" for m in range(_PQ_M)]

    # stage 1: ADC over CELLS (distinct code tuples — ≤ K^M rows, one
    # narrow shuffle of 4 small ints), not over corpus rows: ADC is
    # constant within a cell, so ranking cells is the whole signal.
    cadc = codes.select(*code_cols).distinct()
    for m in range(_PQ_M):
        lm = lut.filter(F.col("m") == m).select(
            F.col("query_id").alias(f"q{m}"),
            F.col("code").alias(f"code{m}"),
            F.col("d").alias(f"d{m}"),
        )
        cond = F.col(f"c{m}") == F.col(f"code{m}")
        if m > 0:
            cond = (F.col("q0") == F.col(f"q{m}")) & cond
        cadc = cadc.join(F.broadcast(lm), cond)
    adc = F.col("d0")
    for m in range(1, _PQ_M):
        adc = adc + F.col(f"d{m}")  # left-associated, same as the oracle's sum
    wc = Window.partitionBy("query_id").orderBy("adc_raw", *code_cols)
    top_cells = (
        cadc.select(F.col("q0").alias("query_id"), *code_cols, adc.alias("adc_raw"))
        .withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= _PQ_PROBE)
        .select("query_id", *code_cols)
    )

    # stage 2: the winning cells broadcast back against the codes scan
    # (candidates ≈ _PQ_PROBE·n/K^M rows with balanced codebooks);
    # only candidates reach the exact-vector join and the rerank
    # window — the corpus itself never shuffles.
    cand = codes.join(F.broadcast(top_cells), on=code_cols).select(
        "query_id", "vec_id"
    )
    qdf = spark.createDataFrame(
        [(int(qid), [float(x) for x in qv]) for qid, qv in init_rows[:_PQ_NQ]],
        "query_id int, qv array<double>",
    )
    scored = (
        cand.join(e, "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "vec_id",
            _cosine(F.col("qv"), F.col("v")).alias("cos_full"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_full"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select(
            "query_id",
            "rank",
            "vec_id",
            F.format_string("%.4f", F.col("cos_full")).alias("cosine"),
        )
        .orderBy("query_id", "rank")
    )


def _pq_oracle() -> str:
    subs = []
    for m in range(_PQ_M):
        a, b = m * _PQ_DSUB + 1, (m + 1) * _PQ_DSUB
        subs.append(
            f"""cb0_{m} AS (
  SELECT vec_id AS cid, list_slice(v, {a}, {b}) AS c FROM e WHERE vec_id < {_PQ_K}
), as1_{m} AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(list_slice(e.v, {a}, {b}), c.c), c.cid) AS rn
    FROM e CROSS JOIN cb0_{m} c
  ) WHERE rn = 1
), cb1_{m} AS (
  SELECT cluster AS cid, list(mn ORDER BY i) AS c FROM (
    SELECT s.cluster, gs.i, AVG(list_slice(e.v, {a}, {b})[gs.i]) AS mn
    FROM as1_{m} s JOIN e USING (vec_id)
    CROSS JOIN (SELECT UNNEST(range(1, {_PQ_DSUB + 1})) AS i) gs
    GROUP BY s.cluster, gs.i
  ) GROUP BY cluster
), code_{m} AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(list_slice(e.v, {a}, {b}), c.c), c.cid) AS rn
    FROM e CROSS JOIN cb1_{m} c
  ) WHERE rn = 1
), lut_{m} AS (
  SELECT q.qid, c.cid, POWER(list_distance(list_slice(q.v, {a}, {b}), c.c), 2) AS d
  FROM q CROSS JOIN cb1_{m} c
)"""
        )
    code_joins = "\n  ".join(
        f"JOIN code_{m} k{m} ON k{m}.vec_id = ids.vec_id" for m in range(_PQ_M)
    )
    lut_joins = "\n  ".join(
        f"JOIN lut_{m} l{m} ON l{m}.qid = q.qid AND l{m}.cid = cl.c{m}"
        for m in range(_PQ_M)
    )
    cell_cols = ", ".join(f"k{m}.cluster AS c{m}" for m in range(_PQ_M))
    cell_names = ", ".join(f"c{m}" for m in range(_PQ_M))
    cell_match = " AND ".join(f"t.c{m} = k{m}.cluster" for m in range(_PQ_M))
    adc_sum = " + ".join(f"l{m}.d" for m in range(_PQ_M))
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS qid, v FROM e WHERE vec_id < {_PQ_NQ}
), {', '.join(subs)},
ids AS (SELECT vec_id FROM e),
cells AS (
  SELECT DISTINCT {cell_cols}
  FROM ids
  {code_joins}
), cell_adc AS (
  SELECT q.qid AS query_id, cl.*, ({adc_sum}) AS adc_raw
  FROM q CROSS JOIN cells cl
  {lut_joins}
), top_cells AS (
  SELECT query_id, {cell_names} FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_raw, {cell_names}) AS cr
    FROM cell_adc
  ) WHERE cr <= {_PQ_PROBE}
), cand AS (
  SELECT t.query_id, ids.vec_id
  FROM ids
  {code_joins}
  JOIN top_cells t ON {cell_match}
), rer AS (
  SELECT c.query_id, c.vec_id,
         list_cosine_similarity(q.v, e.v) AS cos_full,
         ROW_NUMBER() OVER (PARTITION BY c.query_id
                            ORDER BY list_cosine_similarity(q.v, e.v) DESC,
                                     c.vec_id ASC) AS rank
  FROM cand c
  JOIN e ON e.vec_id = c.vec_id
  JOIN q ON q.qid = c.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, printf('%.4f', cos_full) AS cosine
FROM rer WHERE rank <= {_PQ_TOPK} ORDER BY query_id, rank
"""


V4_ORACLE = _pq_oracle()


# ---------------------------------------------------------------------------
# v5: int8 scalar-quantized cosine top-k — the bandwidth-bound ANN tier
# ---------------------------------------------------------------------------

_SQ_SCALE = 127
_SQ_NQ = 5
_SQ_TOPK = 3
_SQ_RERANK = 32  # int8-tier candidates per query fed to the exact rerank


def _sq_quantize(col):
    """int8 scalar quantization: clamp to [-1, 1], scale by 127,
    floor(x+0.5) — floor instead of round() because the two engines'
    round() half-way modes need not agree, while floor is exact."""
    return F.transform(
        col,
        lambda x: F.floor(
            F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x.cast("double")))
            * _SQ_SCALE
            + F.lit(0.5)
        ).cast("bigint"),
    )


def v5_scalar_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) cosine retrieval WITH exact rerank
    (SQ+R, the FAISS `SQ8,Refine` serving shape): tier 1 scores the
    whole corpus in integer space — dot products and squared norms
    are EXACT int64 sums (no float accumulation order anywhere), so
    the candidate set is bit-identical across engines, partition
    layouts, and retries — and keeps the top 32 per query; tier 2
    reranks only those 32 with the exact double cosine (v1's formula)
    and returns the top 3.

    Why the rerank exists (round-6 stress finding): pure int8 top-3
    was 1.00 on the hash-random corpus but 0.67 on the planted-
    cluster one at 1M vectors. Root cause, measured: inside a dense
    cluster the true top-3 are separated by ~1e-4 in cosine while the
    int8 grid's per-dim rounding (step 1/127, and the cluster's
    ±0.05 noise spans only ~6 steps) perturbs each quantized cosine
    by more than that gap — the quantizer FINDS the cluster but
    cannot ORDER near-ties inside it. That is the textbook SQ
    limitation, and the production fix is exactly this: a cheap exact
    rerank over an integer-selected candidate slate (same design as
    v4's ADC+R). Post-fix recall@3 is 1.00 on both corpora at 1M
    (SCALE_STRESS.md).

    Scale shape: tier 1 = v1's (queries broadcast, ONE corpus scan,
    WindowGroupLimit rank cap); tier 2 touches queries × 32 rows —
    one candidate-filtered second scan (in a serving system, a
    point-fetch from the vector store), never a corpus pass."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", _sq_quantize(F.col("embedding")).alias("qv"))
    qn = F.sqrt(
        F.aggregate("qv", F.lit(0.0), lambda a, x: a + (x * x).cast("double"))
    )
    corpus = corpus.withColumn("nrm", qn)
    q = corpus.filter(F.col("vec_id") < _SQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = F.broadcast(q).crossJoin(corpus)
    dot = F.aggregate(
        F.zip_with("q_qv", "qv", lambda a, b: a * b), F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    sim = pairs.select(
        "query_id",
        "vec_id",
        (dot.cast("double") / (F.col("q_nrm") * F.col("nrm"))).alias("cos_q"),
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("cos_q"), F.asc("vec_id"))
    cands = (
        sim.withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= _SQ_RERANK)
        .select("query_id", "vec_id")
    )
    # tier 2: exact double cosine over the integer-selected slate
    full = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("c_norm"))
    qfull = full.filter(F.col("vec_id") < _SQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("c_norm").alias("q_norm"),
    )
    rer = (
        full.join(F.broadcast(cands), "vec_id")
        .join(F.broadcast(qfull), "query_id")
        .select(
            "query_id",
            "vec_id",
            _cosine(
                F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("c_norm")
            ).alias("cosine_raw"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_raw"), F.asc("vec_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= _SQ_TOPK)
        .select(
            "query_id",
            "vec_id",
            F.format_string("%.4f", F.col("cosine_raw")).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


V5_ORACLE = f"""
WITH qz AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(greatest(-1, least(1, x)) * {_SQ_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
), nz AS (
  SELECT vec_id, qv,
         sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
  FROM qz
), q AS (
  SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm FROM nz WHERE vec_id < {_SQ_NQ}
), sim AS (
  SELECT q.query_id, e.vec_id,
         CAST(list_sum(list_zip(q.q_qv, e.qv).apply(p -> p[1] * p[2])) AS DOUBLE)
           / (q.q_nrm * e.nrm) AS cos_q
  FROM q CROSS JOIN nz e
), cands AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_q DESC, vec_id ASC) AS rk1
    FROM sim
  ) WHERE rk1 <= {_SQ_RERANK}
), rer AS (
  SELECT c.query_id, c.vec_id,
         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS cosine_raw
  FROM cands c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings qe ON qe.vec_id = c.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine_raw,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_raw DESC, vec_id ASC) AS rank
  FROM rer
)
SELECT query_id, vec_id, printf('%.4f', cosine_raw) AS cosine, rank
FROM ranked WHERE rank <= {_SQ_TOPK} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# v6: two-tier retrieval — truncated-dim prefilter + exact rerank
# ---------------------------------------------------------------------------

_TT_DIMS = 32     # prefilter dimensionality (Matryoshka-style prefix)
_TT_CAND = 40     # tier-1 candidate FLOOR per query; the effective cap
                  # is max(40, ceil(n/1000)) — a fixed 40 at 1M vectors
                  # crowded true neighbors out of tier 1 (measured
                  # recall@3 fell 0.87 at 20k → 0.53 at 1M), while a
                  # 0.1%-of-corpus cap keeps tier-2 cost a bounded
                  # fraction and recall scale-stable
_TT_CAND_FRAC = 1000  # 1/frac of the corpus (0.1%)
_TT_NQ = 5
_TT_TOPK = 3


def v6_two_tier_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier retrieval: tier 1 scores every corpus vector with a
    cheap TRUNCATED-dimension cosine (the first 32 of 64 dims — the
    Matryoshka/MRL serving trick) and keeps max(40, ceil(n/1000))
    candidates per query; tier 2 reranks ONLY those candidates with
    the exact full-dim cosine. The final top-3 is exact whenever the
    true neighbors survive tier 1 (recall measured in tests — on
    MRL-TRAINED embeddings the prefix is engineered to be
    near-lossless; on this synthetic corpus the prefix carries
    dims'/dims of the signal, and the test asserts tier 1 beats
    random candidate selection by a wide margin rather than
    near-perfect recall).

    Scale: tier 1 touches half the bytes per row (at serving scale,
    a separate narrow column/file of truncated vectors — here a slice
    on the same scan); tier 2's exact work is queries × 0.1% of the
    corpus (floor 40) — the cap is scale-AWARE because a constant cap
    is scale-BROKEN: at 1M vectors the fixed 40 was crowded out by
    chance-high prefix cosines and recall@3 fell to 0.53. The corpus
    row count comes from parquet footer metadata (a count() over the
    scan statistics, not a data pass). Both tiers are rank-limit
    windows (WindowGroupLimit), queries broadcast, ONE data scan
    total."""
    e = load_table(spark, sf_dir, "embeddings")
    n_corpus = e.count()  # parquet metadata count — no data scan
    cand_k = max(_TT_CAND, -(-n_corpus // _TT_CAND_FRAC))
    corpus = e.select(
        "vec_id",
        "embedding",
        F.slice("embedding", 1, _TT_DIMS).alias("head"),
    )
    corpus = corpus.withColumn("n_full", _norm(F.col("embedding"))).withColumn(
        "n_head", _norm(F.col("head"))
    )
    q = corpus.filter(F.col("vec_id") < _TT_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("head").alias("q_head"),
        F.col("n_full").alias("qn_full"),
        F.col("n_head").alias("qn_head"),
    )
    pairs = F.broadcast(q).crossJoin(corpus)
    t1 = pairs.select(
        "query_id", "vec_id", "q_emb", "embedding", "qn_full", "n_full",
        _cosine(F.col("q_head"), F.col("head"), F.col("qn_head"), F.col("n_head")).alias("c_head"),
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("c_head"), F.asc("vec_id"))
    cand = t1.withColumn("r1", F.row_number().over(w1)).filter(F.col("r1") <= cand_k)
    t2 = cand.select(
        "query_id", "vec_id",
        _cosine(F.col("q_emb"), F.col("embedding"), F.col("qn_full"), F.col("n_full")).alias("c_full"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("c_full"), F.asc("vec_id"))
    return (
        t2.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= _TT_TOPK)
        .select(
            "query_id", "vec_id",
            F.format_string("%.4f", F.col("c_full")).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


V6_ORACLE = f"""
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         CAST(list_slice(embedding, 1, {_TT_DIMS}) AS DOUBLE[]) AS head
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS q_emb, head AS q_head FROM c WHERE vec_id < {_TT_NQ}
), t1 AS (
  SELECT q.query_id, c.vec_id, q.q_emb, c.emb,
         list_cosine_similarity(q.q_head, c.head) AS c_head,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(q.q_head, c.head) DESC,
                                     c.vec_id ASC) AS r1
  FROM q CROSS JOIN c
), t2 AS (
  SELECT query_id, vec_id,
         list_cosine_similarity(q_emb, emb) AS c_full,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY list_cosine_similarity(q_emb, emb) DESC,
                                     vec_id ASC) AS rank
  FROM t1 WHERE r1 <= GREATEST({_TT_CAND},
                               CAST(CEIL((SELECT COUNT(*) FROM embeddings)
                                         / {_TT_CAND_FRAC}.0) AS BIGINT))
)
SELECT query_id, vec_id, printf('%.4f', c_full) AS cosine, rank
FROM t2 WHERE rank <= {_TT_TOPK} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# v7: bucketed kNN JOIN (batch query side — no broadcastable query set)
# ---------------------------------------------------------------------------

_KNN_BITS = 4   # 16 buckets: coarser than v2's 8 — the query side is a
                # table, so candidates per bucket trade recall for the
                # per-bucket join cost, the tunable of every LSH join
_KNN_K = 3
_KNN_QUERY_LABEL = 0


def _knn_bucket(col):
    """Sign-LSH bucket over the first _KNN_BITS dims (v2's recipe at a
    coarser width)."""
    bucket = None
    for i in range(_KNN_BITS):
        bit = F.when(F.element_at(col, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def v7_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN JOIN: for EVERY label-0 vector, the 3 nearest
    label-non-0 vectors by cosine, candidates restricted to the same
    sign-LSH bucket. This is the two-TABLE retrieval shape (link every
    new document to its nearest corpus neighbors) where v1/v5's
    broadcast-the-queries plan is impossible — the query side is a
    constant FRACTION of the corpus, so it must shuffle, not
    broadcast.

    Spark-first: both sides compute their bucket in a narrow map, the
    candidate join is a plain shuffled EQUI-join on the bucket key
    (never BroadcastNestedLoopJoin / CartesianProduct — same rule as
    d17), and the top-k is a rank-limit window per query
    (WindowGroupLimit). Cost is Σ |Q_b|·|C_b| over buckets — the LSH
    join contract; at 100 TB the knobs are more bits (smaller
    buckets) and multi-probe, and a hot bucket salts the same way any
    skewed join key does.

    Oracle: identical bucketing + DuckDB list_cosine_similarity
    replay.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        _knn_bucket(F.col("embedding")).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    q = e.filter(F.col("label") == _KNN_QUERY_LABEL).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "bucket",
    )
    c = e.filter(F.col("label") != _KNN_QUERY_LABEL).select(
        "vec_id", "embedding", "nrm", "bucket"
    )
    pairs = q.join(c, "bucket").select(
        "query_id",
        "vec_id",
        _cosine(F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_K)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("vec_id").alias("neighbor_id"),
            F.format_string("%.4f", F.col("cos")).alias("cosine"),
        )
        .orderBy("query_id", "rank")
    )


def _knn_sql_bucket(col: str) -> str:
    return " + ".join(
        f"(CASE WHEN {col}[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_KNN_BITS)
    )


V7_ORACLE = f"""
WITH b AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
         {_knn_sql_bucket('embedding')} AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS q_emb, bucket FROM b
  WHERE label = {_KNN_QUERY_LABEL}
), c AS (
  SELECT vec_id, emb, bucket FROM b WHERE label <> {_KNN_QUERY_LABEL}
), pairs AS (
  SELECT q.query_id, c.vec_id,
         list_cosine_similarity(q.q_emb, c.emb) AS cos,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(q.q_emb, c.emb) DESC,
                                     c.vec_id ASC) AS rank
  FROM q JOIN c USING (bucket)
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id,
       printf('%.4f', cos) AS cosine
FROM pairs WHERE rank <= {_KNN_K} ORDER BY query_id, rank
"""


_HNM_ANCHORS = 8
_HNM_NEGS = 3


def v8_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding training: for each anchor
    (first 8 vectors), emit the top-1 SAME-label neighbor (the
    positive) and the top-3 highest-cosine DIFFERENT-label vectors
    (the hard negatives — the pairs that actually move a contrastive
    loss; random negatives are trivially separable). Self is excluded.

    One broadcast(anchors) x corpus pass computes every cosine once;
    positives and negatives come out of the same scored relation via
    a window partitioned by (anchor, kind). Ranking ties break on
    vec_id (the v1 discipline). At 100 TB the corpus side stays
    partition-parallel and nothing but the anchor batch is ever
    broadcast; with a large anchor set the same shape runs per
    anchor-shard, or v2/v3's bucketed variants pre-filter the
    candidate pool."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("c_norm")
    )
    q = corpus.filter(F.col("vec_id") < _HNM_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("q_emb"),
        F.col("c_norm").alias("q_norm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            F.when(F.col("label") == F.col("anchor_label"), F.lit("pos"))
            .otherwise(F.lit("neg"))
            .alias("kind"),
            _cosine(
                F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("c_norm")
            ).alias("cosine_raw"),
        )
    )
    w = Window.partitionBy("anchor_id", "kind").orderBy(
        F.desc("cosine_raw"), F.asc("vec_id")
    )
    keep = F.when(F.col("kind") == "pos", 1).otherwise(F.lit(_HNM_NEGS))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= keep)
        .select(
            "anchor_id",
            "kind",
            "rk",
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("cand_label"),
            F.format_string("%.4f", F.col("cosine_raw")).alias("cosine"),
        )
        .orderBy("anchor_id", "kind", "rk")
    )


V8_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS q_emb
  FROM embeddings WHERE vec_id < {_HNM_ANCHORS}
), scored AS (
  SELECT q.anchor_id,
         e.vec_id AS cand_id, e.label AS cand_label,
         CASE WHEN e.label = q.anchor_label THEN 'pos' ELSE 'neg' END AS kind,
         list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS cosine_raw
  FROM q JOIN embeddings e ON e.vec_id <> q.anchor_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY anchor_id, kind ORDER BY cosine_raw DESC, cand_id ASC) AS rk
  FROM scored
)
SELECT anchor_id, kind, CAST(rk AS INT) AS rk, cand_id, cand_label,
       printf('%.4f', cosine_raw) AS cosine
FROM ranked
WHERE rk <= CASE WHEN kind = 'pos' THEN 1 ELSE {_HNM_NEGS} END
ORDER BY anchor_id, kind, rk
"""


# ---------------------------------------------------------------------------
# v9: hybrid retrieval — BM25 (lexical) + cosine (dense) fused with
# Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

_RRF_K = 60       # the standard RRF damping constant (Cormack et al. 2009)
_RRF_POOL = 10    # per-system candidate pool depth fed into the fusion
_RRF_TOPK = 5


def v9_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion: each query has a
    lexical representation (the `_BM25_QUERIES` text, scored by
    x23's BM25 stage over `documents`) and a dense representation
    (the embedding of the same id over `embeddings`, doc_id = vec_id —
    the corpus linkage pipe4 uses); each system contributes its top-10
    ranked list and fusion scores rrf(d) = sum_s 1/(K + rank_s(d)),
    K=60 (Cormack, Clarke & Buettcher 2009). Output: fused top-5 per
    query with the number of systems that surfaced each hit.

    Cross-engine exactness: the fused score is an integer sum of
    floor(1e6/(K+rank)) contributions — ranks are integers, so the
    fusion is float-free; the dense ranking quantizes cosine to 1e-4
    (floor both engines) before ordering, the granularity v1's graded
    output already proved stable across Spark and DuckDB.

    Scale: each system's candidate generation is the already-audited
    shape (x23: broadcast-vocab-filtered posting shuffle; v1: broadcast
    query side, JVM-side dot products); the fusion itself touches only
    2 * POOL rows per query — a union + one tiny groupBy, no new
    full-corpus pass. This is the standard production layout for
    hybrid search at scale: fan out to the per-system top-k machinery,
    fuse rank lists, never join the full score matrices."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.text import (
        _BM25_QUERIES,
        bm25_scores,
    )

    qids = [qid for qid, _ in _BM25_QUERIES]
    lex_w = Window.partitionBy("query_id").orderBy(
        F.desc("score_ppm"), F.asc("doc_id")
    )
    lex = (
        bm25_scores(spark, sf_dir)
        .withColumn("rk", F.row_number().over(lex_w))
        .filter(F.col("rk") <= _RRF_POOL)
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "rk",
        )
    )
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("c_norm")
    )
    q = corpus.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").cast("int").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("c_norm").alias("q_norm"),
    )
    den_w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_q4"), F.asc("doc_id")
    )
    dense = (
        F.broadcast(q)
        .crossJoin(corpus)
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.floor(
                _cosine(
                    F.col("q_emb"),
                    F.col("embedding"),
                    F.col("q_norm"),
                    F.col("c_norm"),
                )
                * F.lit(10000.0)
            )
            .cast("bigint")
            .alias("cos_q4"),
        )
        .withColumn("rk", F.row_number().over(den_w))
        .filter(F.col("rk") <= _RRF_POOL)
        .select("query_id", "doc_id", "rk")
    )
    fused = (
        lex.unionByName(dense)
        .withColumn(
            "contrib",
            F.floor(F.lit(1000000.0) / (F.lit(_RRF_K) + F.col("rk"))).cast(
                "bigint"
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("contrib").alias("rrf_ppm"),
            F.count(F.lit(1)).alias("n_systems"),
        )
    )
    fuse_w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_ppm"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rk", F.row_number().over(fuse_w))
        .filter(F.col("rk") <= _RRF_TOPK)
        .select("query_id", "rk", "doc_id", "rrf_ppm", "n_systems")
        .orderBy("query_id", "rk")
    )


def _v9_oracle() -> str:
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.text import (
        _BM25_QUERIES,
        BM25_SCORES_CTE,
    )

    qids = ", ".join(str(qid) for qid, _ in _BM25_QUERIES)
    return f"""
WITH {BM25_SCORES_CTE},
lex AS (
  SELECT CAST(query_id AS INT) AS query_id, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score_ppm DESC, doc_id ASC) AS rk
  FROM scores
),
lexp AS (SELECT query_id, doc_id, rk FROM lex WHERE rk <= {_RRF_POOL}),
qe AS (
  SELECT CAST(vec_id AS INT) AS query_id, embedding FROM embeddings
  WHERE vec_id IN ({qids})
),
den AS (
  SELECT q.query_id, e.vec_id AS doc_id,
         CAST(FLOOR(list_cosine_similarity(
             CAST(q.embedding AS DOUBLE[]),
             CAST(e.embedding AS DOUBLE[])) * 10000.0) AS BIGINT) AS cos_q4
  FROM qe q CROSS JOIN embeddings e
),
denr AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos_q4 DESC, doc_id ASC) AS rk
  FROM den
),
denp AS (SELECT query_id, doc_id, rk FROM denr WHERE rk <= {_RRF_POOL}),
pool AS (SELECT * FROM lexp UNION ALL SELECT * FROM denp),
fused AS (
  SELECT query_id, doc_id,
         SUM(CAST(FLOOR(1000000.0 / ({_RRF_K} + rk)) AS BIGINT)) AS rrf_ppm,
         COUNT(*) AS n_systems
  FROM pool GROUP BY query_id, doc_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY rrf_ppm DESC, doc_id ASC) AS rk
  FROM fused
)
SELECT query_id, CAST(rk AS INT) AS rk, doc_id,
       CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
       CAST(n_systems AS BIGINT) AS n_systems
FROM ranked WHERE rk <= {_RRF_TOPK}
ORDER BY query_id, rk
"""


V9_ORACLE = _v9_oracle()
