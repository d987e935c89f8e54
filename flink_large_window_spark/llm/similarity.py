"""Embedding similarity search (SURVEY.md §2.10).

Scale notes (100 TB): brute-force top-k is a broadcast of the (small)
query side against a full scan of the corpus — O(Q·N·d) JVM-side fold,
no Python. The 10⁶+-vector path is LSH/IVF bucketing: assign each
vector to a coarse bucket (random-hyperplane sign hash below would be
the bucketing key), shuffle once by bucket, search only matching
buckets. Float-hash hazard rule (SURVEY §2.10): oracles compare only
integer columns (ids + rank), never raw similarity.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import query
from ..tables import memo, prep, table, table_sql_ref, temp_view_ref


def _with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """Add a double-cast vector and its L2 norm (sequential fold —
    deterministic accumulation order)."""
    d = F.col(vec).cast("array<double>")
    sumsq = F.aggregate(d, F.lit(0.0), lambda a, x: a + x * x)
    return df.withColumn("vec_d", d).withColumn("norm", F.sqrt(sumsq))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


@query(
    "sim_cosine_topk",
    oracle="""
    SELECT query_id, neighbor_id, rnk FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id ASC
             ) AS INTEGER) AS rnk
      FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
      JOIN embeddings e ON e.vec_id <> q.vec_id
    ) WHERE rnk <= 5
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors for the first 10 query vectors.

    Broadcast the 10 queries against the corpus; dot product and norms
    are JVM-side array folds (zip_with + aggregate) inside codegen.
    Integer-only output (query_id, neighbor_id, rnk) with vec_id
    tie-break per the float-hash rule.

    Single ``spark.sql`` statement since optimization r16 (the
    SCALING.md §12 build-cost remedy, VERDICT r15 item 6): the
    chained-DataFrame build cost 116–139 ms of driver time per call —
    27–35% of the key's fixture-scale wall — for the identical plan.
    The SQL folds are the same lambda expressions (`0D` literals keep
    the accumulators DOUBLE — bare `0.0` parses as DECIMAL in SQL),
    so every cos value is bit-identical: hash-equal at all three SFs.
    Interleaved A/B: 0.442/0.389 → 0.349/0.313 s medians, build
    119 → 34 ms.
    """
    prep(spark)
    emb = table_sql_ref(spark, sf_dir, "embeddings")
    return spark.sql(
        f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS vec_d FROM {emb}
        ),
        en AS (
          SELECT vec_id, vec_d,
                 SQRT(aggregate(vec_d, 0D, (acc, x) -> acc + x * x)) AS norm
          FROM e
        ),
        q AS (
          SELECT vec_id AS query_id, vec_d AS q_vec, norm AS q_norm
          FROM en WHERE vec_id < 10
        ),
        joined AS (
          SELECT /*+ BROADCAST(q) */ en.vec_id AS neighbor_id, q.query_id,
                 aggregate(zip_with(q.q_vec, en.vec_d, (x, y) -> x * y), 0D,
                           (acc, x) -> acc + x) / (q.q_norm * en.norm) AS cos
          FROM en CROSS JOIN q
          WHERE en.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, rnk FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
                 ) AS rnk
          FROM joined
        ) WHERE rnk <= 5
        """
    )


@query(
    "sim_knn_join_label",
    oracle="""
    WITH knn AS (
      SELECT query_id, label FROM (
        SELECT q.vec_id AS query_id, e.label,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                          e.vec_id ASC
               ) AS rnk
        FROM (SELECT * FROM embeddings WHERE vec_id < 20) q
        JOIN embeddings e ON e.vec_id <> q.vec_id
      ) WHERE rnk <= 5
    )
    SELECT query_id, label AS pred_label FROM (
      SELECT query_id, label,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY COUNT(*) DESC, label ASC
             ) AS r
      FROM knn GROUP BY query_id, label
    ) WHERE r = 1
    """,
)
def sim_knn_join_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority label per query vector (first 20 queries),
    deterministic mode tie-break on the smaller label."""
    prep(spark)
    emb = _with_norm(table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec_d").alias("q_vec"),
        F.col("norm").alias("q_norm"),
    )
    joined = (
        emb.select(F.col("vec_id").alias("neighbor_id"), "label", "vec_d", "norm")
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos", _dot(F.col("q_vec"), F.col("vec_d")) / (F.col("q_norm") * F.col("norm"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    knn = joined.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)
    wm = Window.partitionBy("query_id").orderBy(F.col("n").desc(), F.col("label").asc())
    return (
        knn.groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("r", F.row_number().over(wm))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("label").alias("pred_label"))
    )


# Coarse quantizer (shared by sim_ann_ivf_topk, sim_ann_ivf_multiprobe
# and dedup_embed_cosine_ivf): 16 centroids = a hash-spread sample over
# the corpus's DISTINCT vectors. Until round 7 this was "the first 16
# vec_ids", and a scale probe measured the failure mode head-of-table
# sampling invites (SCALING.md §13): 16 copies of one vector → 16
# identical centroids → EVERY row quantizes to one cell and the "IVF"
# pass runs one-task O(N²) — 45 s at 40 k vectors, 5× worse than brute
# force. Round-8 fix (VERDICT r7 item 2): group by the raw embedding
# (duplicates collapse to one candidate, keyed by MIN(vec_id)), then
# take the 16 representatives that sort first under a Knuth
# multiplicative hash of the representative id — a deterministic
# pseudo-random spread over distinct vectors, so duplicate-heavy or
# sorted data cannot concentrate the centroid set. Still fully
# DuckDB-mirrorable (the IVF_CENTS_SQL CTE below is the op-for-op
# oracle twin). The hash stays in exact int64 range for |id| < 2³¹
# (true for the synthetic corpora and every probe; production would
# swap in xxhash64), and both twins reduce ids to the SAME
# non-negative residue first (Spark pmod ≡ DuckDB (x%H+H)%H), so
# negative ids cannot split the engines. Remaining deployment
# deltas, documented not
# implemented: grow C ~ √N so per-cell work stays bounded, and
# k-means++-refine the sample when cell *balance* (not just
# distinctness) matters.
N_IVF_CENTROIDS = 16
_KNUTH = 2654435761  # 2^32 / golden ratio, the classic multiplicative hash
_HMOD = 2147483648  # 2^31: (id % 2^31) * KNUTH < 2^63 — ANSI-safe

# DuckDB CTE body for the same quantizer (f-string target for the three
# IVF oracles; `cents` exposes cent_id + c_vec exactly like the old
# first-16 CTE did, so downstream assignment SQL is unchanged).
# The double-% ( (x % H + H) % H ) folds DuckDB's sign-preserving %
# onto Spark's always-non-negative pmod, so the twins agree even on
# negative vec_ids (review r8: a plain % would sort negative
# remainders first in DuckDB only, silently picking different
# centroid sets). No-op on the (non-negative-id) fixtures.
IVF_CENTS_SQL = f"""cents AS (
      SELECT cent_id, c_vec FROM (
        SELECT rep_id AS cent_id, c_vec,
               ROW_NUMBER() OVER (
                 ORDER BY (((rep_id % {_HMOD}) + {_HMOD}) % {_HMOD}
                           * {_KNUTH}) % {_HMOD} ASC,
                          rep_id ASC
               ) AS cr
        FROM (SELECT embedding AS c_vec, MIN(vec_id) AS rep_id
              FROM embeddings GROUP BY embedding)
      ) WHERE cr <= {N_IVF_CENTROIDS}
    )"""


# Trained-quantizer memo: centroid selection is a derived artifact of
# an immutable corpus dir, so it is computed ONCE per (session, dir)
# through tables.memo and reused — exactly how IVF deploys (train the
# coarse quantizer once, assign forever). Without the memo every
# invocation pays the distinct-vector agg + top-16 as fixed stage
# overhead (~0.2 s at fixture scale regardless of data size). The memo
# holds the built 16-row DataFrame, not the rows: it must be an
# Arrow-materialized LocalTableScan (JVM-side), because the plain-tuple
# createDataFrame path yields a Python-backed `Scan ExistingRDD` that
# launches a Python worker on EVERY downstream execution (~0.2 s/run —
# measured; that would re-lose what the memo saves).
# tables.invalidate(sf_dir) drops it with the dir's other entries.


def ivf_centroids_sql_ref(spark: SparkSession, sf_dir: str) -> str:
    """FROM-able temp-view name over :func:`ivf_centroids`, for
    single-``spark.sql``-statement IVF queries (the SCALING.md §12
    build-cost remedy). The view wraps the memoized 16-row
    LocalTableScan, so referencing it in SQL is as cheap as the
    DataFrame handle. Registered through ``tables.temp_view_ref``, so
    it shares ``table_sql_ref``'s once-per-(session, dir) memo and
    ``tables.invalidate`` eviction (which also drops the trained
    quantizer, so the next call retrains)."""
    return temp_view_ref(
        spark, sf_dir, "flws_ivf_cents", lambda: ivf_centroids(spark, sf_dir)
    )


def ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of IVF_CENTS_SQL: (cent_id, c_vec, c_norm).

    Training pass (first call per session+dir): one agg keyed by the
    raw embedding (distinct vectors; MIN(vec_id) as the canonical
    representative), then a distributed top-16 by the Knuth hash —
    `orderBy().limit()` compiles to TakeOrderedAndProject, so centroid
    selection never funnels through a single task (the global-window
    alternative would). The group-by ships whole vectors through one
    shuffle; at 100 TB the key becomes a vector digest with the
    representative row joined back — same semantics, narrow rows.
    Subsequent calls replay the 16 memoized rows as a local relation
    (see the trained-quantizer memo note above) — float values
    round-trip exactly (collect/createDataFrame are both IEEE-double
    paths), so the plan downstream is bit-identical either way.
    """
    return memo(
        spark, sf_dir, "ivf_centroids", lambda: _train_centroids(spark, sf_dir)
    )


def _train_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    reps = (
        table(spark, sf_dir, "embeddings")
        .groupBy("embedding")
        .agg(F.min("vec_id").alias("rep_id"))
    )
    h = F.pmod(
        F.pmod(F.col("rep_id"), F.lit(_HMOD)) * F.lit(_KNUTH), F.lit(_HMOD)
    )
    # _with_norm is the single source of the double-cast + norm fold:
    # the quantizer's c_norm must stay expression-identical to the
    # row-side norm it is divided against (review r8 — an inline copy
    # could silently desynchronize if the fold ever changes).
    rows = [
        (int(r["cent_id"]), list(r["c_vec"]), float(r["c_norm"]))
        for r in (
            _with_norm(reps)
            .orderBy(h.asc(), F.col("rep_id").asc())
            .limit(N_IVF_CENTROIDS)
            .select(
                F.col("rep_id").alias("cent_id"),
                F.col("vec_d").alias("c_vec"),
                F.col("norm").alias("c_norm"),
            )
            .collect()  # ≤16 rows — the trained quantizer, not data
        )
    ]
    import pandas as pd

    schema = "cent_id bigint, c_vec array<double>, c_norm double"
    arrow_key = "spark.sql.execution.arrow.pyspark.enabled"
    # Fallback OFF (review r8): the default silent-fallback path would
    # hand back the Python-backed scan this memo exists to avoid — a
    # conversion failure must be an error, not a quiet 4x slowdown.
    fb_key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    prev, prev_fb = spark.conf.get(arrow_key), spark.conf.get(fb_key)
    # Both sets INSIDE the try (ADVICE r8): if the second set failed,
    # the finally still restores the first; note the window is not
    # thread-safe — a concurrent createDataFrame on the same session
    # would see Arrow-with-fallback-off, matching the memo's session-
    # keyed (single-threaded builder) contract.
    try:
        spark.conf.set(arrow_key, "true")
        spark.conf.set(fb_key, "false")
        cents = spark.createDataFrame(
            pd.DataFrame(
                {
                    "cent_id": [r[0] for r in rows],
                    "c_vec": [r[1] for r in rows],
                    "c_norm": [r[2] for r in rows],
                }
            ),
            schema,
        )
    finally:
        spark.conf.set(arrow_key, prev)
        spark.conf.set(fb_key, prev_fb)
    return cents


@query(
    "sim_ann_ivf_topk",
    oracle=f"""
    WITH {IVF_CENTS_SQL},
    assigned AS (
      SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding, c.c_vec) DESC,
                          c.cent_id ASC
               ) AS r
        FROM embeddings e CROSS JOIN cents c
      ) WHERE r = 1
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS q_vec, cent_id AS q_cent
      FROM assigned WHERE vec_id < 10
    )
    SELECT query_id, neighbor_id, rnk FROM (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(q.q_vec, a.embedding) DESC,
                        a.vec_id ASC
             ) AS INTEGER) AS rnk
      FROM assigned a
      JOIN q ON a.cent_id = q.q_cent AND a.vec_id <> q.query_id
    ) WHERE rnk <= 5
    """,
)
def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-5 — the >10⁶-vector scale path.

    Coarse quantizer: 16 deterministic centroids hash-spread over the
    corpus's DISTINCT vectors (ivf_centroids above — the round-8
    replacement for first-16 head sampling, whose duplicate-head
    one-cell collapse a round-7 probe measured; SCALING.md §13).
    Every vector is assigned to its nearest centroid (one broadcast
    join — linear); a query searches ONLY its own centroid's inverted
    list, turning O(Q·N) brute force into O(Q·N/C). Recall vs the
    exact brute-force top-5 is asserted in tests/test_llm_quality.py.
    The quantizer is deterministic, so the whole operator is DuckDB-
    expressible (round-4 oracle upgrade: same assign-then-rank SQL with
    the integer-only output rule of SURVEY §2.10).

    Single ``spark.sql`` statement since optimization r16 (the
    SCALING.md §12 build-cost remedy, VERDICT r15 items 5/6): the two
    chained assign() builds cost 208–256 ms of driver time per call —
    36% of the key's fixture-scale wall and the dominant share of its
    anti-scaling 8-core-beats-32 reading (build time is
    core-independent). The SQL folds are the same lambda expressions
    (`0D` accumulators), the query branch filters the SAME `assigned`
    CTE (the vec_id < 10 predicate pushes through the window's
    partition key to the scan — the plan is the old separate filtered
    assign), and the trained-quantizer memo rides along as a temp
    view (ivf_centroids_sql_ref). Interleaved A/B: 0.691/0.604 →
    0.478/0.421 s medians, build 256 → 50 ms. Rows identical;
    hash-equal at all three SFs.
    """
    prep(spark)
    emb = table_sql_ref(spark, sf_dir, "embeddings")
    cv = ivf_centroids_sql_ref(spark, sf_dir)
    return spark.sql(
        f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS vec_d FROM {emb}
        ),
        en AS (
          SELECT vec_id, vec_d,
                 SQRT(aggregate(vec_d, 0D, (acc, x) -> acc + x * x)) AS norm
          FROM e
        ),
        scored AS (
          SELECT /*+ BROADCAST(c) */ en.vec_id, en.vec_d, en.norm, c.cent_id,
                 aggregate(zip_with(en.vec_d, c.c_vec, (x, y) -> x * y), 0D,
                           (acc, x) -> acc + x) / (en.norm * c.c_norm) AS c_cos
          FROM en CROSS JOIN {cv} c
        ),
        assigned AS (
          SELECT vec_id, vec_d, norm, cent_id FROM (
            SELECT vec_id, vec_d, norm, cent_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY c_cos DESC, cent_id ASC
                   ) AS r
            FROM scored
          ) WHERE r = 1
        ),
        q AS (
          SELECT vec_id AS query_id, vec_d AS q_vec, norm AS q_norm,
                 cent_id AS q_cent
          FROM assigned WHERE vec_id < 10
        ),
        cand AS (
          SELECT /*+ BROADCAST(q) */ a.vec_id AS neighbor_id, q.query_id,
                 aggregate(zip_with(q.q_vec, a.vec_d, (x, y) -> x * y), 0D,
                           (acc, x) -> acc + x) / (q.q_norm * a.norm) AS cos
          FROM assigned a
          JOIN q ON a.cent_id = q.q_cent AND a.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, rnk FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
                 ) AS rnk
          FROM cand
        ) WHERE rnk <= 5
        """
    )


N_IVF_PROBES = 2


@query(
    "sim_ann_ivf_multiprobe",
    oracle=f"""
    WITH {IVF_CENTS_SQL},
    ranked AS (
      SELECT e.vec_id, e.embedding, c.cent_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, c.c_vec) DESC,
                        c.cent_id ASC
             ) AS r
      FROM embeddings e CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, embedding, cent_id FROM ranked WHERE r = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, embedding AS q_vec, cent_id AS p_cent
      FROM ranked WHERE vec_id < 10 AND r <= 2
    )
    SELECT query_id, neighbor_id, rnk FROM (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY p.query_id
               ORDER BY list_cosine_similarity(p.q_vec, a.embedding) DESC,
                        a.vec_id ASC
             ) AS INTEGER) AS rnk
      FROM assigned a
      JOIN probes p ON a.cent_id = p.p_cent AND a.vec_id <> p.query_id
    ) WHERE rnk <= 5
    """,
)
def sim_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN top-5: each query searches its 2 nearest
    cells instead of 1 (FAISS-style nprobe=2).

    Single-probe IVF misses any true neighbor that quantizes across a
    cell boundary from its query; probing the next-nearest cell
    recovers most of that loss for 2× (not N×) the search work —
    O(Q·nprobe·N/C) stays sublinear. tests/test_llm_quality.py pins
    recall@5 ≥ the single-probe operator's on the same fixture.
    Corpus vectors keep ONE home cell (state/storage is unchanged);
    only the query fans out, which is the property that matters at
    100 TB — the inverted lists are the big side.
    """
    prep(spark)
    emb = _with_norm(table(spark, sf_dir, "embeddings"))
    cents = ivf_centroids(spark, sf_dir)
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("c_cos").desc(), F.col("cent_id").asc()
    )
    ranked = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn(
            "c_cos",
            _dot(F.col("vec_d"), F.col("c_vec")) / (F.col("norm") * F.col("c_norm")),
        )
        .withColumn("r", F.row_number().over(w_assign))
    )
    assigned = ranked.filter(F.col("r") == 1).select(
        "vec_id", "vec_d", "norm", "cent_id"
    )
    probes = ranked.filter(
        (F.col("vec_id") < 10) & (F.col("r") <= N_IVF_PROBES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec_d").alias("q_vec"),
        F.col("norm").alias("q_norm"),
        F.col("cent_id").alias("p_cent"),
    )
    cand = (
        assigned.join(
            F.broadcast(probes), assigned.cent_id == F.col("p_cent"), "inner"
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            _dot(F.col("q_vec"), F.col("vec_d")) / (F.col("q_norm") * F.col("norm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rnk")
    )


def _kmeans_oracle(iters: int = 3, k: int = 10, dim: int = 64) -> str:
    """Unroll the deterministic Lloyd iterations as DuckDB CTEs.

    Mirrors emb_kmeans_assign op-for-op: same init (first-k vectors),
    same assignment metric (c² − 2a·c in double — the a² term is
    row-constant and dropped on BOTH sides), same lowest-cluster
    tie-break, same empty-cluster carry-forward (COALESCE).

    Caveat: "op-for-op" holds at the expression level, not the ulp
    level — numpy's a@c.T sums via BLAS (pairwise/SIMD order) while
    DuckDB's list_inner_product sums sequentially, so d2 can differ by
    a few ulps between engines. The ROW_NUMBER/argmin tie-break only
    guarantees identical assignment when the argmin is decided by more
    than that margin (true on the shipped fixtures; a near-tie on
    other data could legitimately diverge)."""
    d2 = "list_inner_product(c.v, c.v) - 2 * list_inner_product(e.v, c.v)"

    def assign(cents: str) -> str:
        return f"""
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {d2} ASC, c.cluster ASC) AS r
    FROM e CROSS JOIN {cents} c) WHERE r = 1"""

    sql = (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings),\n"
        f"c0 AS (SELECT vec_id AS cluster, v FROM e WHERE vec_id < {k})"
    )
    for i in range(iters):
        sql += f""",
a{i} AS ({assign(f'c{i}')}),
m{i} AS (
  SELECT cluster, list(mv ORDER BY idx) AS v FROM (
    SELECT a.cluster, r.idx, SUM(e.v[r.idx]) / COUNT(*) AS mv
    FROM e JOIN a{i} a USING (vec_id)
    CROSS JOIN range(1, {dim + 1}) r(idx)
    GROUP BY a.cluster, r.idx) GROUP BY cluster),
c{i + 1} AS (
  SELECT p.cluster, COALESCE(m.v, p.v) AS v
  FROM c{i} p LEFT JOIN m{i} m USING (cluster))"""
    sql += f"\nSELECT vec_id, cluster FROM ({assign(f'c{iters}')})"
    return sql


@query("emb_kmeans_assign", oracle=_kmeans_oracle())
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (k=10, 3 iterations) over the
    embedding corpus; returns each vector's final cluster.

    Initialization is the embeddings of the 10 smallest vec_ids (no
    RNG), assignment ties break to the lowest cluster index — the run
    is bit-reproducible. Per iteration: broadcast the k×64 centroid
    matrix, one `mapInPandas` scan computes per-partition-batch
    cluster sums/counts via a numpy GEMM argmin (the classic
    map-side-combine shape), and the k×65 partials are reduced with a
    tiny grouped aggregate — the corpus is never shuffled and never
    collected. That is exactly the 100 TB dataflow: O(iters) scans,
    O(k·d) broadcast+reduce traffic, zero wide shuffles of the data.
    """
    prep(spark)
    import numpy as np
    import pandas as pd

    K, ITERS = 10, 3
    # Persist: the corpus is scanned ITERS+2 times (init, per-iteration
    # partials, final assignment) — cache it once. At 100 TB this is a
    # DISK_ONLY persist or a one-time columnar materialization.
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").persist()
    init = emb.orderBy("vec_id").limit(K).collect()  # k rows only
    centroids = np.array([r["embedding"] for r in init], dtype=np.float64)

    partial_schema = "cluster long, n long, vsum array<double>"
    # The reduce expressions, built ONCE as two SQL strings
    # (optimization r16, the SCALING.md §12 build-cost lesson): the
    # old `F.array(*[F.sum(F.element_at(...)) ...])` construction made
    # ~192 py4j round trips and re-analyzed eagerly per Column —
    # measured 113–149 ms of pure driver time per iteration (×3
    # iterations = ~0.4 s of the key's ~1.5 s wall). One F.expr parse
    # builds the identical aggregate (`vsum[i]` is element_at(vsum,
    # i+1) — same element, same SUM addends in the same order, so the
    # float results are bit-identical). Measured: build 123 → 9 ms
    # per iteration.
    vsum_expr = F.expr(
        "array(" + ", ".join(f"sum(vsum[{i}])" for i in range(64)) + ") AS vsum"
    )
    for _ in range(ITERS):
        bc = spark.sparkContext.broadcast(centroids)

        def partials(batches):
            c = bc.value
            for pdf in batches:
                a = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                # ||a-c||² minus the row-constant a² term: c² − 2a·c.
                # (Round-4 fix: the c² term was missing, which silently
                # turned the assignment into argmax-dot, not nearest-L2.
                # The a² term is dropped on BOTH engine and oracle so the
                # float expressions match op-for-op.)
                d2 = (c * c).sum(axis=1) - 2.0 * (a @ c.T)
                assign = d2.argmin(axis=1)  # argmin → lowest index on ties
                rows = []
                for k in np.unique(assign):
                    sel = a[assign == k]
                    rows.append((int(k), len(sel), sel.sum(axis=0).tolist()))
                yield pd.DataFrame(rows, columns=["cluster", "n", "vsum"])

        agg = (
            # select("embedding") before the opaque function (guide
            # §4.1: Spark cannot prune columns it cannot see into —
            # the iteration kernel never reads vec_id, so don't ship
            # it through Arrow three times; optimization r16)
            emb.select("embedding")
            .mapInPandas(partials, schema=partial_schema)
            .groupBy("cluster")
            .agg(F.sum("n").alias("n"), vsum_expr)
            .collect()  # k rows of (cluster, n, 64-dim sum) — tiny
        )
        new_c = centroids.copy()  # empty clusters keep their centroid
        for r in agg:
            new_c[r["cluster"]] = np.array(r["vsum"]) / r["n"]
        centroids = new_c

    bc_final = spark.sparkContext.broadcast(centroids)

    def assign_final(batches):
        c = bc_final.value
        for pdf in batches:
            a = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d2 = (c * c).sum(axis=1) - 2.0 * (a @ c.T)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cluster": d2.argmin(axis=1).astype("int64")}
            )

    # Release the corpus cache: the Lloyd iterations (its consumers)
    # have all run, so the final assignment below re-reads parquet —
    # one extra columnar scan, which is the 100 TB shape anyway, in
    # exchange for not leaving a corpus-sized cache entry behind for
    # the rest of the session (ADVICE r5).
    emb.unpersist()
    return emb.mapInPandas(assign_final, schema="vec_id long, cluster long")
