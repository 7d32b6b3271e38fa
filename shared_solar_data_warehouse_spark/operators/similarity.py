"""Similarity-search operators (SURVEY.md §2.10) over the
``embeddings`` table (64-dim unit-normalized float vectors, so cosine
similarity ≡ dot product — no normalization pass needed, FIXTURES.md).

Two execution tiers, by design:
  * exact expression tier — zip_with/aggregate dot products inside
    whole-stage codegen; the oracle-checkable ground truth;
  * block tier — ``mapInPandas`` numpy GEMM over broadcast query
    blocks: the 100 TB path (each corpus partition does one
    (batch × dim) @ (dim × n_queries) matmul instead of per-pair
    loops), plus LSH bucketing to cut the candidate space.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shared_solar_data_warehouse_spark.materialize import memo_checkpoint
from shared_solar_data_warehouse_spark.registry import op
from shared_solar_data_warehouse_spark.sources.io import load_table, spread

#: How many query vectors the kNN demos use (vec_id < N_QUERIES).
N_QUERIES = 20
KNN_K = 5

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " 0D, (s, v) -> s + v)"
)

_DUCK_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)


@op(
    "sim_pairwise_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_DUCK_DOT.format(a='a.embedding', b='b.embedding')}, 4) + 0.0
               AS cosine
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """,
)
def sim_pairwise_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity for given pairs (consecutive vec_ids): unit
    vectors make it a pure dot product — zip_with + left-fold aggregate,
    all JVM-side."""
    a = load_table(spark, sf_dir, "embeddings").alias("a")
    b = load_table(spark, sf_dir, "embeddings").alias("b")
    return a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        (
            F.round(
                F.expr(_DOT.format(a="a.embedding", b="b.embedding")), 4
            )
            + F.lit(0.0)
        ).alias("cosine"),
    )


def _knn_exact(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Exact top-k neighbors for the query subset via cross join +
    expression dot product + per-query window top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("neighbor_label"),
    )
    scored = corpus.join(F.broadcast(queries)).select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        F.expr(_DOT.format(a="q_emb", b="c_emb")).alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


_DUCK_KNN = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
        WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
               {_DUCK_DOT.format(a='q.q_emb', b='e.embedding')} AS dot,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_DUCK_DOT.format(a='q.q_emb', b='e.embedding')} DESC,
                            e.vec_id) AS rank
        FROM embeddings e CROSS JOIN q
    )
    SELECT query_id, neighbor_id, neighbor_label, round(dot, 4) + 0.0 AS cosine,
           CAST(rank AS INTEGER) AS rank
    FROM scored WHERE rank <= {KNN_K}
"""


@op("sim_knn_bruteforce", oracle=_DUCK_KNN)
def sim_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 nearest neighbors per query vector (self included at
    rank 1, cosine 1.0 — the unit-norm sanity anchor).  Ranking uses
    the UNROUNDED dot (both engines fold the same doubles in the same
    order); output rounds for display."""
    return _knn_exact(spark, sf_dir, KNN_K).select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        (F.round(F.col("dot"), 4) + F.lit(0.0)).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@op(
    "sim_knn_classify",
    oracle=f"""
    WITH knn AS ({_DUCK_KNN}),
    votes AS (
        SELECT knn.query_id, knn.neighbor_label, count(*) AS n_votes
        FROM knn WHERE knn.neighbor_id != knn.query_id
        GROUP BY 1, 2
    ), best AS (
        SELECT query_id, neighbor_label AS predicted_label, n_votes,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, neighbor_label) AS rn
        FROM votes
    )
    SELECT b.query_id, e.label AS true_label, b.predicted_label,
           b.n_votes, b.predicted_label = e.label AS is_correct
    FROM best b JOIN embeddings e ON e.vec_id = b.query_id
    WHERE b.rn = 1
    """,
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label vote (self excluded): majority label among the top-5
    neighbors, smallest-label tie-break."""
    knn = _knn_exact(spark, sf_dir, KNN_K).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    votes = knn.groupBy("query_id", "neighbor_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("neighbor_label")
    )
    best = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return best.join(emb, "query_id").select(
        "query_id",
        "true_label",
        F.col("neighbor_label").alias("predicted_label"),
        "n_votes",
        (F.col("neighbor_label") == F.col("true_label")).alias("is_correct"),
    )


#: Fixed-point grid for the GEMM tier: components floor onto a 2^20
#: integer lattice (same scheme as the LSH sign quantization below),
#: making every dot product an EXACT int64 the oracle reproduces.
_GEMM_QSCALE = 1048576  # 2^20

_DUCK_QDOT = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}),"
    f" p -> CAST(floor(CAST(p[1] AS DOUBLE) * {_GEMM_QSCALE}.0 + 0.5)"
    " AS BIGINT)"
    f" * CAST(floor(CAST(p[2] AS DOUBLE) * {_GEMM_QSCALE}.0 + 0.5)"
    " AS BIGINT))) AS BIGINT)"
)


@op(
    "sim_knn_block_matmul",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
        WHERE vec_id < {N_QUERIES}
    ), dots AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_DUCK_QDOT.format(a='q.q_emb', b='e.embedding')} AS dot_units
        FROM embeddings e CROSS JOIN q
    ), scored AS (
        SELECT query_id, neighbor_id, dot_units,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY dot_units DESC, neighbor_id) AS rank
        FROM dots
    )
    SELECT query_id, neighbor_id, dot_units, CAST(rank AS INTEGER) AS rank
    FROM scored WHERE rank <= {KNN_K}
    """,
)
def sim_knn_block_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-matmul kNN — the 100 TB exact path, fully oracle-hashed
    as of r6.

    Queries are collected once (bounded: N_QUERIES × dim floats) and
    broadcast inside a ``mapInPandas`` closure; each corpus partition
    stacks its Arrow batch into a (batch × 64) numpy matrix and does
    ONE GEMM against the (64 × n_queries) query matrix, emitting only
    each batch's per-query top-k — so the shuffle that follows carries
    k rows per (partition, query), not the full score matrix.  A final
    per-query window keeps the global top-k.

    Float discipline: components floor onto the 2^20 integer lattice
    BEFORE the GEMM (float32→float64 cast, one multiply, one floor —
    identical bits on both engines), so every score is an exact
    integer: the float64 GEMM is exact for integral values up to 2^53
    (here ≤ 2^46), BLAS reassociation included, and block-local top-k
    uses the same (dot DESC, neighbor_id ASC) total order as the
    global window and the oracle — the previous rows-only tier's fp
    tie ambiguity is gone.  The quantization perturbs each component
    by < 2^-20 ≈ 1e-6, far inside the 1e-5 agreement the parity test
    with sim_knn_bruteforce pins."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.floor(
        np.array([r["embedding"] for r in q_rows], dtype=np.float64).T
        * _GEMM_QSCALE
        + 0.5
    )  # 64×Q, exactly integral
    k = KNN_K

    def block_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            c_mat = np.floor(
                np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
                * _GEMM_QSCALE
                + 0.5
            )
            scores = c_mat @ q_mat  # (batch × Q), exact integers
            n = min(k, scores.shape[0])
            ids = pdf["vec_id"].to_numpy()
            cols = {"query_id": [], "neighbor_id": [], "dot_units": []}
            for qi in range(scores.shape[1]):
                # block-local top-n under the GLOBAL total order
                # (score DESC, neighbor_id ASC) — exact-integer ties
                # must resolve identically to the final window/oracle
                order = np.lexsort((ids, -scores[:, qi]))[:n]
                cols["query_id"].append(np.full(n, q_ids[qi]))
                cols["neighbor_id"].append(ids[order])
                cols["dot_units"].append(scores[order, qi])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(cols["query_id"]),
                    "neighbor_id": np.concatenate(cols["neighbor_id"]),
                    "dot_units": np.concatenate(cols["dot_units"]).astype(
                        np.int64
                    ),
                }
            )

    partials = emb.select("vec_id", "embedding").mapInPandas(
        block_topk, "query_id long, neighbor_id long, dot_units long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_units").desc(), F.col("neighbor_id")
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "dot_units",
            F.col("rank").cast("int").alias("rank"),
        )
    )


#: Sign-LSH geometry: 24 hyperplanes banded 8×3.
_LSH_N_PLANES = 24
_LSH_BANDS = 8
#: Fixed-point scale for the sign computation: float32 inputs widened
#: to float64 then floored onto a 2^20 integer grid, so the sign of
#: the plane dot product is INTEGER arithmetic — bit-equal across
#: engines regardless of their float summation order.
_LSH_QSCALE = 1048576  # 2^20


def _lsh_plane_sign(p: int, j: int) -> int:
    """±1 hyperplane entry from md5 parity of 'plane:p:j' — the same
    value the oracle SQL derives, so both engines hold the same
    24×64 sign matrix without sharing any runtime state."""
    import hashlib

    h = int(hashlib.md5(f"plane:{p}:{j}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 0 else -1


def _lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket) sign-LSH band-bucket table, memoized per
    (context, snapshot) — the similarity family's signature ETL artifact,
    the exact analog of the dedup band's shingle/simhash memos: at
    100 TB the signature job writes this once per corpus snapshot and
    every index/query/eval job reads the materialized table (r11;
    previously `sim_ann_lsh` re-ran the Python signature pass per call
    and `sim_ann_recall_eval` re-ran it again via the builder).  The
    barrier also keeps the bucket join's two consumers (corpus side AND
    query side) from re-executing the mapInPandas (SURVEY.md §5.4
    projection-collapse)."""

    def build() -> DataFrame:
        import numpy as np
        import pandas as pd

        planes = np.array(
            [
                [_lsh_plane_sign(p, j) for j in range(64)]
                for p in range(_LSH_N_PLANES)
            ],
            dtype=np.int64,
        )

        def band_buckets(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
                q = np.floor(m * _LSH_QSCALE).astype(np.int64)
                bits = (q @ planes.T >= 0).astype(np.int64)  # (n × 24) signs
                vec_ids = pdf["vec_id"].to_numpy()
                # bucket id = band index (3 bits) ++ band value (3
                # bits): globally unique per (band, pattern) — same
                # keying as the string 'b:xyz' bucket, integer-cheap.
                frames = []
                for b in range(8):
                    val = (
                        bits[:, b * 3] * 4
                        + bits[:, b * 3 + 1] * 2
                        + bits[:, b * 3 + 2]
                    )
                    frames.append(
                        pd.DataFrame({"vec_id": vec_ids, "bucket": b * 8 + val})
                    )
                yield pd.concat(frames, ignore_index=True)

        emb = load_table(spark, sf_dir, "embeddings")
        return (
            spread(spark, emb)
            .select("vec_id", "embedding")
            .mapInPandas(band_buckets, "vec_id long, bucket long")
        )

    from shared_solar_data_warehouse_spark.materialize import memo_checkpoint

    return memo_checkpoint(spark, sf_dir, "lsh_buckets", build)


def _sim_ann_lsh_oracle() -> str:
    """DuckDB mirror of the full sign-LSH pipeline: md5-parity planes
    → integer-quantized sign bits → 8×3 banding → bucket join →
    exact-dot verification → per-query top-k."""
    parity = (
        "CAST(('0x' || substr(md5(concat('plane:', p, ':', j - 1)), 1, 15))"
        " AS BIGINT) % 2"
    )
    bucket_exprs = ", ".join(
        f"{b * 8} + bits[{b * 3 + 1}] * 4 + bits[{b * 3 + 2}] * 2"
        f" + bits[{b * 3 + 3}]"
        for b in range(_LSH_BANDS)
    )
    return f"""
    WITH planes AS (
        SELECT p, j, CASE WHEN {parity} = 0 THEN 1 ELSE -1 END AS s
        FROM (SELECT unnest(generate_series(0, {_LSH_N_PLANES - 1})) AS p),
             (SELECT unnest(generate_series(1, 64)) AS j)
    ),
    qv AS (
        SELECT vec_id, j,
               CAST(floor(CAST(embedding[j] AS DOUBLE) * {_LSH_QSCALE})
                    AS BIGINT) AS q
        FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS j)
    ),
    bit_rows AS (
        SELECT vec_id, p,
               CASE WHEN sum(s * q) >= 0 THEN 1 ELSE 0 END AS bit
        FROM qv JOIN planes USING (j) GROUP BY 1, 2
    ),
    sig AS (
        SELECT vec_id, list(bit ORDER BY p) AS bits FROM bit_rows GROUP BY 1
    ),
    buckets AS (
        SELECT vec_id, unnest([{bucket_exprs}]) AS bucket FROM sig
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM buckets q JOIN buckets c ON q.bucket = c.bucket
        WHERE q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               {_DUCK_DOT.format(a='qe.embedding', b='ne.embedding')} AS dot
        FROM cand
        JOIN embeddings qe ON qe.vec_id = cand.query_id
        JOIN embeddings ne ON ne.vec_id = cand.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, dot,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, round(dot, 4) + 0.0 AS cosine,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {KNN_K}
    """


@op("sim_ann_lsh", oracle=_sim_ann_lsh_oracle())
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane (sign) LSH — fully
    hash-checked: the hyperplanes are ±1 matrices derived from md5
    parity (`_lsh_plane_sign`) and the sign bits are computed in
    fixed-point INTEGER arithmetic (floor onto a 2^20 grid), so the
    oracle SQL reconstructs the identical 24-bit signature per vector
    with no shared runtime state and no float-summation-order risk.
    LSH recall < 1 doesn't matter for parity — both engines derive the
    same deterministic candidate set.  (±1 planes are a standard
    sign-LSH family — for unit vectors the collision probability
    1 - angle/pi argument needs only symmetric i.i.d. entries.)

    Each vector hashes to a 24-bit sign signature, split into 8 bands
    of 3 bits; vectors sharing any band bucket with a query are
    candidates; candidates are exact-dot verified and per-query top-k
    kept.  Recall vs the exact kNN is asserted >= 0.6 in tests — the
    scale trade: candidate count grows with corpus density, not corpus
    size.

    Shape notes (measured at sf0.1):
    * signatures come from ONE numpy GEMM per Arrow batch inside
      ``mapInPandas`` — (batch × 64) @ (64 × 24) — not from 24
      interpreted Catalyst higher-order-function dot products per row
      (~2x faster end-to-end, and the idiom every block op here uses);
    * candidate pairs are deduplicated on ids BEFORE any scoring, so a
      pair colliding in several bands pays the exact-dot verification
      once, and the bucket join shuffles ids only, never embeddings —
      the vectors re-enter via two broadcast joins against the
      (small) corpus table.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    buckets = _lsh_buckets(spark, sf_dir)
    queries = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    cand_ids = (
        buckets.join(F.broadcast(queries), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    candidates = (
        cand_ids.join(
            F.broadcast(
                emb.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("q_emb"),
                )
            ),
            "query_id",
        )
        .join(
            F.broadcast(
                emb.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("n_emb"),
                )
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.expr(_DOT.format(a="q_emb", b="n_emb")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(
            "query_id",
            "neighbor_id",
            (F.round("dot", 4) + F.lit(0.0)).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


#: Cosine threshold for embedding near-dup pairs (random unit 64-d
#: vectors concentrate near 0; >=0.45 marks genuine outlier closeness).
EMB_NEAR_DUP_TAU = 0.45

#: IVF coarse-quantizer layout.
IVF_N_CELLS = 16
IVF_NPROBE = 4


@op(
    "dedup_near_embedding",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_DUCK_DOT.format(a='a.embedding', b='b.embedding')}, 4) + 0.0
               AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({_DUCK_DOT.format(a='a.embedding', b='b.embedding')}, 4)
          >= {EMB_NEAR_DUP_TAU}
    """,
)
def dedup_near_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a<b) with cosine >=
    tau — exact result, distributed block-pair GEMM, NO driver-side
    corpus collect (the round-1 version broadcast the whole corpus
    matrix from the driver — an O(corpus) driver-memory wall at 100 TB).

    Three passes, provably equivalent to the naive O(n^2) expression
    dot (which IS the oracle):

    1. blocking: each vector lands in one of B blocks (vec_id mod B, B
       sized so a block is a few MB); every unordered block pair (i<=j)
       becomes one ``applyInPandas`` group holding block i as role-a
       and block j as role-b rows.  Replication is x(B/2) on average —
       the irreducible cost of an EXACT all-pairs scan; the sub-linear
       approximate tier is ``sim_ann_lsh``, and a production dedup runs
       that first, with this op as the verifier on its candidates.
    2. candidate generation: ONE numpy GEMM per block pair keeps pairs
       with gemm_dot >= tau - 1e-6.  GEMM reassociates fp sums, but its
       deviation from the sequential fold is ~1e-13 « the 1e-6 margin,
       so the candidate set is a guaranteed superset.
    3. exact verification: candidates (a tiny set) join their float
       arrays back and the JVM left-fold dot — bit-identical to
       DuckDB's list fold — decides >= tau on the ROUNDED value.

    At 100 TB, blocks follow IVF cells (sim_ann_ivf) instead of id mod
    B, and block-pair pruning via centroid distance + cell radius
    (unit vectors: dot(a,b) = 1 - ||a-b||^2/2) skips far cell pairs —
    the plumbing below is unchanged by either refinement.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    margin = EMB_NEAR_DUP_TAU - 1e-6

    # B from a cheap distributed count (NOT a data collect): ~1k-row
    # blocks at fixture scale; the cap keeps B^2 group fan-out sane.
    n = emb.count()
    n_blocks = max(1, min(64, (n + 1023) // 1024))

    blocked = emb.select(
        "vec_id",
        "embedding",
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # role-a copy: block i participates in every pair (i, j>=i);
    # role-b copy: block j participates in every pair (i<j, j).
    a_side = blocked.withColumn(
        "blk_b", F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1)))
    ).select(
        F.col("blk").alias("blk_a"), "blk_b", "vec_id", "embedding",
        F.lit(0).alias("role"),
    )
    b_side = (
        blocked.filter(F.col("blk") > 0)
        .withColumn("blk_a", F.explode(F.sequence(F.lit(0), F.col("blk") - 1)))
        .select(
            "blk_a", F.col("blk").alias("blk_b"), "vec_id", "embedding",
            F.lit(1).alias("role"),
        )
    )

    def gemm_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "vec_a": np.array([], dtype=np.int64),
                "vec_b": np.array([], dtype=np.int64),
            }
        )
        a = pdf[pdf["role"] == 0]
        if a.empty:
            return empty
        a_mat = np.vstack(a["embedding"].to_numpy()).astype(np.float64)
        a_ids = a["vec_id"].to_numpy()
        if key[0] == key[1]:  # diagonal block: upper triangle of A@A.T
            scores = a_mat @ a_mat.T
            rows, cols = np.nonzero(scores >= margin)
            keep = a_ids[rows] < a_ids[cols]
            return pd.DataFrame(
                {"vec_a": a_ids[rows][keep], "vec_b": a_ids[cols][keep]}
            )
        b = pdf[pdf["role"] == 1]
        if b.empty:
            return empty
        b_mat = np.vstack(b["embedding"].to_numpy()).astype(np.float64)
        b_ids = b["vec_id"].to_numpy()
        scores = a_mat @ b_mat.T
        rows, cols = np.nonzero(scores >= margin)
        ra, rb = a_ids[rows], b_ids[cols]
        return pd.DataFrame(
            {"vec_a": np.minimum(ra, rb), "vec_b": np.maximum(ra, rb)}
        )

    cands = (
        a_side.unionByName(b_side)
        .groupBy("blk_a", "blk_b")
        .applyInPandas(gemm_pair, "vec_a long, vec_b long")
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("e_a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("e_b"))
    return (
        ea.join(F.broadcast(cands), "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (F.round(F.expr(_DOT.format(a="e_a", b="e_b")), 4) + F.lit(0.0)).alias("cosine"),
        )
        .filter(F.col("cosine") >= EMB_NEAR_DUP_TAU)
        .select("vec_a", "vec_b", "cosine")
    )


@op(
    "sim_ann_ivf",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
        WHERE vec_id < {IVF_N_CELLS}
    ), assigned AS (
        SELECT vec_id, embedding, cent_id AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_DUCK_DOT.format(a='e.embedding', b='c.cent_emb')}
                           DESC, c.cent_id) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, embedding AS q_emb, cent_id AS cell FROM (
            SELECT q.vec_id, q.embedding, c.cent_id,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY {_DUCK_DOT.format(a='q.embedding', b='c.cent_emb')}
                           DESC, c.cent_id) AS rn
            FROM embeddings q CROSS JOIN cents c
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rn <= {IVF_NPROBE}
    ), scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a='p.q_emb', b='a.embedding')} AS dot
        FROM probes p JOIN assigned a ON a.cell = p.cell
    )
    SELECT query_id, neighbor_id,
           round(dot, 4) + 0.0 AS cosine,
           CAST(rnk AS INTEGER) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY dot DESC, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= {KNN_K}
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate nearest neighbors — FULLY oracle-checked:
    the quantizer (lowest-vec_id centroids), the cell argmax and the
    probe ranking all break ties deterministically, so the DuckDB
    oracle replays the exact algorithm (assignment and probes as
    windowed argmax over the cross product, the same shape the engine
    fuses into one row-local expression) and the result hash-matches —
    an ANN op graded exactly, not just by recall bound.

    Coarse quantizer: 16 cells.  Centroids here are a deterministic
    sample (the 16 lowest vec_ids) so the whole op is seedless and
    replayable; production IVF trains k-means centroids — the plumbing
    (assign corpus to nearest centroid -> probe nprobe cells per query
    -> exact-score only those cells' vectors) is identical.  The
    centroid table collapses to ONE broadcast row holding the centroid
    array, and each vector's cell is the argmax of a row-local
    higher-order expression (array_max over (cdot, -cent_id) structs —
    the negated id makes ties deterministic toward the lowest id):
    assignment is a pure map with NO per-centroid row blowup and no
    groupBy re-shuffle of the embedding column (the previous shape
    cross-joined 16 rows per vector then max_by-aggregated them back —
    2x slower at ~sf1, 3x at sf0.1, identical output).  The probe list
    per query is the same expression sliced to nprobe.  The probe join
    touches ~nprobe/n_cells of the corpus per query instead of all of
    it — the scale lever.  Registered rows-only; recall vs exact kNN
    asserted in tests/test_similarity.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < IVF_N_CELLS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    cent_arr = centroids.agg(
        F.collect_list(F.struct("cent_id", "cent_emb")).alias("cents")
    )
    cent_dot = (
        "aggregate(zip_with({v}, c.cent_emb,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (s, v) -> s + v)"
    )
    cell_expr = (
        "array_max(transform(cents, c -> struct("
        f"{cent_dot.format(v='embedding')} AS cdot, -c.cent_id AS neg_id))).neg_id"
    )
    assigned = emb.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id",
        "embedding",
        (-F.expr(cell_expr)).cast("long").alias("cell"),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probe_expr = (
        "transform(slice(reverse(array_sort(transform(cents, c -> struct("
        f"{cent_dot.format(v='q_emb')} AS cdot, -c.cent_id AS neg_id)))),"
        f" 1, {IVF_NPROBE}), p -> CAST(-p.neg_id AS BIGINT))"
    )
    probes = queries.crossJoin(F.broadcast(cent_arr)).select(
        "query_id", "q_emb", F.explode(F.expr(probe_expr)).alias("cell")
    )
    scored = probes.join(assigned, "cell").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(_DOT.format(a="q_emb", b="embedding")).alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(
            "query_id",
            "neighbor_id",
            (F.round("dot", 4) + F.lit(0.0)).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


@op(
    "sim_embedding_norm",
    oracle="""
    SELECT vec_id, label,
           len(embedding) AS dim,
           CAST(floor(list_aggregate(
                    list_transform(embedding,
                                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    'sum') * 1e9 + 0.5) AS BIGINT) AS sumsq_q9,
           abs(CAST(floor(list_aggregate(
                    list_transform(embedding,
                                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    'sum') * 1e9 + 0.5) AS BIGINT) - 1000000000) <= 1000000
               AS is_unit_norm
    FROM embeddings
    """,
)
def sim_embedding_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm audit — the vector-hygiene check before any
    cosine/ANN stage (a non-normalized vector silently reweights every
    similarity).  The squared norm is a sequential left fold
    (F.aggregate == DuckDB list_aggregate'sum', both strict
    element-order folds over float->double promotions — verified
    bit-equal), quantized to 1e-9 units, with a ±1e-3 unit-norm flag as
    pure integer compare.  Narrow, shuffle-free, whole-stage-codegen'd;
    at 100 TB it pipelines inside the scan like any projection.
    """
    e = load_table(spark, sf_dir, "embeddings")
    sumsq_q = F.expr(
        "CAST(floor(aggregate(embedding, CAST(0.0 AS DOUBLE),"
        " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        " * 1e9 + 0.5) AS BIGINT)"
    )
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        sumsq_q.alias("sumsq_q9"),
        (F.abs(sumsq_q - F.lit(1000000000)) <= 1000000).alias("is_unit_norm"),
    )


@op(
    "sim_label_centroids",
    oracle="""
    WITH x AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS i,
               unnest(embedding) AS v
        FROM embeddings
    )
    SELECT label, CAST(i - 1 AS INTEGER) AS pos,
           CASE WHEN sum(CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5)
                             AS BIGINT)) >= 0
                THEN CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5)
                              AS BIGINT)) AS BIGINT) // count(*)
                ELSE -(CAST(-sum(CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5)
                               AS BIGINT)) AS BIGINT) // count(*))
                END AS centroid_q6,
           count(*) AS n_vectors
    FROM x GROUP BY label, i
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the k-means/IVF training
    primitive (and the class-prototype builder for nearest-centroid
    classification).  Emitted long-form (label, dimension position,
    mean) so no array reassembly crosses the engine boundary; each
    component is quantized to 1e-6 units pre-sum and the mean is
    truncated integer division — fully exact.  Negative component
    sums are real (embeddings are signed); the oracle's sign-split
    spelling sign(s)*(|s| // n) is the identity under truncation
    (round-4 measurement: DuckDB's integer // truncates exactly like
    Spark DIV, see parity.py) — kept as belt-and-suspenders.

    Plan: posexplode -> groupBy (label, pos) is ONE shuffle whose
    map-side partial aggregation collapses the 64× row blowup to
    (n_labels × dim) partials per task before the exchange — the same
    shape Spark ML's KMeans update step uses.  At 100 TB the
    aggregate state is n_labels×dim counters per task: broadcastable
    back for the next IVF assignment round (see sim_ann_ivf).
    """
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        "pos",
        F.expr("CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)").alias("q"),
    )
    return exploded.groupBy("label", "pos").agg(
        F.expr("CAST(sum(q) DIV count(*) AS BIGINT)").alias("centroid_q6"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


@op(
    "sim_random_projection",
    oracle="""
    WITH x AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
                    AS BIGINT) AS v
        FROM embeddings
    ), proj AS (
        SELECT CAST(range AS BIGINT) AS j FROM range(0, 8)
    ), signs AS (
        SELECT x.vec_id, proj.j,
               CASE WHEN ascii(substr(
                        md5(CAST(x.i AS VARCHAR) || '_'
                            || CAST(proj.j AS VARCHAR)), 1, 1)) % 2 = 0
                    THEN x.v ELSE -x.v END AS term
        FROM x CROSS JOIN proj
    )
    SELECT vec_id, j AS proj_id,
           CAST(sum(term) AS BIGINT) AS proj_micro
    FROM signs GROUP BY vec_id, j
    """,
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection: 64-dim embeddings
    down to 8 dims with a {±1} matrix — the dimensionality-reduction
    front end for large-scale similarity (project first, then search
    in the cheap space; JL bounds the distance distortion).  The
    projection matrix is derived, not stored: sign(i,j) comes from
    the parity of the first md5 hex char of "i_j" — identical on
    both engines, reproducible on any worker without shipping state
    (the same trick as the portable minhash perms).  Coordinates
    quantize to 1e-6 integer units first, so every projected value
    is an exact BIGINT sum.

    Plan: posexplode → broadcast-join the 512-row sign table →
    partial-agg groupBy (vec_id, proj_id): one shuffle, and the
    map-side combine collapses the 64×8 term blowup to 8 partials
    per vector before the exchange.  At 100 TB nothing here is
    driver-side; the sign table stays 512 rows no matter the data."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("i", "raw")
    ).select(
        "vec_id",
        F.col("i").cast("bigint").alias("i"),
        F.expr("CAST(floor(CAST(raw AS DOUBLE) * 1e6 + 0.5) AS BIGINT)").alias(
            "v"
        ),
    )
    signs = (
        spark.range(0, 64)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(0, 8).select(F.col("id").alias("j")))
        .select(
            "i",
            "j",
            F.expr(
                "CASE WHEN ascii(substr(md5(concat(CAST(i AS STRING), '_',"
                " CAST(j AS STRING))), 1, 1)) % 2 = 0"
                " THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END"
            ).alias("s"),
        )
    )
    terms = x.join(F.broadcast(signs), "i").select(
        "vec_id", "j", F.expr("s * v").alias("term")
    )
    return terms.groupBy("vec_id", F.col("j").alias("proj_id")).agg(
        F.sum("term").alias("proj_micro")
    )


KM_K = 8
KM_ITERS = 3

_KM_ORACLE_HEAD = """
    WITH vq AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    cent0 AS (
        SELECT CAST(row_number() OVER (
                   ORDER BY md5('km:' || CAST(vec_id AS VARCHAR)), vec_id)
                   - 1 AS INTEGER) AS k,
               v AS c
        FROM vq
        QUALIFY row_number() OVER (
            ORDER BY md5('km:' || CAST(vec_id AS VARCHAR)), vec_id) <= {K}
    ),
    dims AS (SELECT unnest(range(1, 65)) AS d)
"""

_KM_ASSIGN = """
    assign{i} AS (
        SELECT vec_id, v, k FROM (
            SELECT vq.vec_id, vq.v, c.k,
                   row_number() OVER (
                       PARTITION BY vq.vec_id
                       ORDER BY list_sum(list_transform(list_zip(vq.v, c.c),
                                    p -> (p[1] - p[2]) * (p[1] - p[2]))),
                                c.k) AS rn
            FROM vq CROSS JOIN cent{prev} c
        ) WHERE rn = 1
    )
"""

_KM_UPDATE = """
    cent{i} AS (
        SELECT k, list(cd ORDER BY d) AS c FROM (
            SELECT a.k, dims.d,
                   CAST(sum(a.v[dims.d]) AS BIGINT)
                       // CAST(count(*) AS BIGINT) AS cd
            FROM assign{i} a CROSS JOIN dims
            GROUP BY a.k, dims.d
        ) GROUP BY k
    )
"""


def _km_oracle() -> str:
    parts = [_KM_ORACLE_HEAD.format(K=KM_K)]
    for i in range(1, KM_ITERS + 1):
        parts.append("," + _KM_ASSIGN.format(i=i, prev=i - 1))
        parts.append("," + _KM_UPDATE.format(i=i))
    parts.append(f"""
    SELECT c.k, CAST(m.n_members AS BIGINT) AS n_members,
           array_to_string(c.c, ',') AS centroid_q4
    FROM cent{KM_ITERS} c
    JOIN (SELECT k, count(*) AS n_members FROM assign{KM_ITERS} GROUP BY k) m
      ON m.k = c.k
    """)
    return "".join(parts)


@op("sim_kmeans_lloyd", oracle=_km_oracle())
def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus, 3 unrolled
    iterations, K=8 — the iterative-refinement showcase on the ML
    side, pairing graph_pagerank's on the graph side: per round,
    assignment is a row-local argmin against ONE broadcast centroid
    array row (the sim_ann_ivf collapse — no K-way join fan-out, no
    shuffle of the vector column), and the update is the
    sim_label_centroids map-side-collapsed (k, dim) partial-sum
    aggregate.  The only per-round shuffle carries K×64 partial
    states.

    Exactness across engines is engineered the parity.py way:
    vectors quantize once to 1e-4 integer units, distances are exact
    BIGINT squared-L2 (ties argmin toward the low centroid id), and
    centroid updates use FLOOR integer division (the pmod identity on
    the Spark side — DuckDB's ``//`` floors while DIV truncates, and
    component sums go negative).  Seeds are the K lowest
    md5('km:'||vec_id) vectors — deterministic, engine-portable, and
    scan-local (no RNG state).  An empty cluster drops its centroid
    identically on both engines (K=8 over >=500 vectors; none occur
    on the fixtures).  At 100 TB each round is one corpus map +
    one K×64-state shuffle, the canonical distributed Lloyd; the
    chain localCheckpoints between rounds like the graph band so
    round N runs once even though the final output reads assign/cent
    twice."""
    vq = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 10000 + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("v"),
    ).localCheckpoint(eager=False)

    w_seed = Window.orderBy(
        F.md5(F.concat(F.lit("km:"), F.col("vec_id").cast("string"))), "vec_id"
    )
    cent = (
        vq.withColumn("k", (F.row_number().over(w_seed) - 1).cast("int"))
        .filter(F.col("k") < KM_K)
        .select("k", F.col("v").alias("c"))
    )

    dist = (
        "aggregate(zip_with(v, cn.c, (a, b) -> (a - b) * (a - b)),"
        " 0L, (s, x) -> s + x)"
    )
    for it in range(KM_ITERS):
        cents_row = cent.agg(
            F.sort_array(F.collect_list(F.struct("k", "c"))).alias("cents")
        )
        assign = (
            vq.crossJoin(F.broadcast(cents_row))
            .select(
                "vec_id",
                "v",
                F.expr(
                    f"array_min(transform(cents, cn -> struct({dist} AS d,"
                    " cn.k AS k))).k"
                ).alias("k"),
            )
        )
        if it == KM_ITERS - 1:
            # Only the LAST assignment is read twice (final centroids +
            # member counts); every earlier step is referenced exactly
            # once, so the chain stays unbarriered like graph_pagerank.
            assign = assign.localCheckpoint(eager=False)
        percell = (
            assign.select("k", F.posexplode("v").alias("pos", "val"))
            .groupBy("k", "pos")
            .agg(
                F.sum("val").cast("bigint").alias("s"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
            .select(
                "k",
                "pos",
                # Both engines TRUNCATE here: Spark DIV by definition,
                # and DuckDB's integer `//` empirically truncates on
                # BIGINT operands (-7 // 2 = -3, verified v1.0) — so
                # plain DIV is the parity-exact match even though
                # component sums go negative.
                F.expr("s DIV n").alias("cd"),
            )
        )
        cent = (
            percell.groupBy("k")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "cd"))),
                    lambda st: st["cd"],
                ).alias("c")
            )
        )

    members = assign.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return cent.join(members, "k").select(
        "k",
        "n_members",
        F.array_join("c", ",").alias("centroid_q4"),
    )


@op(
    "sim_embedding_drift",
    oracle="""
    WITH x AS (
        SELECT label,
               CAST(vec_id % 2 AS BIGINT) AS half,
               generate_subscripts(embedding, 1) AS i,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
                    AS BIGINT) AS vq
        FROM embeddings
    ), comp AS (
        SELECT label, i,
               CAST(sum(CASE WHEN half = 0 THEN vq ELSE 0 END) AS BIGINT)
                   AS sa,
               CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
               CAST(sum(CASE WHEN half = 1 THEN vq ELSE 0 END) AS BIGINT)
                   AS sb,
               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb
        FROM x GROUP BY label, i
    ), d AS (
        SELECT label, na, nb,
               (CASE WHEN sa >= 0 THEN sa // na ELSE -((-sa) // na) END
                - CASE WHEN sb >= 0 THEN sb // nb ELSE -((-sb) // nb) END)
                   AS delta_q6
        FROM comp WHERE na > 0 AND nb > 0
    )
    SELECT label,
           CAST(max(na) AS BIGINT) AS n_vec_a,
           CAST(max(nb) AS BIGINT) AS n_vec_b,
           CAST(sum(delta_q6 * delta_q6) AS BIGINT) AS drift_sq_q12,
           CAST(sum(abs(delta_q6)) AS BIGINT) AS drift_l1_q6
    FROM d GROUP BY label
    """,
)
def sim_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: squared-L2 and L1
    distance between per-label centroids of two data halves (vec_id
    parity stands in for the before/after time windows a production
    monitor compares) — the "did the encoder or the corpus move?"
    alarm that triggers re-indexing an ANN store or re-training a
    probe.  All arithmetic is exact: components quantize to 1e-6
    units pre-sum (the sim_label_centroids rule), centroid means are
    truncated DIV, and the distances are integer sums of squared /
    absolute BIGINT deltas (|Δ| ≤ 2e6 ⇒ Δ² ≤ 4e12, ×64 dims well
    inside BIGINT).

    Plan: one posexplode → (label, pos) aggregate with BOTH halves
    as conditional sums (no self-join of halves), then a label-level
    reduce — two shuffles total, the second on label cardinality."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "label",
        F.expr("CAST(vec_id % 2 AS BIGINT)").alias("half"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label",
        "half",
        "pos",
        F.expr("CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5) AS BIGINT)").alias(
            "vq"
        ),
    )
    comp = x.groupBy("label", "pos").agg(
        F.sum(F.when(F.col("half") == 0, F.col("vq")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("half") == 1, F.col("vq")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    d = comp.filter("na > 0 AND nb > 0").select(
        "label",
        "na",
        "nb",
        F.expr("(sa DIV na) - (sb DIV nb)").alias("delta_q6"),
    )
    return d.groupBy("label").agg(
        F.max("na").alias("n_vec_a"),
        F.max("nb").alias("n_vec_b"),
        F.sum(F.expr("delta_q6 * delta_q6")).cast("bigint").alias(
            "drift_sq_q12"
        ),
        F.sum(F.abs(F.col("delta_q6"))).cast("bigint").alias("drift_l1_q6"),
    )


def _ann_recall_oracle() -> str:
    lsh = _sim_ann_lsh_oracle()
    return f"""
    WITH lsh_top AS ({lsh}),
    qe AS (
        SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
        WHERE vec_id < {N_QUERIES}
    ),
    exact_scored AS (
        SELECT qe.query_id, e.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a='qe.q_emb', b='e.embedding')} AS dot
        FROM embeddings e CROSS JOIN qe
        WHERE e.vec_id != qe.query_id
    ),
    exact_top AS (
        SELECT query_id, neighbor_id
        FROM (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dot DESC, neighbor_id)
                         AS rank
              FROM exact_scored)
        WHERE rank <= {KNN_K}
    ),
    hits AS (
        SELECT e.query_id, CAST(count(l.neighbor_id) AS BIGINT) AS n_hits
        FROM exact_top e
        LEFT JOIN lsh_top l
          ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    )
    SELECT query_id, n_hits,
           CAST(n_hits * 1000000 // {KNN_K} AS BIGINT) AS recall_ppm
    FROM hits
    """


@op("sim_ann_recall_eval", oracle=_ann_recall_oracle())
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation AS AN OPERATOR: per-query recall@5 of
    the sign-LSH index against exact brute force — the measurement a
    retrieval team runs on every index rebuild (pytest asserts a
    recall floor once; this op makes the per-query table a queryable,
    schedulable artifact, so regressions localize to specific queries
    instead of a global average).  Self-matches are excluded from
    BOTH sides before ranking (no rank-1 freebie inflating recall);
    recall is integer ppm of the intersection count.

    Scale: both pipelines are the registry's own (bucketed LSH; the
    broadcast-query exact scorer standing in for the block-matmul
    tier at real scale) — the evaluation join itself touches only
    (query, neighbor) id pairs, never vectors."""
    from shared_solar_data_warehouse_spark.registry import REGISTRY

    lsh_top = REGISTRY["sim_ann_lsh"].builder(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    scored = (
        corpus.join(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(_DOT.format(a="q_emb", b="c_emb")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    exact_top = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "neighbor_id")
    )
    return (
        exact_top.alias("e")
        .join(
            lsh_top.alias("l"),
            (F.col("e.query_id") == F.col("l.query_id"))
            & (F.col("e.neighbor_id") == F.col("l.neighbor_id")),
            "left",
        )
        .groupBy(F.col("e.query_id").alias("query_id"))
        .agg(F.count(F.col("l.neighbor_id")).cast("bigint").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.expr(f"CAST(n_hits * 1000000 DIV {KNN_K} AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
    )


@op(
    "sim_silhouette",
    oracle="""
    WITH dims AS (
        SELECT vec_id, label,
               CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
                    AS BIGINT) AS vq
        FROM embeddings
    ),
    cent AS (
        SELECT label AS clabel, pos,
               CAST(sum(vq) AS BIGINT) // count(*) AS cq
        FROM dims GROUP BY label, pos
    ),
    d2 AS (
        SELECT d.vec_id, d.label, c.clabel,
               CAST(sum((d.vq - c.cq) * (d.vq - c.cq)) AS BIGINT) AS dist2
        FROM dims d JOIN cent c ON d.pos = c.pos
        GROUP BY d.vec_id, d.label, c.clabel
    ),
    ab AS (
        SELECT vec_id, label,
               CAST(max(CASE WHEN clabel = label THEN dist2 END) AS BIGINT)
                   AS a2,
               CAST(min(CASE WHEN clabel <> label THEN dist2 END) AS BIGINT)
                   AS b2
        FROM d2 GROUP BY vec_id, label
    ),
    s AS (
        SELECT label,
               CASE WHEN greatest(sqrt(CAST(a2 AS DOUBLE)),
                                  sqrt(CAST(b2 AS DOUBLE))) = 0.0 THEN 0.0
                    ELSE (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                         / greatest(sqrt(CAST(a2 AS DOUBLE)),
                                    sqrt(CAST(b2 AS DOUBLE))) END AS sil
        FROM ab
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           floor(CAST(sum(CAST(sil AS DECIMAL(25,8))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
               AS mean_silhouette,
           CAST(sum(CASE WHEN sil < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_misplaced
    FROM s GROUP BY label
    """,
)
def sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette per label: for every vector, a = the
    euclidean distance to its own label's centroid, b = the distance
    to the nearest OTHER centroid, s = (b−a)/max(a,b) — the standard
    clustering-quality readout (simplified silhouette: centroids, not
    all-pairs, which is what makes it tractable at scale), plus the
    count of misplaced vectors (s < 0: nearer to a foreign prototype
    than their own).  Completes the evaluation shelf next to
    sim_ann_recall_eval and dedup_minhash_calibration.

    All distances are EXACT: dimensions and centroids quantize to 1e-6
    integer units (the sim_label_centroids scheme) so dist² is a
    BIGINT sum; the only IEEE ops are two sqrts and one shared ratio
    per vector, then a DECIMAL-accumulated mean (parity.davg shape).
    Plan: one (label,pos) aggregate for centroids (broadcast — it is
    labels×dim), one pos-keyed broadcast join + (vec,label,clabel)
    aggregate for distances, one vector-keyed min/max fold, one
    label census.  At 100 TB the vector table never self-joins;
    per-vector work is labels×dim."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "vec_id",
        "label",
        F.col("pos").cast("long").alias("pos"),
        F.expr("CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)").alias("vq"),
    )
    cent = dims.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.expr("CAST(sum(vq) DIV count(*) AS BIGINT)").alias("cq")
    )
    d2 = (
        dims.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum((F.col("vq") - F.col("cq")) * (F.col("vq") - F.col("cq")))
            .cast("bigint")
            .alias("dist2")
        )
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.max(F.expr("CASE WHEN clabel = label THEN dist2 END"))
        .cast("bigint")
        .alias("a2"),
        F.min(F.expr("CASE WHEN clabel <> label THEN dist2 END"))
        .cast("bigint")
        .alias("b2"),
    )
    a = F.sqrt(F.col("a2").cast("double"))
    b = F.sqrt(F.col("b2").cast("double"))
    sil = F.when(F.greatest(a, b) == 0.0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    s = ab.select("label", sil.alias("sil"))
    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        (
            F.floor(
                F.sum(F.col("sil").cast("decimal(25,8)")).cast("double")
                / F.count(F.lit(1)).cast("double")
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("mean_silhouette"),
        F.sum(F.expr("CASE WHEN sil < 0.0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_misplaced"),
    )


def _pca_iter_sql(vin: str, pout: str, sname: str, pn: str, wname: str,
                  tname: str, vout: str) -> str:
    """One unrolled DuckDB power-iteration step: project rows onto v,
    renormalize to 1e6 integer scale, fold back to a dimension vector,
    renormalize again.  Every CTE of the oracle is MATERIALIZED: DuckDB
    1.0 inlines a CTE referenced more than once, so each doubly
    referenced step would re-evaluate its whole chain (2^depth)."""
    return f"""
    {pout} AS MATERIALIZED (
        SELECT d.vec_id, CAST(sum(d.xc * v.v) AS BIGINT) AS p
        FROM dims d JOIN {vin} v ON d.pos = v.pos
        GROUP BY d.vec_id
    ),
    {sname} AS MATERIALIZED (
        SELECT CAST(max(abs(p)) AS BIGINT) AS s FROM {pout}
    ),
    {pn} AS MATERIALIZED (
        SELECT p.vec_id,
               CAST(p.p // ((s.s + 999999) // 1000000) AS BIGINT) AS pq
        FROM {pout} p CROSS JOIN {sname} s
    ),
    {wname} AS MATERIALIZED (
        SELECT d.pos, CAST(sum(d.xc * p.pq) AS BIGINT) AS w
        FROM dims d JOIN {pn} p ON d.vec_id = p.vec_id
        GROUP BY d.pos
    ),
    {tname} AS MATERIALIZED (
        SELECT CAST(max(abs(w)) AS BIGINT) AS s FROM {wname}
    ),
    {vout} AS MATERIALIZED (
        SELECT w.pos,
               CAST(w.w // ((t.s + 999999) // 1000000) AS BIGINT) AS v
        FROM {wname} w CROSS JOIN {tname} t
    )"""


@op(
    "sim_pca_power_iteration",
    oracle=f"""
    WITH raw AS MATERIALIZED (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
                    AS BIGINT) AS xq
        FROM embeddings
    ),
    ctr AS MATERIALIZED (
        SELECT pos, CAST(sum(xq) AS BIGINT) // count(*) AS cq
        FROM raw GROUP BY pos
    ),
    dims AS MATERIALIZED (
        SELECT r.vec_id, r.pos, CAST(r.xq - c.cq AS BIGINT) AS xc
        FROM raw r JOIN ctr c ON r.pos = c.pos
    ),
    v0 AS MATERIALIZED (SELECT DISTINCT pos, CAST(1 AS BIGINT) AS v FROM dims),
    {_pca_iter_sql("v0", "p1", "s1", "q1", "w1", "t1", "v1")},
    {_pca_iter_sql("v1", "p2", "s2", "q2", "w2", "t2", "v2")},
    {_pca_iter_sql("v2", "p3", "s3", "q3", "w3", "t3", "v3")},
    {_pca_iter_sql("v3", "p4", "s4", "q4", "w4", "t4", "v4")},
    anchor AS MATERIALIZED (
        SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS flip
        FROM v4 ORDER BY abs(v) DESC, pos ASC LIMIT 1
    )
    SELECT v.pos, CAST(v.v * a.flip AS BIGINT) AS component_q6
    FROM v4 v CROSS JOIN anchor a
    """,
)
def sim_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud by four unrolled
    power-iteration steps on the centered data — covariance-free
    (X̃ᵀ(X̃v), never materializing the d×d Gram), which is exactly the
    shape distributed PCA runs at scale.  EVERY step is integer: dims
    quantize to 1e-6 units and center on the truncated integer mean;
    each projection / fold-back renormalizes to a ±1e6 integer scale
    by its exact max-|·| (truncating division — the parity-pinned
    DIV ↔ // identity), so no float ever accumulates and both engines
    walk bit-identical iterates.  The sign is anchored by flipping so
    the largest-|component| dimension is positive (eigenvectors are
    sign-ambiguous).  Renormalization divides by ceil(max/1e6) — no widening multiply,
    so no intermediate ever exceeds the fold-back sum itself (≤ ~1e17
    at sf1; beyond ~1e9 rows widen the fold-back to DECIMAL).
    Plan per step (r11, guide §2.3/§2.4): vectors stay ROW-LOCAL as
    quantized arrays — the projection X̃v is one zip_with/aggregate
    fold per row (no vec-keyed exchange at all), and the fold-back
    X̃ᵀp is one posexplode feeding a pos-keyed aggregate whose
    map-side partials collapse to ≤d rows per task, so each step
    shuffles O(d × tasks) longs instead of re-exchanging the long-form
    (vec, pos, x) table twice.  The r10 long-form shape paid 2 full
    exchanges + 2 node-table broadcasts per step.  Convergence depth
    is a documented constant (4), not data-dependent."""
    e = load_table(spark, sf_dir, "embeddings")

    def _xq_arr() -> DataFrame:
        return e.select(
            "vec_id",
            F.expr(
                "transform(embedding,"
                " x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))"
            ).alias("xq"),
        )

    # Per-dimension truncated integer means, collected to ONE d-array
    # row (pos-ordered) — the only pass over the long form.  Both the
    # mean row and the centered matrix are pure functions of the
    # snapshot (the canonical "center once, iterate many" PCA-ETL
    # artifacts), so they are session memos (r12 — were per-invocation
    # lazy checkpoints; interleaved A/B 2.42 → 1.66 s min-of-5,
    # results bit-identical).  Only the power steps run per query.
    def _mk_ctr_row() -> DataFrame:
        ctr = (
            _xq_arr()
            .select(F.posexplode("xq").alias("pos", "x"))
            .groupBy("pos")
            .agg(F.expr("CAST(sum(x) DIV count(*) AS BIGINT)").alias("cq"))
        )
        return ctr.agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cq"))),
                lambda st: st["cq"],
            ).alias("cqs")
        )

    ctr_row = memo_checkpoint(spark, sf_dir, "pca_ctr_row", _mk_ctr_row)
    dims = memo_checkpoint(
        spark,
        sf_dir,
        "pca_centered_dims",
        lambda: _xq_arr()
        .crossJoin(F.broadcast(ctr_row))
        .select(
            "vec_id",
            F.expr("zip_with(xq, cqs, (a, b) -> a - b)").alias("xc"),
        ),
    )
    # v as a single broadcast d-array row; v0 = all-ones.
    v_row = ctr_row.select(F.expr("transform(cqs, c -> 1L)").alias("vs"))
    fold = "aggregate(zip_with(xc, vs, (a, b) -> a * b), 0L, (s, x) -> s + x)"
    for _ in range(4):
        # The projection is consumed twice (its own max + the scaled
        # fold-back) — checkpoint it so the unrolled chain stays linear
        # instead of 4^depth re-evaluation (the kmeans/graph-band rule).
        # p is consumed twice (its max + the scaled fold-back): the
        # checkpoint keeps the unrolled chain linear — without it the
        # doubly-referenced rounds re-evaluate 2^depth times through
        # the nested broadcast subtrees (measured 4.2 s vs 2.2 s).
        p = (
            dims.crossJoin(F.broadcast(v_row))
            .select("xc", F.expr(fold).cast("long").alias("p"))
            .localCheckpoint(eager=False)
        )
        s = p.agg(F.max(F.abs(F.col("p"))).cast("long").alias("s"))
        w = (
            p.crossJoin(F.broadcast(s))
            .select(
                F.posexplode(
                    F.expr(
                        "transform(xc,"
                        " c -> c * CAST(p DIV ((s + 999999) DIV 1000000)"
                        " AS BIGINT))"
                    )
                ).alias("pos", "wx")
            )
            .groupBy("pos")
            .agg(F.sum("wx").cast("long").alias("w"))
        )
        # Renormalize INSIDE the one-row collected array: the max-|w|
        # and the truncating division are array expressions over the
        # d-element state, so `w` is consumed exactly once and the round
        # needs no second barrier (the r10 shape checkpointed both p and
        # w; p's checkpoint alone keeps the chain linear).
        v_row = w.agg(
            F.sort_array(F.collect_list(F.struct("pos", "w"))).alias("ws")
        ).select(
            F.expr(
                "transform(ws, s -> CAST(s.w DIV"
                " ((aggregate(ws, 0L, (m, x) -> greatest(m, abs(x.w)))"
                " + 999999) DIV 1000000) AS BIGINT))"
            ).alias("vs")
        )
    out = v_row.select(
        F.posexplode("vs").alias("pos", "v")
    ).select(F.col("pos").cast("long").alias("pos"), "v")
    out = out.localCheckpoint(eager=False)  # read twice: anchor + output
    anchor = (
        out.orderBy(F.abs(F.col("v")).desc(), F.col("pos").asc())
        .limit(1)
        .select(
            F.expr("CASE WHEN v < 0 THEN -1 ELSE 1 END").alias("flip")
        )
    )
    return out.crossJoin(F.broadcast(anchor)).select(
        "pos", (F.col("v") * F.col("flip")).cast("long").alias("component_q6")
    )


@op(
    "sim_mips_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS q_emb,
               CAST(1 + vec_id % 7 AS BIGINT) AS q_mag
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               CAST(1 + e.vec_id % 7 AS BIGINT) * q.q_mag
                   * {_DUCK_DOT.format(a='q.q_emb', b='e.embedding')}
                   AS score,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY CAST(1 + e.vec_id % 7 AS BIGINT) * q.q_mag
                            * {_DUCK_DOT.format(a='q.q_emb',
                                                b='e.embedding')} DESC,
                            e.vec_id) AS mips_rank
        FROM embeddings e CROSS JOIN q
    )
    SELECT query_id, neighbor_id,
           CAST(mips_rank AS INTEGER) AS mips_rank,
           CAST(floor(score * 1e6 + 0.5) AS BIGINT) AS score_q6
    FROM scored WHERE mips_rank <= {KNN_K}
    """,
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (MIPS) top-5 — the retrieval
    primitive when embeddings carry MAGNITUDE (recommender item
    popularity, unnormalized retrieval scores): unlike cosine kNN,
    the best neighbor is NOT the closest direction but the best
    norm × alignment trade-off, so the self-match loses to big-norm
    vectors and cosine-LSH cannot index it directly.  The fixture
    vectors are unit-norm, so a deterministic per-vector magnitude
    (1 + vec_id % 7, exact BIGINT) rebuilds the general case; score =
    m_q · m_c · ⟨q, c⟩ with the dot folded in the identical sequential
    order both engines use everywhere else in this module.  Ranking
    uses the UNROUNDED score with a vec_id tie-break; the graded
    column is the 1e-6-quantized BIGINT score.

    Scale shape: brute force is one broadcast of the query block
    against a corpus scan (embarrassingly parallel, per-partition
    top-k heaps).  The documented index path at 100 TB is the
    standard MIPS→cosine reduction — augment each corpus vector with
    sqrt(M² − ‖x‖²) so inner product order matches cosine order in
    d+1 dims — after which sim_ann_lsh's banded hyperplane index
    applies unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        (F.lit(1) + F.col("vec_id") % 7).cast("bigint").alias("q_mag"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        (F.lit(1) + F.col("vec_id") % 7).cast("bigint").alias("c_mag"),
    )
    scored = corpus.join(F.broadcast(queries)).select(
        "query_id",
        "neighbor_id",
        (
            F.col("c_mag").cast("double")
            * F.col("q_mag").cast("double")
            * F.expr(_DOT.format(a="q_emb", b="c_emb"))
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("mips_rank", F.row_number().over(w))
        .filter(F.col("mips_rank") <= KNN_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("mips_rank").cast("int").alias("mips_rank"),
            F.expr("CAST(floor(score * 1e6 + 0.5) AS BIGINT)").alias(
                "score_q6"
            ),
        )
    )
