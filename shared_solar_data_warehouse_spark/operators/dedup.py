"""Deduplication operators (SURVEY.md §2.10): exact content-hash dedup,
exact shingle-Jaccard near-dup pairs (the ground truth), MinHash-LSH
banding (the 100 TB scale path, graded against the ground truth), and
connected-component dup clustering via iterative min-label propagation.

Fixture reality (FIXTURES.md): 0 exact duplicates, and token-SET
similarity saturates (31-token vocabulary) — so near-dup similarity is
defined over 3-word shingle SETS, which the fixture's generator makes
discriminative.

Scale design: the exact pair path is O(Σ per-shingle doc-count²) — fine
as ground truth / verifier, quadratic on hot shingles.  The MinHash path
is the one that survives 100 TB: fixed-width signatures (one narrow
shuffle), banded bucketing (only same-bucket candidates meet), then
exact verification on candidates only — the classic
two-pass "approximate to find, exact to confirm" pattern.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_LOG = logging.getLogger("shared_solar_data_warehouse_spark.dedup")

from shared_solar_data_warehouse_spark.materialize import memo_checkpoint
from shared_solar_data_warehouse_spark.registry import op
from shared_solar_data_warehouse_spark.sources.io import load_table, spread

#: Jaccard threshold for "near-duplicate" over 3-word shingle sets.
NEAR_DUP_TAU = 0.35

#: MinHash signature layout: 12 bands × 2 rows = 24 hash functions.
#: Candidate-capture probability at Jaccard s is 1-(1-s^2)^12 —
#: ~0.79 at s=0.35, >0.99 at s=0.6.
MINHASH_BANDS = 12
MINHASH_ROWS = 2

#: Portable shingle hash: 60-bit md5 prefix folded mod the Mersenne
#: prime 2^31-1 — verified bit-equal across Spark and DuckDB.
_MH_P = 2147483647  # 2^31 - 1, Mersenne prime
_PORTABLE_H = "CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT) % 2147483647"

#: 24 affine permutations (a, b) — consecutive primes < 1e9, so
#: a * h < 2^61 for h < 2^31-1 (no int64 overflow on either engine).
#: Same portable-hash algebra as `dedup_minhash_signature`; 24 lanes
#: feed the 12×2 banding above.
_LSH_PERMS = (
    (1299709, 104729), (15485863, 32452843), (49979687, 86028121),
    (67867967, 122949823), (141650939, 160481183), (179424673, 198491317),
    (217645177, 236887691), (256203161, 275604541), (295075147, 314606869),
    (334214459, 353868013), (373587883, 393342739), (413158511, 433024223),
    (452930459, 472882027), (492876847, 512927357), (533000389, 553105243),
    (573259391, 593441861), (613651349, 633910099), (654188383, 674506081),
    (694847533, 715225739), (735632791, 756065159), (776531401, 797003413),
    (817504243, 838041641), (858599503, 879190747), (899809343, 920419813),
)

_SHINGLE_SQL = """
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(toks) - 2),
                   i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))
                   AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= 3
"""


def shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles array) with DISTINCT 3-word shingles per doc.

    The fixture table is a single parquet file, so without an explicit
    fan-out the CPU-heavy shingle derivation runs as ONE task; at real
    scale the input arrives in many files and this repartition is a
    no-op-cost hash exchange of (doc_id, text) rows.

    The result is localCheckpoint-materialized AND memoized per
    (context, snapshot): every consumer fans the shingle column out into
    MANY downstream expressions (24 minhash signatures, posting-list
    explode, verification arrays), and Catalyst's projection collapse
    would otherwise inline the whole tokenize+shingle subtree into each
    one — a silent 24x recompute.  The checkpoint is a hard pipeline
    barrier; the memo is the local twin of the "signature table is an
    ETL artifact, computed once per corpus snapshot" design that four
    dedup operators share (see materialize.memo_checkpoint).
    """

    def build() -> DataFrame:
        d = spread(spark, load_table(spark, sf_dir, "documents"))
        return (
            d.withColumn("toks", F.split("text", " "))
            .filter(F.size("toks") >= 3)
            .select(
                "doc_id",
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(toks) - 2),"
                        " i -> concat(element_at(toks, i), ' ',"
                        " element_at(toks, i+1), ' ', element_at(toks, i+2)))"
                    )
                ).alias("shingles"),
            )
        )

    return memo_checkpoint(spark, sf_dir, "shingle_sets", build)


def _lane_minima(shingles_col, perms) -> F.Column:
    """All affine-lane MinHash minima over a shingle array in ONE pass,
    returned as an array<bigint> of ``len(perms)`` lane minima.

    The naive per-lane ``array_min(transform(hs, ...))`` lets Catalyst
    inline the md5-prefix hash transform into EVERY lane expression — a
    silent |perms|× recompute of the expensive string hash (caught in
    the r4 bench diagnosis: the dedup_near_minhash plan carried 25 md5
    nodes).  Here the hash is bound once per shingle as a lambda
    variable (the outer ``transform``'s element), each shingle fans out
    to its |perms| integer lane values JVM-side, and a
    ``aggregate``+``zip_with(least)`` fold takes the per-lane minima —
    md5 runs exactly once per shingle regardless of lane count.
    """
    hashed = F.transform(
        shingles_col,
        lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint")
        % F.lit(_MH_P),
    )
    perm_arr = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in perms
        ]
    )
    lane_vals = F.transform(
        hashed,
        lambda h: F.transform(
            perm_arr, lambda ab: (ab["a"] * h + ab["b"]) % F.lit(_MH_P)
        ),
    )
    init = F.expr(f"array_repeat(CAST({_MH_P} AS BIGINT), {len(perms)})")
    return F.aggregate(
        lane_vals,
        init,
        lambda acc, x: F.zip_with(acc, x, lambda m, v: F.least(m, v)),
    )


def exact_pairs(spark: SparkSession, sf_dir: str, tau: float) -> DataFrame:
    """All doc pairs (a<b) with shingle-set Jaccard >= tau — exact.

    Shape: ONE shuffle groups postings by shingle; each group emits its
    C(c,2) ordered pairs via a nested array ``transform`` (JVM-side, no
    Python); a second shuffle counts co-occurrences per pair.  This
    beats the naive exploded self-join (which shuffles both sides and
    recomputes the shingle subtree twice) ~4x at sf0.1.  A length-ratio
    prune drops pairs where even a full containment couldn't reach tau
    (max Jaccard = min(n)/max(n)) before the pair shuffle.

    100 TB note: per-shingle pair fan-out is O(c^2) on a hot shingle's
    posting list — exact all-pairs is inherently so.  At scale, run
    this only as the verifier behind `dedup_near_minhash`'s banded
    candidates, or bound posting lists with a document-frequency cap /
    prefix filter first.

    Memoized per (context, snapshot, tau): the pair list is the second
    shared ETL artifact of the dedup pipeline — `dedup_near_shingle`
    publishes it and both connected-component operators consume it.
    """

    def build() -> DataFrame:
        s = shingle_sets(spark, sf_dir)
        exploded = s.select(
            "doc_id",
            F.size("shingles").alias("n_sh"),
            F.explode("shingles").alias("sh"),
        )
        pair_expr = (
            "flatten(transform(docs, (x, i) ->"
            " transform(slice(docs, i + 2, size(docs) - i - 1), y -> struct("
            "   least(x.doc_id, y.doc_id) AS doc_a,"
            "   greatest(x.doc_id, y.doc_id) AS doc_b,"
            "   if(x.doc_id < y.doc_id, x.n_sh, y.n_sh) AS n_a,"
            "   if(x.doc_id < y.doc_id, y.n_sh, x.n_sh) AS n_b))))"
        )
        common = (
            exploded.groupBy("sh")
            .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("docs"))
            .filter(F.size("docs") > 1)
            .select(F.explode(F.expr(pair_expr)).alias("p"))
            .filter(
                F.least("p.n_a", "p.n_b").cast("double")
                >= F.lit(tau) * F.greatest("p.n_a", "p.n_b").cast("double")
            )
            .groupBy("p.doc_a", "p.doc_b", "p.n_a", "p.n_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        jaccard = F.col("n_common").cast("double") / (
            F.col("n_a") + F.col("n_b") - F.col("n_common")
        ).cast("double")
        return common.select(
            "doc_a", "doc_b", jaccard.alias("jaccard")
        ).filter(F.col("jaccard") >= tau)

    return memo_checkpoint(spark, sf_dir, ("exact_pairs", tau), build)


def _pairs_sql(tau: float) -> str:
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    ex AS (
        SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sh
    ),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS n_common
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE)
               AS jaccard
    FROM common
    WHERE CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE)
          >= {tau}
    """


@op(
    "dedup_exact",
    oracle="""
    SELECT doc_id, md5(text) AS content_hash,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
               AS is_keeper
    FROM documents
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-text dedup via content hash with a deterministic keeper
    (min doc_id per hash).  Fixtures have 0 exact dups, so every row is
    a keeper — the op still proves the construction."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        d.withColumn("content_hash", F.md5("text"))
        .withColumn("is_keeper", F.row_number().over(w) == 1)
        .select("doc_id", "content_hash", "is_keeper")
    )


@op(
    "dedup_near_shingle",
    oracle=f"""
    {_pairs_sql(NEAR_DUP_TAU)}
    """,
)
def dedup_near_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard near-dup pairs (ground truth).
    Jaccard is a ratio of integers — identical doubles on both engines,
    so even the >= tau boundary is hash-stable."""
    return exact_pairs(spark, sf_dir, NEAR_DUP_TAU)


def _lsh_bucket_sql() -> str:
    """The 12 DuckDB band-bucket expressions mirroring the builder:
    bucket = 'band:minlane(2b):minlane(2b+1)' over the portable md5
    shingle hash pushed through the 24 _LSH_PERMS affine lanes."""
    lane = (
        "list_min(list_transform(hs, h -> ({a} * h + {b}) % " + str(_MH_P) + "))"
    )
    buckets = []
    for band in range(MINHASH_BANDS):
        a0, b0 = _LSH_PERMS[band * MINHASH_ROWS]
        a1, b1 = _LSH_PERMS[band * MINHASH_ROWS + 1]
        buckets.append(
            f"concat({band}, ':', {lane.format(a=a0, b=b0)},"
            f" ':', {lane.format(a=a1, b=b1)})"
        )
    return "[" + ", ".join(buckets) + "]"


_NEAR_MINHASH_ORACLE = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    hashed AS (
        SELECT doc_id, shingles,
               list_transform(shingles, s -> {_PORTABLE_H.format(s='s')}) AS hs
        FROM sh
    ),
    buckets AS (
        SELECT doc_id, unnest({{bucket_list}}) AS bucket FROM hashed
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared_bands
        FROM buckets a JOIN buckets b
          ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ver AS (
        SELECT c.doc_a, c.doc_b, c.n_shared_bands,
               len(list_intersect(x.shingles, y.shingles)) AS n_common,
               len(x.shingles) AS n_a, len(y.shingles) AS n_b
        FROM cand c
        JOIN hashed x ON x.doc_id = c.doc_a
        JOIN hashed y ON y.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE)
               AS jaccard,
           n_shared_bands
    FROM ver
    WHERE CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE)
          >= {NEAR_DUP_TAU}
"""


def minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_sh, sig) MinHash signature table, memoized per
    (context, snapshot) — the dedup band's second-stage ETL artifact
    (r11): the 24-lane md5-prefix fold over every shingle is the
    band's single most expensive projection, and both
    `dedup_near_minhash` and `dedup_minhash_calibration` consumed it
    per call.  At 100 TB this IS the signature job's output table
    (SURVEY.md §7.4), written once per corpus snapshot.  Downstream
    band keys derive from the MATERIALIZED sig arrays, so the
    CollapseProject 24× hash-inline trap the per-op comments guard
    against cannot re-open."""

    def build() -> DataFrame:
        s = shingle_sets(spark, sf_dir).withColumn("n_sh", F.size("shingles"))
        sig = _lane_minima(F.col("shingles"), _LSH_PERMS)
        return s.select(
            "doc_id",
            "n_sh",
            # Bind the fold once as a lambda element (the established
            # anti-CollapseProject idiom) so the single build evaluates
            # one fold per doc.
            F.element_at(F.transform(F.array(sig), lambda g: g), 1).alias(
                "sig"
            ),
        )

    return memo_checkpoint(spark, sf_dir, "minhash_sigs", build)


def _bands_of(sg) -> F.Column:
    """'band:lane0:lane1' keys from a (materialized) signature array."""
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(band),
                F.element_at(sg, band * MINHASH_ROWS + 1),
                F.element_at(sg, band * MINHASH_ROWS + 2),
            )
            for band in range(MINHASH_BANDS)
        ]
    )


@op(
    "dedup_near_minhash",
    oracle=_NEAR_MINHASH_ORACLE.format(bucket_list=_lsh_bucket_sql()),
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, exact-verified (the scale path).

    Signature: ONE portable md5-prefix hash per shingle (the expensive
    string hash happens once — enforced by `_lane_minima`'s
    single-pass fold, since per-lane ``array_min(transform(...))``
    lets Catalyst inline the hash 24×), then 24 integer affine lanes
    ((a*h+b) mod 2^31-1, `_LSH_PERMS`) reduced to per-lane minima —
    all JVM expression work, and bit-equal in DuckDB, which makes the
    ENTIRE pipeline (signatures, banding, bucket join, verification)
    hash-checkable against an independent engine — LSH recall < 1
    doesn't matter for parity because both engines derive the same
    deterministic candidates.  At 100 TB swap the md5 prefix for
    xxhash64 (~5x cheaper, same lane algebra); the banding and
    verification shapes are hash-agnostic.

    Banding 12×2: docs sharing any band bucket become candidates;
    candidates are exact-Jaccard verified against the same threshold
    as dedup_near_shingle.  Output is (doc_a, doc_b, jaccard,
    n_shared_bands).  tests/test_similarity.py asserts recall >= 0.7
    against the exact pairs at tau, and precision == 1.0 (the
    verification step discards false candidates).
    """
    # Signatures come from the shared memo artifact (one 24-lane fold
    # per corpus snapshot, r11); band keys derive from the MATERIALIZED
    # sig arrays, so no hash recompute is reachable.
    banded = minhash_sigs(spark, sf_dir).select(
        "doc_id", "n_sh", _bands_of(F.col("sig")).alias("bands")
    )
    # Candidate pairs carry only ids: group each bucket's posting list
    # and emit its pairs JVM-side (same shape as exact_pairs) — the
    # heavy shingle arrays never enter the candidate shuffle.
    buckets = banded.select(
        "doc_id", F.explode("bands").alias("bucket")
    )
    pair_expr = (
        "flatten(transform(docs, (x, i) ->"
        " transform(slice(docs, i + 2, size(docs) - i - 1), y -> struct("
        "   least(x, y) AS doc_a, greatest(x, y) AS doc_b))))"
    )
    candidates = (
        buckets.groupBy("bucket")
        .agg(F.collect_list("doc_id").alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    # Exact verification: only the candidate ID PAIRS (small by LSH
    # design) meet doc_a's shingle arrays, and the join carries no
    # hint — candidates come out of an aggregation, so AQE's runtime
    # stats broadcast them when they are genuinely small and fall back
    # to a shuffle join when a pathological corpus (dense dup cliques)
    # makes them candidate-quadratic.  The second join — which must
    # co-locate doc_a's and doc_b's arrays in one row — shuffles on
    # doc_b, so the wide arrays move once through a partitioned
    # exchange and NEVER through the driver.  (The ~sf3 probe caught
    # the original shape force-broadcasting candidates-joined-with-
    # sh_a: a payload that grows with candidates x array width.)
    sh = shingle_sets(spark, sf_dir).select(
        "doc_id", F.size("shingles").alias("n_sh"), "shingles"
    )
    half = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        F.col("shingles").alias("sh_a"),
    ).join(candidates, "doc_a")
    verified = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        F.col("shingles").alias("sh_b"),
    ).join(half, "doc_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jaccard = n_common.cast("double") / (
        F.col("n_a") + F.col("n_b") - n_common
    ).cast("double")
    return (
        verified.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= NEAR_DUP_TAU)
        .select("doc_a", "doc_b", "jaccard", "n_shared_bands")
    )


@op(
    "dedup_cluster",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_pairs_sql(NEAR_DUP_TAU)}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over near-dup pairs -> canonical doc per
    cluster (min doc_id).  Delegates to `_cluster_labels` (memoized);
    see there for the two-regime algorithm and the oracle rationale
    (DuckDB recursive CTE computing min reachable id)."""
    return _cluster_labels(spark, sf_dir, NEAR_DUP_TAU)


#: Edge-count ceiling for the driver-side union-find fast path.  Above
#: this, fall back to distributed min-label propagation.  2M edges ≈
#: 32 MB collected — far under driver memory; the dup graph after LSH
#: is ~0.1% of corpus pairs, so even very large corpora stay under it,
#: but the fallback keeps the operator total-scale-safe.
DRIVER_CC_MAX_EDGES = 2_000_000


def cc_driver_union_find(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Exact connected components on the driver: union-find with path
    compression over the (doc_a, doc_b) edge list, min id as the root
    label.  Only safe below DRIVER_CC_MAX_EDGES; callers gate.  Returns
    (doc_id, lab) for every node TOUCHED by an edge (singletons are the
    caller's left-join default).  Module-level (r5, VERDICT r4 item 6)
    so scale parity tests can run it against cc_distributed_min_label
    on the same synthetic graph."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    # ONE Arrow transfer, then pure-python ints: toLocalIterator
    # streams rows through Py4J one at a time (~10-50k rows/s, a
    # growing tax as the dup graph approaches the cap); the cap
    # guarantees the pandas frame is <= ~32 MB, and .tolist() yields
    # plain ints so the union-find dict never holds numpy scalars.
    # (At the current fixtures the op's wall-clock is dominated by the
    # upstream exact-pairs artifact build, not this transfer — the
    # switch matters as edge counts approach DRIVER_CC_MAX_EDGES.)
    pdf = pairs.select("doc_a", "doc_b").toPandas()
    for a, b in zip(
        pdf["doc_a"].to_numpy().tolist(), pdf["doc_b"].to_numpy().tolist()
    ):
        ra, rb = find(a), find(b)
        if ra != rb:  # min id wins so labels match the oracle
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    labels = [(n, find(n)) for n in list(parent)]
    return spark.createDataFrame(labels, "doc_id long, lab long")


def cc_distributed_min_label(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Distributed connected components: bounded iterative min-label
    propagation over the doubled edge list, localCheckpoint every round
    to truncate lineage (SURVEY.md §7.4).  Same (doc_id, lab) contract
    as cc_driver_union_find — the scale path for dup graphs above
    DRIVER_CC_MAX_EDGES.

    Each round does ONE neighbor-min hop followed by ONE pointer-
    doubling shortcut (lab <- lab[lab], a self-join on the label map),
    so labels travel 2^r hops after r rounds instead of r — the
    path-halving trick from PRAM/Hash-to-Min CC.  Without it the
    20-round cap silently mislabels any component whose diameter
    exceeds 20 (a 100-doc near-dup CHAIN — every doc a near-dup of the
    next — is a realistic shape for serially-edited documents), which
    the r5 scale parity test (tests/test_properties.py) would catch:
    propagation-only needs diameter rounds, shortcutting needs
    ~log2(diameter).

    Convergence (r6): each round already pays one checkpointed count
    for the changed-label probe, so the loop EXITS as soon as a round
    changes nothing (logged below) instead of always burning the cap;
    the cap remains the safety bound.  100 TB note: past ~10^10 edges
    the round cost is dominated by re-shuffling the full edge list
    each hop; the production upgrade is the large-star/small-star
    alternation (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014), which rewrites EDGES toward component
    minima each round — same min-label contract, provably
    O(log^2 n) rounds, and each round's output shrinks as stars
    collapse, so it composes with this function's interface
    unchanged."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("lab"))
        .localCheckpoint(eager=True)
    )
    n_rounds = 0
    for n_rounds in range(1, max_rounds + 1):  # cap >> log2(diameter)
        neighbor_min = (
            labels.join(edges, labels.doc_id == edges.src)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("lab").alias("nlab"))
        )
        hopped = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))
            ).alias("lab"),
        )
        # pointer doubling: lab <- label-of-label.  Every label IS a
        # node id present in the map, so the self-join is total; the
        # left join + coalesce is belt-and-braces for the root rows.
        updated = (
            hopped.alias("u")
            .join(
                hopped.select(
                    F.col("doc_id").alias("lab"), F.col("lab").alias("lab2")
                ).alias("p"),
                "lab",
                "left",
            )
            .select(
                "doc_id",
                F.least(
                    F.col("lab"), F.coalesce(F.col("lab2"), F.col("lab"))
                ).alias("lab"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "doc_id")
            .filter(F.col("u.lab") != F.col("l.lab"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            _LOG.info(
                "cc_distributed_min_label converged after %d round(s)",
                n_rounds,
            )
            break
    else:
        _LOG.warning(
            "cc_distributed_min_label hit the %d-round cap without a "
            "zero-change round — component diameter may exceed 2^%d",
            max_rounds,
            max_rounds,
        )
    return labels


def _cluster_labels(spark: SparkSession, sf_dir: str, tau: float) -> DataFrame:
    """(doc_id, cluster_id) for EVERY document; cluster_id = min doc_id
    reachable through near-dup pairs at ``tau``.  Memoized: this map is
    the third ETL artifact of the dedup pipeline (`dedup_cluster`
    publishes it, `dedup_keep_canonical` decorates it).

    Two regimes, chosen by measured edge count — the same hybrid
    GraphFrames/GraphX users hand-roll for connected components:

    * **Small dup graph** (≤ DRIVER_CC_MAX_EDGES, the common case —
      near-dup edges are a sliver of any corpus): collect the edge
      list, run union-find on the driver (exact, O(E α(E))), broadcast
      the label map back.  One job + one broadcast join instead of
      ~3 jobs per propagation round.
    * **Large dup graph**: bounded iterative min-label propagation —
      each round joins labels to the doubled edge list and takes the
      min neighbor label; localCheckpoint every round truncates
      lineage (SURVEY.md §7.4); rounds are capped at 20.

    Only nodes touched by an edge can change label; every other doc is
    a singleton cluster of itself, added by the final left join.
    """

    def build() -> DataFrame:
        pairs = exact_pairs(spark, sf_dir, tau)  # memo-materialized
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        n_edges = pairs.count()
        if n_edges <= DRIVER_CC_MAX_EDGES:
            labels_df = cc_driver_union_find(spark, pairs)
        else:
            labels_df = cc_distributed_min_label(pairs)
        return docs.join(
            F.broadcast(labels_df) if n_edges <= DRIVER_CC_MAX_EDGES
            else labels_df,
            "doc_id",
            "left",
        ).select(
            "doc_id",
            F.coalesce("lab", "doc_id").cast("long").alias("cluster_id"),
        )

    return memo_checkpoint(spark, sf_dir, ("cc_labels", tau), build)


# --- SimHash near-dup (the third classic dedup family: bit-signature) ---

#: 60-bit simhash (fits signed BIGINT exactly on both engines via a
#: 15-hex-digit md5 prefix), packed as 4 bands x 15 bits.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15
#: Max hamming distance for "near-duplicate".  MUST stay < SIMHASH_BANDS:
#: by pigeonhole, <= 3 differing bits across 4 bands leaves at least one
#: band identical, so the banded-candidate path below returns EXACTLY the
#: naive all-pairs filter — which is what the oracle computes.
SIMHASH_MAX_HAMMING = 3

_ID_PAIR_EXPR = (
    "flatten(transform(docs, (x, i) ->"
    " transform(slice(docs, i + 2, size(docs) - i - 1), y -> struct("
    "   least(x, y) AS doc_a, greatest(x, y) AS doc_b))))"
)


def _simhash_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, b0..b3): 60-bit token-weighted simhash packed into four
    15-bit band integers.

    Classic simhash: each token votes +w/-w (w = term frequency) on
    every bit of its 60-bit hash; signature bit i is 1 iff the summed
    vote is positive.  All integer math — bit-identical on both
    engines.  Memo-checkpointed: consumed by both the banding and the
    verification join.

    Shape note: the per-bit vote is computed as 60 SUM(IF(bit set, w,
    -w)) aggregate expressions over the (doc, token) rows in ONE
    whole-stage-codegen hash aggregate — NOT by exploding 60 bit rows
    per token (which multiplies the shuffle by 60x and was ~3x slower
    measured at sf0.1).  The 60 sums then pack into 4 band integers in
    a single projection.
    """

    def build() -> DataFrame:
        d = spread(spark, load_table(spark, sf_dir, "documents"))
        tw = (
            d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
            .groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).alias("w"))
            .withColumn(
                "h", F.expr("CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT)")
            )
        )
        vote_aggs = [
            F.sum(
                F.expr(f"IF((shiftright(h, {i}) & 1) = 1, w, -w)")
            ).alias(f"v{i}")
            for i in range(SIMHASH_BANDS * SIMHASH_BAND_BITS)
        ]
        votes = tw.groupBy("doc_id").agg(*vote_aggs)
        band_cols = [
            sum(
                (
                    F.when(
                        F.col(f"v{b * SIMHASH_BAND_BITS + j}") > 0,
                        F.lit(1 << j).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                    for j in range(SIMHASH_BAND_BITS)
                ),
                F.lit(0).cast("long"),
            ).alias(f"b{b}")
            for b in range(SIMHASH_BANDS)
        ]
        return votes.select("doc_id", *band_cols)

    return memo_checkpoint(spark, sf_dir, "simhash_packed", build)


#: Per-bucket pair generation with the hamming verify FUSED into the
#: higher-order expression: each bucket's posting list carries the full
#: packed signature, every i<j pair's hamming is computed JVM-side
#: inside the flatten/transform, and `filter(p -> hamming <= 3)` drops
#: non-duplicates BEFORE anything leaves the bucket row.  Only real
#: near-dup pairs reach the distinct shuffle.
_SIG_PAIR_HAM_EXPR = (
    "flatten(transform(docs, (x, i) ->"
    " filter(transform(slice(docs, i + 2, size(docs) - i - 1), y -> struct("
    "   least(x.doc_id, y.doc_id) AS doc_a,"
    "   greatest(x.doc_id, y.doc_id) AS doc_b,"
    "   CAST(bit_count(x.b0 ^ y.b0) + bit_count(x.b1 ^ y.b1)"
    "      + bit_count(x.b2 ^ y.b2) + bit_count(x.b3 ^ y.b3) AS INT)"
    "       AS hamming)),"
    f"  p -> p.hamming <= {SIMHASH_MAX_HAMMING})))"
)


@op(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tw AS (
      SELECT doc_id, tok, count(*) AS w,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks GROUP BY 1, 2
    ), votes AS (
      SELECT doc_id, g.i,
             sum(CASE WHEN (h >> g.i) & 1 = 1 THEN w ELSE -w END) AS v
      FROM tw, generate_series(0, 59) g(i) GROUP BY 1, 2
    ), packed AS (
      SELECT doc_id,
             {", ".join(
                 f"sum(CASE WHEN i // 15 = {b} AND v > 0"
                 f" THEN CAST(pow(2, i % 15) AS BIGINT) ELSE 0 END) AS b{b}"
                 for b in range(4))}
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
                + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
                AS INTEGER) AS hamming
    FROM packed a JOIN packed b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
          <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3 over 60-bit signatures).

    Scale path, yet FULL-oracle-checkable: candidates come from exact
    band-bucket matches (4 bands x 15 bits — only same-bucket docs ever
    meet, one narrow shuffle of (band, value, signature)), and the
    hamming verification runs INSIDE the per-bucket pair expression
    (`_SIG_PAIR_HAM_EXPR`), so candidate pairs that fail the distance
    test never materialize as rows.  At a duplicate-heavy ~sf1 smoke
    this is the difference between shuffling 27.4M same-band candidate
    pairs into a distinct+joins (the previous shape) and shuffling the
    276k verified pairs only — 15.6 s -> 7.0 s, identical output.  The
    final distinct dedups pairs that share several bands.  Because max
    hamming < band count, pigeonhole guarantees every qualifying pair
    shares a band — the banded result EQUALS the O(n^2) filter the
    DuckDB oracle runs.
    """
    packed = _simhash_packed(spark, sf_dir)
    buckets = packed.select(
        F.struct("doc_id", "b0", "b1", "b2", "b3").alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"b{b}").alias("val")
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    )
    return (
        buckets.groupBy("bk.band", "bk.val")
        .agg(F.collect_list("sig").alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.explode(F.expr(_SIG_PAIR_HAM_EXPR)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
    )


@op(
    "dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE pairs AS ({{pairs}}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    clusters AS (
        SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
        FROM reach GROUP BY node
    )
    SELECT c.doc_id, c.cluster_id,
           (c.doc_id = c.cluster_id) AS is_kept,
           count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
    FROM clusters c
    """.format(pairs=_pairs_sql(NEAR_DUP_TAU)),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end of the dedup pipeline: pairs -> connected components ->
    keep ONE canonical doc per cluster (min doc_id) and drop the rest.
    The training-corpus shape: `filter(is_kept)` is the deduped
    dataset; cluster_size is the dup-audit column.  Pure composition of
    `dedup_cluster` + a window — no new shuffle beyond the cluster
    map's own."""
    clusters = dedup_cluster(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    return clusters.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_kept"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


CONTAIN_TAU = 0.9


@op(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    ex AS (
        SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sh
    ),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS n_common
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE)
               AS containment,
           n_a <= n_b AS smaller_is_a
    FROM common
    WHERE CAST(n_common AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE)
          >= {CONTAIN_TAU}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: |A∩B| / |smaller set| —
    catches subset/superstring duplication (a doc embedded inside a
    longer one) that symmetric Jaccard misses, the complement of
    `dedup_near_shingle` in an LLM-corpus pipeline.

    Same one-shuffle posting-list pair generation as `exact_pairs`, but
    WITHOUT its length-ratio prune — containment is size-ratio-blind by
    definition (a tiny doc fully inside a huge one scores 1.0).  The
    ratio is ints-over-int (identical doubles both engines, hash-stable
    boundary).  100 TB note: bound hot posting lists with a document-
    frequency cap before the pair fan-out; the prefix-filter trick does
    NOT apply to containment.
    """
    s = shingle_sets(spark, sf_dir)
    exploded = s.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("sh"),
    )
    pair_expr = (
        "flatten(transform(docs, (x, i) ->"
        " transform(slice(docs, i + 2, size(docs) - i - 1), y -> struct("
        "   least(x.doc_id, y.doc_id) AS doc_a,"
        "   greatest(x.doc_id, y.doc_id) AS doc_b,"
        "   if(x.doc_id < y.doc_id, x.n_sh, y.n_sh) AS n_a,"
        "   if(x.doc_id < y.doc_id, y.n_sh, x.n_sh) AS n_b))))"
    )
    common = (
        exploded.groupBy("sh")
        .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy("p.doc_a", "p.doc_b", "p.n_a", "p.n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    containment = F.col("n_common").cast("double") / F.least(
        "n_a", "n_b"
    ).cast("double")
    return common.select(
        "doc_a",
        "doc_b",
        containment.alias("containment"),
        (F.col("n_a") <= F.col("n_b")).alias("smaller_is_a"),
    ).filter(F.col("containment") >= CONTAIN_TAU)


#: Span-dedup shingle width (tokens).  8 matches the "50-token span"
#: idea scaled to the fixture's short docs: long enough that a match is
#: real shared text, short enough to be non-empty on every fixture doc.
SPAN_NGRAM_K = 8


@op(
    "dedup_span_ngram",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks
        FROM documents
    ),
    spans AS (
        SELECT doc_id, source,
               unnest(list_transform(
                   generate_series(1, len(toks) - 7),
                   i -> array_to_string(toks[i:i+7], ' '))) AS shingle
        FROM toks WHERE len(toks) >= 8
    ),
    census AS (
        SELECT shingle, count(DISTINCT doc_id) >= 2 AS dup
        FROM spans GROUP BY shingle
    ),
    flagged AS (
        SELECT s.source, s.doc_id, c.dup
        FROM spans s JOIN census c ON s.shingle = c.shingle
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS total_spans,
           CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_spans,
           CAST(count(DISTINCT CASE WHEN dup THEN doc_id END) AS BIGINT)
               AS n_docs_with_dup,
           CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS dup_span_ppm
    FROM flagged GROUP BY source
    """,
)
def dedup_span_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level (sub-document) duplication census — the ExactSubstr
    idea from the train-dedup literature at token-n-gram granularity:
    a position inside a doc is "duplicated" when its 8-token window
    also occurs in at least one OTHER document, and the per-source
    report (total positions, duplicated positions, ppm, affected docs)
    is what a corpus curator reads before deciding to cut repeated
    boilerplate.  Doc-level dedup (`dedup_exact`/`dedup_near_shingle`)
    cannot see this: two long docs sharing one paragraph are not
    near-duplicates, but every token of that paragraph is still
    memorization fuel.

    Plan (r11): ONE positional 8-gram explode (`transform(sequence)` +
    `slice`), compressed immediately to (shingle, doc, source, cnt) by
    a partially-map-side aggregate, then one count window over the
    shingle partitioning (distinct docs per shingle == compressed row
    count) and a source-bounded final aggregate.  All counts integer;
    the rate is truncating ppm.  100 TB path: identical shape with the
    shingle string replaced by its 128-bit hash for shuffle width
    (collision-verify within bucket, as `dedup_near_minhash` does) and
    a document-frequency cap on the census to bound hot-boilerplate
    posting lists.

    Spread after the scan (io.spread, r11 s3): the 8-gram positional
    explode + array_join is the heaviest map work in the text band and
    ran one task wide on the one-row-group fixture scan (interleaved
    A/B min-of-3: 5.30 -> 2.47 s on the same window); no-op at real
    scale.
    """
    d = spread(spark, load_table(spark, sf_dir, "documents")).withColumn(
        "toks", F.split("text", " ")
    )
    spans = d.filter(F.size("toks") >= SPAN_NGRAM_K).select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {SPAN_NGRAM_K - 1}),"
                f" i -> array_join(slice(toks, i, {SPAN_NGRAM_K}), ' '))"
            )
        ).alias("shingle"),
    )
    # r11 (guide §2.3/§2.4): the r10 shape evaluated the 8-gram explode
    # TWICE (census side + span side) and sort-merge-joined the FULL
    # span table back to the census on the wide shingle string.  Instead
    # compress spans to one row per (shingle, doc, source) with a
    # repetition count — map-side partial aggregation collapses within-
    # doc repeats before the exchange — and flag duplication with ONE
    # count window over the shingle partitioning: distinct docs per
    # shingle is exactly the compressed row count.  One explode pass,
    # two exchanges of the compressed table, no join
    # (plan: 2 explodes + SMJ -> 1 explode + window; same answer since
    # source is functionally dependent on doc_id).
    comp = spans.groupBy("shingle", "doc_id", "source").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("shingle")
    flagged = comp.withColumn("ndocs", F.count(F.lit(1)).over(w))
    return flagged.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("total_spans"),
        F.sum(F.when(F.col("ndocs") >= 2, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("dup_spans"),
        F.count_distinct(F.when(F.col("ndocs") >= 2, F.col("doc_id")))
        .cast("bigint")
        .alias("n_docs_with_dup"),
        F.expr(
            "CAST(sum(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) * 1000000"
            " DIV sum(cnt) AS BIGINT)"
        ).alias("dup_span_ppm"),
    )


#: Affine permutation constants (a, b) for the portable minhash
#: signature op — a,b < _MH_P so a*(h%p)+b stays under 2^62 (no
#: overflow on either engine's BIGINT).  Kept as the first 4 lanes'
#: historical values; `dedup_near_minhash` uses the 24-lane _LSH_PERMS.
_MH_PERMS = ((1299709, 104729), (15485863, 32452843), (49979687, 86028121), (67867967, 122949823))


@op(
    "dedup_minhash_signature",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL})
    SELECT doc_id,
           {", ".join(
               f"list_min(list_transform(shingles, s -> "
               f"({a} * ({_PORTABLE_H.format(s='s')}) + {b}) % {_MH_P})) AS mh{i}"
               for i, (a, b) in enumerate(_MH_PERMS)
           )}
    FROM sh
    """,
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with CROSS-ENGINE hash parity — the fully
    oracle-checked twin of the xxhash64-based LSH pipeline
    (`dedup_near_minhash`, rows-only because Spark's native hash has no
    DuckDB equivalent).  Here the shingle hash is the 60-bit md5 prefix
    (portable integer, verified bit-equal on both engines) pushed
    through 4 affine permutations mod the Mersenne prime 2^31-1; all
    lane minima come out of `_lane_minima`'s single pass over the
    doc's shingle array (md5 once per shingle, not once per lane) —
    per-row vectorized JVM work, zero shuffles beyond the memoized
    shingle build.  At 100 TB you'd swap md5 for xxhash64 (~5x
    cheaper) and keep the identical algebra; this op pins the algebra
    itself against an independent engine."""
    sh = shingle_sets(spark, sf_dir)
    out = sh.select(
        "doc_id", _lane_minima(F.col("shingles"), _MH_PERMS).alias("sig")
    )
    cols = [
        F.element_at("sig", i + 1).alias(f"mh{i}")
        for i in range(len(_MH_PERMS))
    ]
    return out.select("doc_id", *cols)


@op(
    "dedup_fuzzy_blocked",
    oracle="""
    WITH canon AS (
        SELECT min(doc_id) AS doc_id, text, min(lang) AS lang,
               min(n_chars) AS n_chars
        FROM documents GROUP BY text
    ), b AS (
        SELECT doc_id, text, lang, n_chars,
               array_to_string(string_split(text, ' ')[1:3], ' ') AS blk
        FROM canon
    )
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(a.text, c.text) AS BIGINT) AS edit_dist,
           CAST(greatest(a.n_chars, c.n_chars) AS BIGINT) AS max_len
    FROM b a JOIN b c
      ON a.lang = c.lang AND a.blk = c.blk AND a.doc_id < c.doc_id
     AND abs(a.n_chars - c.n_chars) <= 16
     AND levenshtein(a.text, c.text) * 5 <= greatest(a.n_chars, c.n_chars)
    """,
)
def dedup_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance) dedup — the record-linkage
    pattern for near-dups that shingle/minhash misses (small in-place
    edits): collapse byte-identical texts to one canonical
    representative FIRST (min doc_id per text — exact dups are
    dedup_exact's job, and skipping this step makes the pair stage
    quadratic in the duplicate multiplicity, the scale-smoke
    failure mode), then block on cheap keys (lang + first-3-token
    prefix), gate
    candidates on |length difference| <= 16 (a free lower bound on
    edit distance), and only THEN pay O(n·m) Levenshtein, keeping
    pairs whose distance is <= 20% of the longer text (integer
    cross-multiplied, no division).  Blocking is what makes this
    100 TB-shaped: the quadratic work happens per block, never per
    corpus — the same posting-list discipline as dedup_near_shingle;
    at real scale the prefix block is replaced/augmented by an LSH
    band, and the Levenshtein stage is the exact verifier.  Spark
    and DuckDB both implement unrestricted Levenshtein, so the
    distances are integers that match exactly."""
    canon = (
        load_table(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("lang").alias("lang"),
            F.min("n_chars").alias("n_chars"),
        )
    )
    d = canon.select(
        "doc_id",
        "text",
        "lang",
        "n_chars",
        F.array_join(F.slice(F.split("text", " "), 1, 3), " ").alias("blk"),
    )
    a = d.alias("a")
    c = d.alias("c")
    lev = F.levenshtein(F.col("a.text"), F.col("c.text"))
    return a.join(
        c,
        (F.col("a.lang") == F.col("c.lang"))
        & (F.col("a.blk") == F.col("c.blk"))
        & (F.col("a.doc_id") < F.col("c.doc_id"))
        & (F.abs(F.col("a.n_chars") - F.col("c.n_chars")) <= 16)
        & (lev * 5 <= F.greatest(F.col("a.n_chars"), F.col("c.n_chars"))),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("c.doc_id").alias("doc_b"),
        lev.cast("bigint").alias("edit_dist"),
        F.greatest(F.col("a.n_chars"), F.col("c.n_chars"))
        .cast("bigint")
        .alias("max_len"),
    )


_CALIBRATION_ORACLE = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    hashed AS (
        SELECT doc_id, shingles,
               list_transform(shingles, s -> {_PORTABLE_H.format(s='s')}) AS hs
        FROM sh
    ),
    sigs AS (
        SELECT doc_id, shingles,
               [{{lane_list}}] AS sig
        FROM hashed
    ),
    buckets AS (
        SELECT doc_id, unnest({{bucket_list}}) AS bucket FROM hashed
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared_bands
        FROM buckets a JOIN buckets b
          ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b, c.n_shared_bands,
           CAST(len(list_filter(list_zip(x.sig, y.sig), p -> p[1] = p[2]))
                * 1000000 // {len(_LSH_PERMS)} AS BIGINT) AS est_jaccard_ppm,
           CAST(len(list_intersect(x.shingles, y.shingles)) * 1000000
                // (len(x.shingles) + len(y.shingles)
                    - len(list_intersect(x.shingles, y.shingles)))
               AS BIGINT) AS exact_jaccard_ppm,
           CAST(len(list_filter(list_zip(x.sig, y.sig), p -> p[1] = p[2]))
                * 1000000 // {len(_LSH_PERMS)}
                - len(list_intersect(x.shingles, y.shingles)) * 1000000
                  // (len(x.shingles) + len(y.shingles)
                      - len(list_intersect(x.shingles, y.shingles)))
               AS BIGINT) AS err_ppm
    FROM cand c
    JOIN sigs x ON x.doc_id = c.doc_a
    JOIN sigs y ON y.doc_id = c.doc_b
"""


def _duck_lane_list() -> str:
    lane = (
        "list_min(list_transform(hs, h -> ({a} * h + {b}) % "
        + str(_MH_P)
        + "))"
    )
    return ", ".join(lane.format(a=a, b=b) for a, b in _LSH_PERMS)


@op(
    "dedup_minhash_calibration",
    oracle=_CALIBRATION_ORACLE.format(
        bucket_list=_lsh_bucket_sql(), lane_list=_duck_lane_list()
    ),
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration over the LSH candidate set: for
    every banding candidate pair, the sketch's Jaccard ESTIMATE
    (matching lanes / 24) next to the EXACT shingle Jaccard and their
    signed error — the measurement that tells an operator whether 24
    lanes suffice for the corpus at hand (E[matching/K] = J, σ =
    sqrt(J(1−J)/K) ≈ 0.10 at J=0.35, K=24) before trusting the
    sketch at a scale where exact verification is rationed.  Both
    metrics are integer ppm (lane-match count and set sizes are
    integers), so the whole calibration table hash-verifies.

    Plan shape: signatures and shingles come from the SAME memoized
    artifact and one `_lane_minima` fold (md5 once per shingle); the
    candidate ids travel alone through the bucket shuffle; the bare id
    pairs broadcast onto doc_a's arrays and the doc_b side joins by
    shuffle (arrays move once through a partitioned exchange, never
    through the driver) — the dedup_near_minhash skeleton with the
    verification step swapped for the estimator/exact comparison."""
    # Signatures from the shared memo (r11 — one 24-lane fold per
    # corpus snapshot); shingle arrays re-attach from the shingle memo
    # by an un-hinted doc_id join (never broadcast: the shingle payload
    # is corpus-sized at scale — AQE picks the strategy from runtime
    # sizes, the same rule as the candidate joins below).
    with_sig = minhash_sigs(spark, sf_dir).join(
        shingle_sets(spark, sf_dir), "doc_id"
    )
    banded = with_sig.select(
        "doc_id", _bands_of(F.col("sig")).alias("bands")
    )
    buckets = banded.select("doc_id", F.explode("bands").alias("bucket"))
    pair_expr = (
        "flatten(transform(docs, (x, i) ->"
        " transform(slice(docs, i + 2, size(docs) - i - 1), y -> struct("
        "   least(x, y) AS doc_a, greatest(x, y) AS doc_b))))"
    )
    candidates = (
        buckets.groupBy("bucket")
        .agg(F.collect_list("doc_id").alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    side = with_sig.select("doc_id", "n_sh", "shingles", "sig")
    j = side.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        F.col("shingles").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    ).join(candidates, "doc_a")  # un-hinted: AQE broadcasts iff small
    # Plain shuffle join on doc_b — broadcasting `j` here would ship the
    # candidates ALREADY JOINED with doc_a's shingle+signature arrays,
    # a payload that grows with candidates x array width (the exact
    # OOM shape the ~sf3 probe caught on dedup_near_minhash).
    j = side.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        F.col("shingles").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    ).join(j, "doc_b")
    n_lanes = len(_LSH_PERMS)
    est = (
        "CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y),"
        f" m -> m)) * 1000000 DIV {n_lanes} AS BIGINT)"
    )
    exact = (
        "CAST(size(array_intersect(sh_a, sh_b)) * 1000000"
        " DIV (n_a + n_b - size(array_intersect(sh_a, sh_b))) AS BIGINT)"
    )
    return j.select(
        "doc_a",
        "doc_b",
        "n_shared_bands",
        F.expr(est).alias("est_jaccard_ppm"),
        F.expr(exact).alias("exact_jaccard_ppm"),
        F.expr(f"CAST({est} - {exact} AS BIGINT)").alias("err_ppm"),
    )
