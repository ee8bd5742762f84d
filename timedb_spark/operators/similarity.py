"""Similarity search over the ``embeddings`` table (SURVEY §2d).

``ann_bruteforce`` — exact top-k cosine neighbours, the correctness
baseline: broadcast the (small) query set against the full vector table,
JVM-side quantized dot products, per-query window top-k.

``ann_lsh`` — the 100 TB scale path: random-hyperplane signatures bucket
the vectors; each query only scores its own bucket. Hyperplane weights are
derived deterministically from md5 nibbles so the index is reproducible
with no RNG state. Recall vs brute force is measured in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timedb_spark.functions import texttools as tt
from timedb_spark.functions.ordering import packed_lex
from timedb_spark.functions import vectors as vx
from timedb_spark.functions.rounding import floor6, floor6_once, floor6_sql
from timedb_spark.io.tables import load_table

_TOP_K = 5
_N_QUERIES = 10


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "label", vx.quantize(F.col("embedding")).alias("q"))


def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbours for query vectors vec_id < N.

    Plan shape: broadcast hash join (queries are tiny) → one projection of
    quantized dot products → window top-k partitioned by query. No shuffle
    of the big side beyond the window's per-query grouping."""
    vecs = _quantized(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    scored = (
        vecs.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            vx.cosine_q(F.col("qv"), F.col("q")).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round(F.col("_cos"), 6).alias("cosine"), "rank")
    )


ANN_BRUTEFORCE_SQL = f"""
WITH vecs AS (
    SELECT vec_id, {vx.QUANTIZE_SQL.format(v='embedding')} AS q FROM embeddings
),
queries AS (SELECT vec_id AS query_id, q AS qv FROM vecs WHERE vec_id < {_N_QUERIES}),
scored AS (
    SELECT query_id, v.vec_id AS neighbor_id,
           {vx.cosine_q_sql('qv', 'v.q')} AS c
    FROM vecs v JOIN queries ON v.vec_id != query_id
),
ranked AS (
    SELECT query_id, neighbor_id, c,
           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
"""


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path; rows-only correctness)
# ---------------------------------------------------------------------------

_LSH_BITS = 8


def _hyperplane_weights(dim: int, j: int) -> list[int]:
    """Deterministic pseudo-random hyperplane j: weight i = md5-nibble-
    derived integer in [-8, 7]. No RNG state; the SAME rule the SQL
    oracle's literal builder uses (_lsh_weight_literals), evaluated once
    in the driver — the weights are algorithm constants, not data."""
    import hashlib

    return [int(hashlib.md5(f"hp:{j}:{i}".encode()).hexdigest()[0], 16) - 8 for i in range(dim)]


def lsh_signature(vec: str, dim: int, bits: int = _LSH_BITS):
    """Sign-bit signature Σ_j 2^j·[⟨q, w_j⟩ > 0] as ONE SQL expression.

    r14 (guide §4 — the boundary cost was the DRIVER, not the executor):
    the previous form composed ~1,500 Column objects (8 hyperplane
    arrays × 64 md5 weight expressions + zip_with/aggregate folds), and
    every operator call is a py4j round-trip — measured 3.1 s just to
    BUILD the DataFrame at sf0.1, dwarfing the 1.2-1.5 s execution. The
    weights are algorithm constants (same md5-nibble rule the SQL oracle
    embeds — :func:`_hyperplane_weights`), so the whole signature
    becomes one ``F.expr`` string: a single py4j call, identical integer
    arithmetic (zero-weight terms skipped — exact sums unchanged),
    bit-identical signatures (oracle-checked). ``vec`` is the SQL text
    of the vector column (e.g. ``"q"``)."""
    vsql = vec
    cases = []
    for j in range(bits):
        terms = " + ".join(
            f"element_at({vsql}, {i + 1}) * {w}"
            for i, w in enumerate(_hyperplane_weights(dim, j))
            if w != 0
        )
        cases.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << j} ELSE 0 END)")
    return F.expr("0 + " + " + ".join(cases))


def ann_lsh(spark: SparkSession, sf_dir: str, *, dim: int = 64) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket or a
    ≤2-bit-flip neighbour bucket (multi-probe, 37 probes over 256 buckets).

    At 100 TB: signatures are one scan; the bucket join shuffles each vector
    once on an 8-bit key (256 buckets → ~n/256 candidates per bucket).
    Multi-probe makes recall robust to points near a hyperplane boundary
    (the common LSH failure) for (bits+1)× candidate cost — still ≪ n. The
    probe expansion happens on the tiny broadcast query side only."""
    vecs = _quantized(spark, sf_dir).withColumn("sig", lsh_signature("q", dim))
    queries = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv"), F.col("sig").alias("qsig")
    )
    flips = [0] + [1 << j for j in range(_LSH_BITS)] + [
        (1 << i) | (1 << j) for i in range(_LSH_BITS) for j in range(i + 1, _LSH_BITS)
    ]
    probes = queries.select(
        "query_id",
        "qv",
        F.explode(F.array(*[F.col("qsig").bitwiseXOR(F.lit(m)) for m in flips])).alias("psig"),
    )
    scored = (
        vecs.join(F.broadcast(probes), (F.col("sig") == F.col("psig")) & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), vx.cosine_q(F.col("qv"), F.col("q")).alias("_cos"))
        # no dedup needed: a vector's one signature matches at most one of a
        # query's (all-distinct) probe signatures
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round(F.col("_cos"), 6).alias("cosine"), "rank")
    )


# ---------------------------------------------------------------------------
# IVF-flat ANN (coarse quantizer + probed-cell search)
# ---------------------------------------------------------------------------

_IVF_CELLS = 16
_IVF_NPROBE = 2


def _ivf_assign(spark: SparkSession, sf_dir: str):
    """Shared IVF coarse quantizer: seed cells by vec_id stride, integer-
    mean centroids, max-cosine assignment with a deterministic tiebreak.
    Returns (scored_c, the per-vector ranking window, the assignment) —
    used by :func:`ann_ivf` (search) and :func:`embed_index_stats`
    (index-health audit)."""
    vecs = _quantized(spark, sf_dir).withColumn("scell", F.col("vec_id") % _IVF_CELLS)

    # coarse centroids: elementwise integer mean per seed cell
    comp = vecs.select("scell", F.posexplode("q").alias("pos", "x"))
    centroid = comp.groupBy("scell", "pos").agg(
        F.floor(F.sum("x").cast("double") / F.count(F.lit(1)) + F.lit(0.5)).cast("long").alias("c")
    )
    cent = centroid.groupBy("scell").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s.c).alias("cq")
    ).select(F.col("scell").alias("cell"), "cq")

    # assign every vector to its max-cosine centroid (deterministic tiebreak)
    scored_c = vecs.join(F.broadcast(cent)).select(
        "vec_id", "q", "cell", vx.cosine_q(F.col("q"), F.col("cq")).alias("cs")
    )
    wa = Window.partitionBy("vec_id").orderBy(F.col("cs").desc(), F.col("cell"))
    assign = scored_c.withColumn("rn", F.row_number().over(wa)).filter(F.col("rn") == 1).select("vec_id", "q", "cell", "cs")
    # NOT pinned here: ann_ivf and embed_index_stats each read assign
    # exactly once, so a localCheckpoint would be a pure blocking-job
    # overhead for them (measured r14: ann_ivf 1.7 → 2.2-5.9 s with the
    # pin). embed_knn_graph — the one consumer that reads assign on BOTH
    # self-join sides — pins its own copy at the call site.
    return scored_c, wa, assign


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-k: a coarse quantizer (one deterministic
    averaging step over ``vec_id % C`` seed cells) partitions the vectors
    into C inverted lists; each query scores only its ``nprobe`` nearest
    cells' lists.

    All arithmetic is exact-integer (quantized components, integer-average
    centroids via ``floor(sum/count + 0.5)``) so the DuckDB oracle is
    bit-identical. At 100 TB: centroids are a broadcast table (C ≪ n), the
    inverted lists are a plain ``cell`` column — candidate generation is an
    equi-join on it (shuffle-hash at scale), candidates per query ≈
    nprobe·n/C instead of n. Recall vs brute force is measured in tests.
    """
    scored_c, wa, assign = _ivf_assign(spark, sf_dir)

    # queries probe their nprobe nearest cells
    probes = (
        scored_c.filter(F.col("vec_id") < _N_QUERIES)
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("q").alias("qv"), "cell")
    )

    cand = assign.join(F.broadcast(probes), on="cell").filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), vx.cosine_q(F.col("qv"), F.col("q")).alias("_cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round(F.col("_cos"), 6).alias("cosine"), "rank")
    )


_PQ_M = 8  # subspaces
_PQ_K = 16  # centroids per subspace
_PQ_DSUB = 8  # dims per subspace (= dim / M)
_PQ_SHORTLIST = 10 * _TOP_K  # ADC candidates re-ranked exactly



def _d_cell_order():
    """The (d, cell) argmin ordering as one Tungsten-mutable DECIMAL(38,0)
    (functions/ordering.packed_lex — the shared injectivity/exactness
    argument lives there). Reads the literal ``d``/``cell`` columns every
    assignment frame carries: d is the non-negative integer l2sq
    accumulate, cell a non-negative centroid index, both computed
    non-null, so the packed key is total and results are bit-identical
    to the struct(d, cell) form — while the (long, decimal) buffer lets
    the per-vector nearest-centroid collapse run as a HashAggregate with
    map-side combine instead of sorting the n_vecs x K assignment stream
    (measured r13 on ann_pq / embed_kmeans plans).
    """
    return packed_lex(F.col("d"), F.col("cell"))


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-k (ADC): each vector is compressed to M
    subspace centroid ids; query-time scoring is a per-subspace distance
    TABLE lookup summed over subspaces (Jégou et al., TPAMI'11) — never a
    full-vector scan.

    Codebook training is deterministic k-means: STRIDED seed vectors
    (vec_id = c·⌊n/K⌋ — spread across the id range, so diverse data yields
    diverse seeds; a modulo seeding would average every stratum to the
    global mean and collapse the codebook — PQ, unlike IVF, has no
    true-distance rescue, the codebook IS the distance) + one Lloyd
    refinement with elementwise integer-mean centroids. Assignment is
    exact-integer squared-L2 argmin, so the DuckDB oracle is bit-identical.
    At 100 TB the codes table is M small ints per vector (50–100× smaller
    than the raw embeddings — the part of the index that must stay hot),
    the distance table is queries×M×K rows (broadcast), and ADC scoring is
    one broadcast equi-join on (subspace, code) + a map-side-combinable
    sum. Recall vs brute force is measured on planted clusters in tests."""
    from pyspark import StorageLevel

    vecs = _quantized(spark, sf_dir)
    # persist(): the subvector frame feeds five plan branches (seeds, both
    # assignment passes, the Lloyd recompute) and Spark does not share
    # common subplans — unpersisted, the scan+explode+slice re-runs per
    # branch. Same discipline as dedup._shingled.
    sub = (
        vecs.select("vec_id", "q", F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m"))
        .select("vec_id", "m", F.expr(f"slice(q, m * {_PQ_DSUB} + 1, {_PQ_DSUB})").alias("sq"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def l2sq(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    # strided seeds: vector c·⌊n/K⌋ is subspace-m's initial centroid c
    n1 = vecs.agg(F.count(F.lit(1)).alias("n"))  # 1-row broadcast, no collect
    cb0 = (
        sub.join(F.broadcast(n1))
        .filter((F.col("vec_id") % F.expr(f"n div {_PQ_K}") == 0) & (F.expr(f"vec_id div (n div {_PQ_K})") < _PQ_K))
        .select("m", F.expr(f"vec_id div (n div {_PQ_K})").alias("cell"), F.col("sq").alias("cq"))
    )

    # one Lloyd step: assign to nearest seed, recompute integer-mean centroids
    ad0 = sub.join(F.broadcast(cb0), "m").select(
        "vec_id", "m", "cell", l2sq(F.col("sq"), F.col("cq")).alias("d")
    )
    codes0 = ad0.groupBy("vec_id", "m").agg(F.min_by("cell", _d_cell_order()).alias("cell"))
    comp = sub.join(codes0, ["vec_id", "m"]).select("m", "cell", F.posexplode("sq").alias("j", "x"))
    cbc = comp.groupBy("m", "cell", "j").agg(
        F.floor(F.sum("x").cast("double") / F.count(F.lit(1)) + F.lit(0.5)).cast("long").alias("c")
    )
    cb = cbc.groupBy("m", "cell").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("j", "c"))), lambda s: s.c).alias("cq")
    )

    # assignment distances double as the query distance table (ADC is
    # asymmetric in the ORIGINAL space; here queries are table vectors, so
    # their per-cell distances are exactly the assignment distances)
    ad = (
        sub.join(F.broadcast(cb), "m")
        .select("vec_id", "m", "cell", l2sq(F.col("sq"), F.col("cq")).alias("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)  # feeds codes AND the query distance table
    )
    codes = ad.groupBy("vec_id", "m").agg(F.min_by("cell", _d_cell_order()).alias("code"))
    qdist = ad.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("m").alias("qm"), F.col("cell").alias("qcell"), F.col("d").alias("qd")
    )

    adc = (
        codes.join(F.broadcast(qdist), (F.col("m") == F.col("qm")) & (F.col("code") == F.col("qcell")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd").alias("adist"))
    )
    # ADC shortlist → exact rescore (the IVFADC re-ranking stage): near-dup
    # vectors share codes, so ADC distances tie inside a cluster — the
    # shortlist (10×k) recovers the candidates, the exact cosine ranks them.
    ws = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("vec_id"))
    short = adc.withColumn("srn", F.row_number().over(ws)).filter(F.col("srn") <= _PQ_SHORTLIST)
    qv = vecs.filter(F.col("vec_id") < _N_QUERIES).select(F.col("vec_id").alias("query_id"), F.col("q").alias("qv"))
    rescored = (
        short.select("query_id", "vec_id")
        .join(vecs.select("vec_id", "q"), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"), vx.cosine_q(F.col("qv"), F.col("q")).alias("_cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round(F.col("_cos"), 6).alias("cosine"), "rank")
    )


ANN_PQ_SQL = f"""
WITH vecs AS (
    SELECT vec_id, {vx.QUANTIZE_SQL.format(v='embedding')} AS q FROM embeddings
),
comp AS (
    SELECT vec_id, (i - 1) // {_PQ_DSUB} AS m, (i - 1) % {_PQ_DSUB} AS j, q[i] AS x
    FROM vecs CROSS JOIN (SELECT unnest(range(1, {_PQ_M * _PQ_DSUB} + 1)) AS i) idx
),
n1 AS (SELECT count(*) AS n FROM vecs),
cb0 AS (
    SELECT m, vec_id // (n // {_PQ_K}) AS cell, j, x AS c
    FROM comp, n1
    WHERE vec_id % (n // {_PQ_K}) = 0 AND vec_id // (n // {_PQ_K}) < {_PQ_K}
),
ad0 AS (
    SELECT comp.vec_id, comp.m, cb0.cell, sum((comp.x - cb0.c) * (comp.x - cb0.c)) AS d
    FROM comp JOIN cb0 ON comp.m = cb0.m AND comp.j = cb0.j
    GROUP BY comp.vec_id, comp.m, cb0.cell
),
codes0 AS (
    SELECT vec_id, m, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cell) AS rn FROM ad0
    ) t WHERE rn = 1
),
cb AS (
    SELECT comp.m, codes0.cell, comp.j,
           CAST(floor(CAST(sum(comp.x) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
    FROM comp JOIN codes0 ON comp.vec_id = codes0.vec_id AND comp.m = codes0.m
    GROUP BY comp.m, codes0.cell, comp.j
),
ad AS (
    SELECT comp.vec_id, comp.m, cb.cell, sum((comp.x - cb.c) * (comp.x - cb.c)) AS d
    FROM comp JOIN cb ON comp.m = cb.m AND comp.j = cb.j
    GROUP BY comp.vec_id, comp.m, cb.cell
),
codes AS (
    SELECT vec_id, m, cell AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cell) AS rn FROM ad
    ) t WHERE rn = 1
),
qdist AS (SELECT vec_id AS query_id, m, cell, d AS qd FROM ad WHERE vec_id < {_N_QUERIES}),
adc AS (
    SELECT q.query_id, c.vec_id AS neighbor_id, sum(q.qd) AS adist
    FROM codes c JOIN qdist q ON c.m = q.m AND c.code = q.cell
    WHERE c.vec_id != q.query_id
    GROUP BY q.query_id, c.vec_id
),
short AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS srn
        FROM adc
    ) t WHERE srn <= {_PQ_SHORTLIST}
),
rescored AS (
    SELECT s.query_id, s.neighbor_id, {vx.cosine_q_sql('qv.q', 'nv.q')} AS c
    FROM short s
    JOIN vecs nv ON nv.vec_id = s.neighbor_id
    JOIN vecs qv ON qv.vec_id = s.query_id
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
    FROM rescored
)
SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank FROM r WHERE rank <= {_TOP_K}
"""


_KM_K = 16
_KM_ITERS = 2


def embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means over the full embedding vectors: cluster id +
    exact squared distance per vector — the semantic-bucketing primitive a
    curation pipeline uses for domain mixing, semantic dedup scoping, and
    diversity sampling.

    Training is the same fully-deterministic recipe as ann_pq's codebooks,
    on whole vectors: strided seed vectors (c·⌊n/K⌋) + fixed Lloyd
    iterations with elementwise integer-mean centroids; assignment is
    exact-integer squared-L2 argmin with a cell-id tiebreak ⇒ bit-identical
    DuckDB oracle. Per iteration: K centroids broadcast against one scan
    (map-side distance fold), an argmin aggregate, and a tiny (K×dim)
    re-mean — no iteration ever shuffles the vectors themselves, so the
    loop cost at 100 TB is iterations × one codegen'd scan."""
    return _kmeans_assign(_quantized(spark, sf_dir))


def _kmeans_assign(vecs: DataFrame, k: int = _KM_K, n: int | None = None) -> DataFrame:
    """The deterministic-Lloyd core of :func:`embed_kmeans` over any
    ``(vec_id, q)`` frame — also the clustering stage of
    :func:`dedup_semantic` (which passes a corpus-derived ``k`` AND the
    corpus count it already collected, see :func:`_semantic_k` — a known
    ``n`` seeds centroids with a literal stride instead of the in-plan
    count-aggregate + broadcast join)."""

    def l2sq(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    if n is None:
        n1 = vecs.agg(F.count(F.lit(1)).alias("n"))
        cb = (
            vecs.join(F.broadcast(n1))
            .filter((F.col("vec_id") % F.expr(f"n div {k}") == 0) & (F.expr(f"vec_id div (n div {k})") < k))
            .select(F.expr(f"vec_id div (n div {k})").alias("cell"), F.col("q").alias("cq"))
        )
    else:
        # literal-stride twin of the branch above (n div k == n // k for
        # the non-negative counts here); stride 0 (n < k) keeps the same
        # degenerate empty-codebook behavior the SQL form has (x % 0 is
        # NULL under Spark's non-ANSI mode -> filter drops every row).
        stride = n // k
        if stride == 0:
            cb = vecs.filter(F.lit(False)).select(
                F.lit(0).cast("bigint").alias("cell"), F.col("q").alias("cq")
            )
        else:
            cb = (
                vecs.filter((F.col("vec_id") % stride == 0) & (F.expr(f"vec_id div {stride}") < k))
                .select(F.expr(f"vec_id div {stride}").alias("cell"), F.col("q").alias("cq"))
            )
    for _ in range(_KM_ITERS):
        ad = vecs.join(F.broadcast(cb)).select("vec_id", "q", "cell", l2sq(F.col("q"), F.col("cq")).alias("d"))
        assign = ad.groupBy("vec_id").agg(F.min_by("cell", _d_cell_order()).alias("cell"))
        comp = vecs.join(assign, "vec_id").select("cell", F.posexplode("q").alias("j", "x"))
        cbc = comp.groupBy("cell", "j").agg(
            F.floor(F.sum("x").cast("double") / F.count(F.lit(1)) + F.lit(0.5)).cast("long").alias("c")
        )
        cb = cbc.groupBy("cell").agg(
            F.transform(F.array_sort(F.collect_list(F.struct("j", "c"))), lambda s: s.c).alias("cq")
        )
    final = vecs.join(F.broadcast(cb)).select("vec_id", "cell", l2sq(F.col("q"), F.col("cq")).alias("d"))
    w = Window.partitionBy("vec_id").orderBy(F.col("d").asc(), F.col("cell").asc())
    return (
        final.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cell").alias("cluster"), F.col("d").alias("dist_sq"))
    )


def _km_assign_cte(cb: str, out: str) -> str:
    return f"""
{out}_d AS (
    SELECT comp.vec_id, {cb}.cell, sum((comp.x - {cb}.c) * (comp.x - {cb}.c)) AS d
    FROM comp JOIN {cb} ON comp.j = {cb}.j
    GROUP BY comp.vec_id, {cb}.cell
),
{out} AS (
    SELECT vec_id, cell, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM {out}_d
    ) t WHERE rn = 1
)"""


def _km_mean_cte(assign: str, out: str) -> str:
    return f"""
{out} AS (
    SELECT {assign}.cell, comp.j,
           CAST(floor(CAST(sum(comp.x) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
    FROM comp JOIN {assign} ON comp.vec_id = {assign}.vec_id
    GROUP BY {assign}.cell, comp.j
)"""


EMBED_KMEANS_SQL = f"""
WITH vecs AS (
    SELECT vec_id, {{q}} AS q FROM embeddings
),
comp AS (
    SELECT vec_id, i - 1 AS j, q[i] AS x
    FROM vecs CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx
),
n1 AS (SELECT count(*) AS n FROM vecs),
cb0 AS (
    SELECT vec_id // (n // {_KM_K}) AS cell, j, x AS c
    FROM comp, n1
    WHERE vec_id % (n // {_KM_K}) = 0 AND vec_id // (n // {_KM_K}) < {_KM_K}
),
{_km_assign_cte("cb0", "a0")},
{_km_mean_cte("a0", "cb1")},
{_km_assign_cte("cb1", "a1")},
{_km_mean_cte("a1", "cb2")},
{_km_assign_cte("cb2", "af")}
SELECT vec_id, cell AS cluster, CAST(d AS BIGINT) AS dist_sq FROM af
""".format(q=vx.QUANTIZE_SQL.format(v="embedding"))


_IVF_DIM = 64

ANN_IVF_SQL = f"""
WITH vecs AS (
    SELECT vec_id, {vx.QUANTIZE_SQL.format(v='embedding')} AS q, vec_id % {_IVF_CELLS} AS scell
    FROM embeddings
),
comp AS (
    SELECT scell, i, q[i] AS x
    FROM vecs CROSS JOIN (SELECT unnest(range(1, {_IVF_DIM} + 1)) AS i) idx
),
centroid AS (
    SELECT scell, i, CAST(floor(CAST(sum(x) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
    FROM comp GROUP BY scell, i
),
cent AS (SELECT scell AS cell, list(c ORDER BY i) AS cq FROM centroid GROUP BY scell),
scored_c AS (
    SELECT v.vec_id, v.q, c.cell, {vx.cosine_q_sql('v.q', 'c.cq')} AS cs
    FROM vecs v CROSS JOIN cent c
),
assign AS (
    SELECT vec_id, q, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn FROM scored_c
    ) t WHERE rn = 1
),
probes AS (
    SELECT vec_id AS query_id, q AS qv, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        FROM scored_c WHERE vec_id < {_N_QUERIES}
    ) t WHERE rn <= {_IVF_NPROBE}
),
cand AS (
    SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.q
    FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id != p.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, {vx.cosine_q_sql('qv', 'q')} AS c,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {vx.cosine_q_sql('qv', 'q')} DESC, neighbor_id) AS rank
    FROM cand
)
SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
"""


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup, Abbas et al. 2023): kmeans-scoped cosine dedup
# ---------------------------------------------------------------------------

#: SemDeDup's scale knob is CLUSTER SIZE, not cluster count (Abbas et al.
#: 2023 §3 fix the per-cluster candidate budget): hold the target |cluster|
#: constant and let K grow with the corpus, so the blocked pair space
#: Σ|cluster|² ≈ K·t² = n·t stays LINEAR in n. A fixed K makes it quadratic
#: in density — measured 9.11×@10× / 27.9×@20× on the r12 scale probe.
_SEM_TARGET_CLUSTER = 256


def _semantic_k(n: int) -> int:
    """Corpus-derived K for :func:`dedup_semantic`: ``max(_KM_K, n div
    _SEM_TARGET_CLUSTER)``. The _KM_K floor PINS the gate: every gate-SF
    corpus (550/550/2200 at sf0.001/0.01/0.1) stays below
    16·256 = 4096, so the derived K equals the oracle's literal 16 and the
    gate hash is unchanged — only beyond-gate corpora scale up. Assignment
    cost grows as n·K distance folds per Lloyd pass (still zero vector
    shuffles — centroids broadcast); that is the SemDeDup trade until a
    hierarchical/ANN-assisted assignment takes over, and it buys a pair
    join bounded by n·_SEM_TARGET_CLUSTER instead of n²/K."""
    return max(_KM_K, n // _SEM_TARGET_CLUSTER)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup composition: deterministic k-means buckets the corpus
    semantically, then cosine near-dups are resolved ONLY within each
    cluster — a vector is dropped when a LOWER-id vector in its cluster has
    cosine ≥ τ with it ("keep the first"; no transitive closure, so the
    decision is one bounded self-join, not an iterative CC pass).

    Scale shape: the clustering never shuffles vectors (broadcast
    centroids); the pair join is blocked on the LEARNED cluster id, and K
    is DERIVED from the corpus count (:func:`_semantic_k`, r13 — the r12
    probe measured the fixed-K pair space going quadratic in density:
    27.9× at 20× data) so Σ|cluster|² stays ~n·_SEM_TARGET_CLUSTER at any
    scale; the _KM_K floor keeps every gate-SF corpus on the oracle's
    literal K=16. Runs over the planted-near-dup corpus (dedup.emb_corpus) so the
    keep/drop decision is exercised for real; exact-integer dot/norm +
    round-6 keeps the full DuckDB oracle bit-identical (the kmeans CTE
    chain is the embed_kmeans oracle re-based onto the corpus)."""
    from timedb_spark.operators.dedup import _EMB_TAU, emb_corpus

    vecs = emb_corpus(spark, sf_dir).select("vec_id", "q")
    # one planning scalar (the corpus count) — the same class of decision as
    # the graph family's auto-orientation stats collect.
    n = vecs.count()
    k = _semantic_k(n)
    km = _kmeans_assign(vecs, k=k, n=n).select("vec_id", "cluster")
    c = (
        vecs.join(km, "vec_id")
        .withColumn("nq", F.sqrt(vx.norm_sq_q(F.col("q")).cast("double")))
        # the clustered corpus feeds BOTH sides of the pair join; without a
        # lineage cut the whole Lloyd chain is evaluated twice (and each
        # chain re-reads the corpus per iteration) — checkpoint once, join
        # the materialized result.
        .localCheckpoint(eager=False)
    )
    a, b = c.alias("a"), c.alias("b")
    # floor6_once: the rounding guard references its input 4× textually,
    # so plain floor6 ran the 64-term dot fold 4× per candidate pair
    # (dedup_embedding's r14 finding; same fix, same bit-identical value)
    cos = floor6_once(vx.dot_q(F.col("a.q"), F.col("b.q")) / (F.col("a.nq") * F.col("b.nq")))
    dup_counts = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= _EMB_TAU)
        .groupBy(F.col("b.vec_id").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_dup_lower"))
    )
    return (
        c.join(dup_counts, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("n_dup_lower", F.lit(0)).alias("n_dup_lower"),
            (F.coalesce("n_dup_lower", F.lit(0)) == 0).alias("keep"),
        )
    )


def _semantic_sql() -> str:
    from timedb_spark.operators.dedup import _EMB_TAU, EMB_CORPUS_SQL

    dot = vx.DOT_Q_SQL.format(a="a.q", b="b.q")
    return f"""
WITH corpus AS ({EMB_CORPUS_SQL}),
vecs AS (SELECT vec_id, q FROM corpus),
comp AS (
    SELECT vec_id, i - 1 AS j, q[i] AS x
    FROM vecs CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx
),
n1 AS (SELECT count(*) AS n FROM vecs),
cb0 AS (
    SELECT vec_id // (n // {_KM_K}) AS cell, j, x AS c
    FROM comp, n1
    WHERE vec_id % (n // {_KM_K}) = 0 AND vec_id // (n // {_KM_K}) < {_KM_K}
),
{_km_assign_cte("cb0", "a0")},
{_km_mean_cte("a0", "cb1")},
{_km_assign_cte("cb1", "a1")},
{_km_mean_cte("a1", "cb2")},
{_km_assign_cte("cb2", "af")},
cl AS (
    SELECT v.vec_id, v.q, af.cell AS cluster,
           sqrt(CAST({vx.DOT_Q_SQL.format(a='v.q', b='v.q')} AS DOUBLE)) AS nq
    FROM vecs v JOIN af ON af.vec_id = v.vec_id
),
dups AS (
    SELECT b.vec_id, count(*) AS n_dup_lower
    FROM cl a JOIN cl b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE {floor6_sql(f'CAST({dot} AS DOUBLE) / (a.nq * b.nq)')} >= {_EMB_TAU}
    GROUP BY b.vec_id
)
SELECT cl.vec_id, cl.cluster,
       CAST(coalesce(d.n_dup_lower, 0) AS BIGINT) AS n_dup_lower,
       coalesce(d.n_dup_lower, 0) = 0 AS keep
FROM cl LEFT JOIN dups d ON d.vec_id = cl.vec_id
"""


DEDUP_SEMANTIC_SQL = _semantic_sql()


# ---------------------------------------------------------------------------
# radius (range) search — all neighbours within a cosine threshold
# ---------------------------------------------------------------------------

_RANGE_TAU = 0.30


def ann_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search: every vector with cosine >= ``_RANGE_TAU`` to each
    query vector (vec_id < ``_N_QUERIES``) — the dedup/contamination
    companion to top-k ANN (top-k bounds the RESULT size, radius search
    bounds the SIMILARITY, which is what "find everything near this
    benchmark prompt" needs).

    Same scale shape as ``ann_bruteforce``: queries broadcast, quantized
    JVM-side dot products ride the scan, and the threshold filter is applied
    in the same projection — no window, no shuffle of the vector side at
    all (strictly cheaper than top-k, which needs the per-query grouping).
    """
    vecs = _quantized(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    return (
        vecs.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            vx.cosine_q(F.col("qv"), F.col("q")).alias("_cos"),
        )
        .filter(F.col("_cos") >= _RANGE_TAU)
        .select("query_id", "neighbor_id", F.round(F.col("_cos"), 6).alias("cosine"))
    )


ANN_RANGE_SQL = f"""
WITH vecs AS (
    SELECT vec_id, {vx.QUANTIZE_SQL.format(v='embedding')} AS q FROM embeddings
),
queries AS (SELECT vec_id AS query_id, q AS qv FROM vecs WHERE vec_id < {_N_QUERIES}),
scored AS (
    SELECT query_id, v.vec_id AS neighbor_id,
           {vx.cosine_q_sql('qv', 'v.q')} AS c
    FROM vecs v JOIN queries ON v.vec_id != query_id
)
SELECT query_id, neighbor_id, round(c, 6) AS cosine
FROM scored WHERE c >= {_RANGE_TAU}
"""


# ---------------------------------------------------------------------------
# PCA — single-pass distributed covariance, driver eigh, JVM-side projection
# ---------------------------------------------------------------------------

_PCA_Q = 4


def embed_pca(spark: SparkSession, sf_dir: str, q: int = _PCA_Q) -> DataFrame:
    """Project embeddings onto their top-``q`` principal components.

    The MLlib RowMatrix recipe re-expressed on DataFrames: one
    ``mapInPandas`` pass emits per-batch moment partials (n, sum, X'X —
    each O(d^2), INDEPENDENT of row count), the driver sums the partials
    (the tree-aggregate endpoint; the collected payload is #partitions x
    d^2 doubles, ~32 KB here), eigendecomposes the d x d covariance, and
    broadcasts the components back as column literals so the projection is
    a pure JVM ``zip_with``/``aggregate`` expression riding the scan. The
    vectors themselves never shuffle and never leave the executors.

    Component signs are fixed (largest-|coordinate| positive) so the output
    is stable across eigensolver conventions. Correctness is pinned
    rows-only + a numpy full recompute in tests (eigenvectors are not
    SQL-expressible).
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def _partials(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            if not len(pdf):
                continue
            X = _np.array(pdf["embedding"].tolist(), dtype=_np.float64)
            yield _pd.DataFrame(
                {"n": [len(X)], "s": [X.sum(axis=0).tolist()], "g": [(X.T @ X).ravel().tolist()]}
            )

    parts = emb.mapInPandas(_partials, schema="n long, s array<double>, g array<double>").collect()
    n = sum(p["n"] for p in parts)
    d = len(parts[0]["s"])
    S = np.zeros(d)
    G = np.zeros((d, d))
    for p in parts:
        S += np.array(p["s"])
        G += np.array(p["g"]).reshape(d, d)
    mean = S / n
    cov = (G - np.outer(S, S) / n) / (n - 1)
    _w, V = np.linalg.eigh(cov)
    comps = []
    for j in range(q):
        v = V[:, -1 - j]
        if v[int(np.argmax(np.abs(v)))] < 0:  # sign convention
            v = -v
        comps.append(v)

    vec = F.col("embedding").cast("array<double>")
    proj_cols = []
    for j, c in enumerate(comps):
        carr = F.array(*[F.lit(float(x)) for x in c])
        dot = F.aggregate(
            F.zip_with(vec, carr, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        proj_cols.append(F.round(dot - F.lit(float(mean @ c)), 6).alias(f"pc{j + 1}"))
    return emb.select("vec_id", *proj_cols)


# ---------------------------------------------------------------------------
# hybrid retrieval: lexical (token Jaccard) + dense (cosine) fusion
# ---------------------------------------------------------------------------

_HYBRID_ALPHA = 0.5  # dense weight; (1 - alpha) is the lexical weight


def ann_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid top-k retrieval: fuse dense cosine similarity with lexical
    token-set Jaccard — the RAG / contamination-check retrieval shape where
    neither signal alone suffices (paraphrases beat lexical, rare exact
    terms beat dense).

    Documents and embeddings are keyed 1:1 (doc_id == vec_id). Score =
    alpha * cosine + (1-alpha) * jaccard; cosine on the shared
    round(x*1e6) integer quantization (functions/vectors.py), jaccard on
    distinct whitespace tokens — set sizes are exact integers, so the only
    float steps are the two final divisions and the weighted sum, the
    same determinism convention as every ann_* oracle.

    Plan shape: the tiny query side (vectors + token sets, vec_id < N)
    broadcasts; candidates pay ONE projection each (dot product +
    array_intersect against broadcast literals-sized arrays) and the
    per-query top-k window — identical scale shape to ann_bruteforce, no
    extra shuffle for the lexical leg."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split(F.trim(F.col("text")), r"\s+")).alias("toks")
    )
    vecs = _quantized(spark, sf_dir).join(
        toks, F.col("vec_id") == F.col("doc_id"), "inner"
    ).select("vec_id", "q", "toks")
    queries = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv"), F.col("toks").alias("qtoks")
    )
    inter = F.size(F.array_intersect(F.col("qtoks"), F.col("toks")))
    union = F.size(F.col("qtoks")) + F.size(F.col("toks")) - inter
    jac = inter.cast("double") / union.cast("double")
    score = F.lit(_HYBRID_ALPHA) * vx.cosine_q(F.col("qv"), F.col("q")) + F.lit(1 - _HYBRID_ALPHA) * jac
    scored = vecs.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        score.alias("_s"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_s").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round(F.col("_s"), 6).alias("score"), "rank")
    )


ANN_HYBRID_SQL = f"""
WITH toks AS (
    SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS toks
    FROM documents
),
vecs AS (
    SELECT vec_id, {vx.QUANTIZE_SQL.format(v='embedding')} AS q, toks
    FROM embeddings JOIN toks ON vec_id = doc_id
),
queries AS (
    SELECT vec_id AS query_id, q AS qv, toks AS qtoks FROM vecs WHERE vec_id < {_N_QUERIES}
),
scored AS (
    SELECT query_id, v.vec_id AS neighbor_id,
           {_HYBRID_ALPHA} * {vx.cosine_q_sql('qv', 'v.q')}
           + {1 - _HYBRID_ALPHA} * (CAST(len(list_intersect(qtoks, v.toks)) AS DOUBLE)
              / CAST(len(qtoks) + len(v.toks) - len(list_intersect(qtoks, v.toks)) AS DOUBLE)) AS s
    FROM vecs v JOIN queries ON v.vec_id != query_id
),
ranked AS (
    SELECT query_id, neighbor_id, s,
           row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, round(s, 6) AS score, rank
FROM ranked WHERE rank <= {_TOP_K}
"""


# ---------------------------------------------------------------------------
# int8 embedding quantization (the 4x storage-compression path at 100 TB)
# ---------------------------------------------------------------------------


def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    code_i = round_half_away(x_i / scale) ∈ [-127, 127] — the standard
    storage/bandwidth compression for embedding corpora (float32 → 4x
    smaller, ADC-compatible).

    Every step is EXACT integer arithmetic on the shared round(x*1e6)
    quantization: the half-away rounding is the pure-integer formula
    (|x|*254 + amax) div (2*amax), and the reconstruction error is the
    integer Σ(x*127 - code*amax)² — bit-identical across engines, no float
    rounding anywhere. One scan, one projection, zero shuffles."""
    vecs = _quantized(spark, sf_dir)
    out = vecs.withColumn(
        "amax", F.greatest(F.array_max(F.transform(F.col("q"), lambda x: F.abs(x))), F.lit(1).cast("long"))
    )
    codes = F.expr(
        "transform(q, x -> CAST(CASE WHEN x >= 0 THEN (x*254 + amax) div (2*amax) "
        "ELSE -(((-x)*254 + amax) div (2*amax)) END AS INT))"
    )
    out = out.withColumn("codes", codes)
    sq_err = F.aggregate(
        F.zip_with(F.col("q"), F.col("codes"), lambda x, c: (x * 127 - c.cast("long") * F.col("amax")) * (x * 127 - c.cast("long") * F.col("amax"))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return out.select("vec_id", "amax", "codes", sq_err.alias("sq_err"))


EMBED_QUANTIZE_SQL = f"""
WITH q AS (
    SELECT vec_id, {vx.QUANTIZE_SQL.format(v='embedding')} AS q FROM embeddings
),
a AS (
    SELECT vec_id, q, greatest(list_max(list_transform(q, x -> abs(x))), 1) AS amax FROM q
),
c AS (
    SELECT vec_id, amax, q,
           list_transform(q, x -> CAST(CASE WHEN x >= 0 THEN (x*254 + amax) // (2*amax)
                                       ELSE -(((-x)*254 + amax) // (2*amax)) END AS INT)) AS codes
    FROM a
)
SELECT vec_id, CAST(amax AS BIGINT) AS amax, codes,
       CAST(list_sum(list_transform(range(1, len(q)+1),
            i -> (q[i]*127 - codes[i]*amax) * (q[i]*127 - codes[i]*amax))) AS BIGINT) AS sq_err
FROM c
"""

#: Gate-shaped twin of EMBED_QUANTIZE_SQL: the driver canonicalizer factorizes
#: cell values with pandas and dies on list cells (unhashable — the r3 `thumb`
#: / r5 `codes` lesson), so the GATE projection serializes `codes` to a
#: deterministic ','-joined string on BOTH sides. The typed array<int> stays on
#: the operator itself (embed_quantize) for real consumers.
EMBED_QUANTIZE_GATE_SQL = f"""
SELECT vec_id, amax, array_to_string(codes, ',') AS codes, sq_err
FROM ({EMBED_QUANTIZE_SQL})
"""


# ---------------------------------------------------------------------------
# full DuckDB oracle for ann_lsh (r5 upgrade from rows-only): the whole
# pipeline is deterministic integer math — md5-nibble hyperplanes, sign-bit
# signatures, xor multi-probe, quantized cosine — so SQL reproduces it
# exactly. The hyperplane weights are fixed algorithm constants; the
# builder derives them with the SAME md5-nibble rule as the Spark
# expression (functions/similarity lsh_signature) and embeds them as
# literals, keeping the SQL readable.
# ---------------------------------------------------------------------------


def _lsh_weight_literals(dim: int = 64) -> str:
    """[[w_00..w_0,dim-1], ...] — weight i of hyperplane j is
    nibble(md5('hp:j:i')[0]) - 8, shared with the Spark expression via
    :func:`_hyperplane_weights`."""
    rows = []
    for j in range(_LSH_BITS):
        w = _hyperplane_weights(dim, j)
        rows.append("[" + ", ".join(str(x) for x in w) + "]")
    return "[" + ", ".join(rows) + "]"


def _build_ann_lsh_sql(dim: int = 64) -> str:
    sig_terms = " + ".join(
        f"{1 << j} * (CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> q[CAST(i AS INT)] * w[{j + 1}][CAST(i AS INT)])) > 0 THEN 1 ELSE 0 END)"
        for j in range(_LSH_BITS)
    )
    flips = [0] + [1 << j for j in range(_LSH_BITS)] + [
        (1 << i) | (1 << j) for i in range(_LSH_BITS) for j in range(i + 1, _LSH_BITS)
    ]
    return f"""
WITH w_cte AS (SELECT {_lsh_weight_literals(dim)} AS w),
vecs AS (
    SELECT vec_id, {vx.QUANTIZE_SQL.format(v='embedding')} AS q FROM embeddings
),
sigs AS (
    SELECT vec_id, q, {sig_terms} AS sig FROM vecs, w_cte
),
queries AS (
    SELECT vec_id AS query_id, q AS qv, sig AS qsig FROM sigs WHERE vec_id < {_N_QUERIES}
),
probes AS (
    SELECT query_id, qv, xor(qsig, m.mask) AS psig
    FROM queries, (SELECT unnest({flips}) AS mask) m
),
scored AS (
    SELECT query_id, v.vec_id AS neighbor_id, {vx.cosine_q_sql('qv', 'v.q')} AS c
    FROM sigs v JOIN probes ON v.sig = psig AND v.vec_id != query_id
),
ranked AS (
    SELECT query_id, neighbor_id, c,
           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
"""


ANN_LSH_SQL = _build_ann_lsh_sql()


# ---------------------------------------------------------------------------
# MMR diversified re-rank
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.5  # dyadic: exact in both engines
_MMR_CANDS = 20
_MMR_K = 8


def ann_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein, SIGIR'98)
    of each query's brute-force top-``_MMR_CANDS`` candidates: iteratively
    pick argmax of λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s) — the
    dedupe-at-retrieval step that keeps a RAG / few-shot context window
    from filling with near-copies of the same best match.

    The whole K-step greedy selection is ONE ``F.aggregate`` fold per
    query row over the collected candidate array (state = flattened
    [score, idx] pairs; each step's argmax is an inner fold over candidate
    positions, each candidate's diversity penalty an innermost fold over
    the selected set) — so the expression tree contains each lambda ONCE
    (no per-step plan blowup) and the per-query work is
    K·C·K·dim ≈ 8·20·8·64 multiplies inside codegen, zero Python, zero
    extra shuffles beyond ann_bruteforce's own window.

    Determinism: relevances and pair similarities divide exact integer
    dots by stored norms in identical order; λ is dyadic; the argmax fold
    replaces only on strictly-greater score, so ties break toward the
    lower candidate rank in both engines identically.
    """
    vecs = _quantized(spark, sf_dir).withColumn(
        "nq", F.sqrt(vx.norm_sq_q(F.col("q")).cast("double"))
    )
    queries = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    scored = vecs.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("nid"),
        vx.cosine_q(F.col("qv"), F.col("q")).alias("rel"),
        "q",
        "nq",
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("nid"))
    cands = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _MMR_CANDS)
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "nid", "rel", "q", "nq"))),
                lambda r: F.struct(
                    r["nid"].alias("nid"), r["rel"].alias("rel"), r["q"].alias("q"), r["nq"].alias("nq")
                ),
            ).alias("cands")
        )
    )
    lam = _MMR_LAMBDA

    def _cand(i):
        return F.element_at("cands", i)

    def _pair_cos(ci, si):
        a, b = _cand(ci), _cand(si)
        return vx.dot_q(a["q"], b["q"]).cast("double") / (a["nq"] * b["nq"])

    def _step(st, _e):
        n_sel = (F.size(st) / 2).cast("int")
        sel = F.transform(F.sequence(F.lit(1), n_sel), lambda r: F.element_at(st, 2 * r).cast("int"))
        # guard: sequence(1, 0) would descend — empty state means no selected
        sel = F.when(n_sel > 0, sel).otherwise(F.array().cast("array<int>"))

        def _score(ci):
            maxsim = F.aggregate(sel, F.lit(0.0), lambda ms, s: F.greatest(ms, _pair_cos(ci, s)))
            return lam * _cand(ci)["rel"] - (1.0 - lam) * maxsim

        best = F.aggregate(
            F.sequence(F.lit(1), F.lit(_MMR_CANDS)),
            F.array(F.lit(-1e18), F.lit(-1.0)),
            lambda bb, ci: F.when(
                F.array_contains(sel, ci) | (_score(ci) <= F.element_at(bb, 1)), bb
            ).otherwise(F.array(_score(ci), ci.cast("double"))),
        )
        return F.concat(st, best)

    fold = F.aggregate(
        F.sequence(F.lit(1), F.lit(_MMR_K)), F.array().cast("array<double>"), _step
    )
    out = cands.select("query_id", "cands", fold.alias("st")).select(
        "query_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(_MMR_K)),
                lambda r: F.struct(
                    r.alias("mmr_rank"),
                    F.element_at(F.col("st"), 2 * r).cast("int").alias("ci"),
                    F.element_at(F.col("st"), 2 * r - 1).alias("score"),
                ),
            )
        ).alias("p"),
        F.col("cands"),
    )
    pick = F.element_at("cands", F.col("p.ci"))
    return out.select(
        "query_id",
        F.col("p.mmr_rank").alias("mmr_rank"),
        pick["nid"].alias("neighbor_id"),
        F.round(pick["rel"], 6).alias("relevance"),
        (F.floor(F.col("p.score") * 1e6) / 1e6).alias("mmr_score"),
    )



def _mmr_sql() -> str:
    """Generate the MMR oracle with exactly ONE list_reduce (the outer
    K-step fold). DuckDB v1.0 mis-evaluates list_reduce nested inside
    list_reduce over multi-row inputs (observed: query 6's fold returning
    query 8's step score — cross-ROW state bleed), so the per-step argmax
    is expressed reduce-free: a scores list (selected candidates masked to
    -1e18), list_aggregate(..., 'max'), and list_position for the
    first-max index — which also reproduces Spark's keep-first tie-break.
    Lambda variables use collision-proof names: DuckDB inlines CTEs, and a
    lambda parameter colliding with an in-scope column of the inlined
    consumer silently rebinds to the column (observed with `r`)."""
    lam, one_m_lam = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    sel = ("CASE WHEN len(st) >= 2 THEN list_transform(range(1, len(st) // 2 + 1), "
           "selpos -> CAST(st[2 * selpos] AS INTEGER)) ELSE CAST([] AS INTEGER[]) END")

    def pair_dot(ci: str, si: str) -> str:
        return (f"list_sum(list_transform(range(1, len(cands[{ci}].q) + 1), "
                f"i -> cands[{ci}].q[i] * cands[{si}].q[i]))")

    maxsim = (f"coalesce(list_aggregate(list_transform({sel}, "
              f"sr -> CAST({pair_dot('cq', 'sr')} AS DOUBLE) / (cands[cq].nq * cands[sr].nq)), "
              f"'max'), 0.0)")
    maxsim_nonneg = f"greatest(0.0, {maxsim})"
    scores = (f"list_transform(range(1, {_MMR_CANDS} + 1), cq -> "
              f"CASE WHEN list_contains({sel}, cq) THEN -1e18 "
              f"ELSE {lam!r} * cands[cq].rel - {one_m_lam!r} * {maxsim_nonneg} END)"
              )
    step = (f"list_concat(st, [list_aggregate({scores}, 'max'), "
            f"CAST(list_position({scores}, list_aggregate({scores}, 'max')) AS DOUBLE)])")
    quant = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
    return f"""
WITH vecs AS (
    SELECT vec_id, {vx.QUANTIZE_SQL.format(v='embedding')} AS q,
           sqrt(CAST({vx.DOT_Q_SQL.format(a=quant, b=quant)} AS DOUBLE)) AS nq
    FROM embeddings
),
queries AS (SELECT vec_id AS query_id, q AS qv FROM vecs WHERE vec_id < {_N_QUERIES}),
scored AS (
    SELECT query_id, v.vec_id AS nid,
           {vx.cosine_q_sql('qv', 'v.q')} AS rel,
           v.q AS q, v.nq AS nq
    FROM vecs v JOIN queries ON v.vec_id != query_id
),
ranked AS (
    SELECT query_id, nid, rel, q, nq,
           row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, nid) AS rank
    FROM scored
),
cand AS (
    SELECT query_id,
           list_transform(list_sort(list(struct_pack(rank := rank, nid := nid, rel := rel,
                                                     q := q, nq := nq))),
                          cs -> struct_pack(nid := cs.nid, rel := cs.rel, q := cs.q, nq := cs.nq)) AS cands
    FROM ranked WHERE rank <= {_MMR_CANDS}
    GROUP BY query_id
),
folded AS (
    SELECT query_id, cands,
           list_reduce(
               list_prepend(CAST([] AS DOUBLE[]),
                            list_transform(range(1, {_MMR_K} + 1), stepno -> [0.0])),
               (st, stepv) -> {step}) AS st
    FROM cand
)
SELECT query_id,
       u.mr AS mmr_rank,
       cands[CAST(st[2 * u.mr] AS INTEGER)].nid AS neighbor_id,
       round(cands[CAST(st[2 * u.mr] AS INTEGER)].rel, 6) AS relevance,
       floor(st[2 * u.mr - 1] * 1e6) / 1e6 AS mmr_score
FROM folded, (SELECT unnest(range(1, {_MMR_K} + 1)) AS mr) u
"""


ANN_MMR_SQL = _mmr_sql()


# ---------------------------------------------------------------------------
# ANN recall evaluation — the quality gate for the approximate variants
# ---------------------------------------------------------------------------


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of every approximate ANN variant against the brute-force
    ground truth — the evaluation harness a production deployment runs
    before trusting an index (and re-runs on every re-train/re-bucket):
    per (method, query), |approx top-k ∩ exact top-k| / k.

    Composition operator: the exact top-k anchors a LEFT-SEMI join per
    variant (hits = exact rows the variant also returned), one tiny
    groupBy per method, union of three 10-row frames. All the heavy
    lifting is the variants' own plans; the evaluation itself adds no
    scan. Counts are exact integers; recall is one exact dyadic division
    (k = 5 → multiples of 0.2).

    At 100 TB the same shape holds with a SAMPLED query set: ground truth
    is brute-force over queries × corpus — priced by the query sample
    size, not the corpus (the corpus side is one broadcast-probe scan per
    method, exactly as in ann_bruteforce).
    """
    exact = ann_bruteforce(spark, sf_dir).select("query_id", "neighbor_id").localCheckpoint(
        eager=False
    )
    anchor = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    frames = []
    for method, fn in (("lsh", ann_lsh), ("ivf", ann_ivf), ("pq", ann_pq)):
        approx = fn(spark, sf_dir).select("query_id", "neighbor_id")
        # broadcast hints (r14): every frame here is ≤ N_QUERIES·k rows BY
        # CONSTRUCTION (the fixed query set × top-k) at any corpus scale,
        # but the checkpointed exact frame and the variants' window
        # outputs carry no usable size estimates, so Catalyst planned all
        # six evaluation joins sort-merge (PLANAUDIT r13: ann_recall's 6
        # SMJ / 23 Sort worst-plan flag). The hints pin the tiny side:
        # SMJ 6 → 0, Sort 23 → 8 (the variants' own top-k windows).
        hits = (
            exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        frames.append(
            anchor.join(F.broadcast(hits), "query_id", "left").select(
                F.lit(method).alias("method"),
                "query_id",
                F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
                (F.coalesce("n_hits", F.lit(0).cast("long")).cast("double") / F.col("k").cast("double")).alias(
                    "recall"
                ),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _recall_leg_sql(method: str, variant_sql: str) -> str:
    return f"""
    SELECT '{method}' AS method, e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(a.neighbor_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
    FROM exact e LEFT JOIN ({variant_sql}) a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
"""


ANN_RECALL_SQL = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({ANN_BRUTEFORCE_SQL}) t)
{_recall_leg_sql('lsh', 'SELECT * FROM (' + ANN_LSH_SQL + ') x')}
UNION ALL
{_recall_leg_sql('ivf', 'SELECT * FROM (' + ANN_IVF_SQL + ') x')}
UNION ALL
{_recall_leg_sql('pq', 'SELECT * FROM (' + ANN_PQ_SQL + ') x')}
"""


# ---------------------------------------------------------------------------
# Centroid-margin outlier / mislabel detection
# ---------------------------------------------------------------------------

_OUT_DIM = 64


def embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-margin mislabel detection: score every vector's cosine to
    its OWN label centroid vs the best OTHER label centroid — the curation
    readout that finds mislabeled / out-of-distribution examples in a
    labeled embedding corpus (margin < 0 ⇒ another class's centroid
    explains the vector better).

    Scale shape: label centroids come from ONE posexplode + map-side-
    combined hash agg (K·d rows out, K = #labels); they then collapse to a
    SINGLE broadcast row of (label, centroid) structs, so the scoring pass
    is a zero-fan-out projection over one scan — per row, the own-cosine
    pick and the (−cos, label)-sorted best-other pick are array expressions
    over the K-element candidate list. No n×K row blow-up, no window, no
    second shuffle of the vectors.

    Determinism: centroids are elementwise integer means of the quantized
    vectors (floor(sum/count + 0.5) — exact, order-independent); cosines
    follow the vectors.py convention (integer dot products, one sqrt +
    division at the end), so both engines produce identical doubles and
    the margin sign is bit-stable.
    """
    vecs = _quantized(spark, sf_dir)
    comp = vecs.select("label", F.posexplode("q").alias("j", "x"))
    cent = comp.groupBy("label", "j").agg(
        F.floor(F.sum("x").cast("double") / F.count(F.lit(1)) + F.lit(0.5)).cast("long").alias("c")
    )
    cents = cent.groupBy("label").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("j", "c"))), lambda s: s.c).alias("cq")
    )
    allc = cents.agg(
        F.array_sort(F.collect_list(F.struct(F.col("label").alias("clabel"), F.col("cq").alias("cq")))).alias("cands")
    )

    scored = vecs.join(F.broadcast(allc)).withColumn(
        "scs",
        F.transform(
            "cands",
            lambda s: F.struct(
                s.clabel.alias("clabel"), vx.cosine_q(F.col("q"), s.cq).alias("cs")
            ),
        ),
    )
    own = F.element_at(F.filter("scs", lambda s: s.clabel == F.col("label")), 1).cs
    others = F.array_sort(
        F.transform(
            F.filter("scs", lambda s: s.clabel != F.col("label")),
            lambda s: F.struct((-s.cs).alias("neg"), s.clabel.alias("clabel"), s.cs.alias("cs")),
        )
    )
    best = F.element_at(others, 1)
    return scored.select(
        "vec_id",
        "label",
        floor6(own).alias("cos_own"),
        best.clabel.alias("best_other"),
        floor6(best.cs).alias("cos_other"),
        floor6(own - best.cs).alias("margin"),
        (best.cs > own).alias("is_mislabeled"),
    )


EMBED_OUTLIERS_SQL = f"""
WITH vecs AS (
    SELECT vec_id, label, {vx.QUANTIZE_SQL.format(v='embedding')} AS q FROM embeddings
),
comp AS (
    SELECT label, i, q[i] AS x
    FROM vecs CROSS JOIN (SELECT unnest(range(1, {_OUT_DIM} + 1)) AS i) idx
),
centroid AS (
    SELECT label, i, CAST(floor(CAST(sum(x) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
    FROM comp GROUP BY label, i
),
cents AS (SELECT label AS clabel, list(c ORDER BY i) AS cq FROM centroid GROUP BY label),
scored AS (
    SELECT v.vec_id, v.label, c.clabel, {vx.cosine_q_sql('v.q', 'c.cq')} AS cs
    FROM vecs v CROSS JOIN cents c
),
own AS (SELECT vec_id, label, cs AS cos_own FROM scored WHERE label = clabel),
other AS (
    SELECT vec_id, clabel AS best_other, cs AS cos_other FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, clabel) AS rn
        FROM scored WHERE label != clabel
    ) t WHERE rn = 1
)
SELECT o.vec_id, o.label,
       {floor6_sql('o.cos_own')} AS cos_own,
       t.best_other,
       {floor6_sql('t.cos_other')} AS cos_other,
       {floor6_sql('o.cos_own - t.cos_other')} AS margin,
       t.cos_other > o.cos_own AS is_mislabeled
FROM own o JOIN other t ON o.vec_id = t.vec_id
"""


# ---------------------------------------------------------------------------
# embedding-space isotropy / quality audit
# ---------------------------------------------------------------------------


def embed_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row embedding-space quality audit: RMS vector norm, how far the
    corpus mean sits from the origin (centering defect), and the variance
    participation ratio PR = (Σ_d σ_d²)² / Σ_d σ_d⁴ — the effective number
    of active dimensions (PR ≈ d isotropic, PR ≪ d collapsed/anisotropic;
    Ethayarajh 2019's anisotropy finding made this THE pre-flight check
    before cosine retrieval, clustering, or dedup trust their distances).

    Shape: per-dimension Σx and Σx² come from ONE posexplode + groupBy(dim)
    with map-side combine (d = embedding width keys — trivially bounded);
    per-row norms never materialize (global Σ‖x‖² is the sum of the SAME
    per-dim Σx² — zero extra passes). The d per-dim variances collapse to
    one row via a SORTED-array fold, so every double accumulates in pinned
    dimension order (the repo's order-determinism discipline); everything
    upstream is exact quantized-integer sums. At 100 TB the integer Σx²
    per dim can exceed int64 — swap the sums to DECIMAL(38,0); noted, not
    needed at test scale.
    """
    vecs = _quantized(spark, sf_dir)
    n = vecs.count()  # 1-value action, reused as a literal in the plan
    ex = vecs.select(F.posexplode("q").alias("dim", "x"))
    per_dim = ex.groupBy("dim").agg(
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = float(n)
    mean_d = F.col("sx").cast("double") / nd
    var_d = F.col("sxx").cast("double") / nd - mean_d * mean_d
    stats = per_dim.select(
        "dim",
        F.col("sxx").alias("sxx"),
        var_d.alias("var"),
        (mean_d * mean_d).alias("mean_sq"),
    )
    one = stats.agg(
        F.count(F.lit(1)).alias("dim_n"),
        F.sum("sxx").alias("sum_sxx"),  # exact long: Σ over dims of Σx²
        F.array_sort(F.collect_list(F.struct("dim", "var", "mean_sq"))).alias("a"),
    )
    sum_var = F.aggregate("a", F.lit(0.0), lambda acc, r: acc + r["var"])
    sum_var2 = F.aggregate("a", F.lit(0.0), lambda acc, r: acc + r["var"] * r["var"])
    center_sq = F.aggregate("a", F.lit(0.0), lambda acc, r: acc + r["mean_sq"])
    q2 = 1.0e12  # QUANT² — back to embedding units
    mean_norm_sq = F.col("sum_sxx").cast("double") / nd / q2
    pr = sum_var * sum_var / sum_var2
    return one.select(
        F.lit(n).cast("long").alias("n_vecs"),
        F.col("dim_n").cast("int").alias("dim"),
        (F.floor(F.sqrt(mean_norm_sq) * 1e6) / 1e6).alias("rms_norm"),
        (F.floor(center_sq / q2 / mean_norm_sq * 1e6) / 1e6).alias("center_norm_frac"),
        (F.floor(pr * 1e6) / 1e6).alias("participation_ratio"),
        (F.floor(pr / F.col("dim_n").cast("double") * 1e6) / 1e6).alias("pr_frac"),
    )


EMBED_ISOTROPY_SQL = f"""
WITH vecs AS (
    SELECT vec_id, {vx.QUANTIZE_SQL.format(v='embedding')} AS q FROM embeddings
),
nq AS (SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS n_vecs FROM vecs),
ex AS (
    SELECT unnest(range(0, len(q))) AS dim, unnest(q) AS x FROM vecs
),
per_dim AS (
    SELECT dim, sum(x) AS sx, sum(x * x) AS sxx FROM ex GROUP BY dim
),
stats AS (
    SELECT dim, sxx,
           CAST(sxx AS DOUBLE) / (SELECT n FROM nq)
             - (CAST(sx AS DOUBLE) / (SELECT n FROM nq)) * (CAST(sx AS DOUBLE) / (SELECT n FROM nq)) AS var,
           (CAST(sx AS DOUBLE) / (SELECT n FROM nq)) * (CAST(sx AS DOUBLE) / (SELECT n FROM nq)) AS mean_sq
    FROM per_dim
),
one AS (
    SELECT count(*) AS dim_n,
           CAST(sum(sxx) AS BIGINT) AS sum_sxx,
           list_sort(list(struct_pack(dim := dim, var := var, mean_sq := mean_sq))) AS a
    FROM stats
),
folded AS (
    SELECT dim_n, sum_sxx,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(a, r -> r.var)),
                       (x, y) -> x + y) AS sum_var,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(a, r -> r.var * r.var)),
                       (x, y) -> x + y) AS sum_var2,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(a, r -> r.mean_sq)),
                       (x, y) -> x + y) AS center_sq
    FROM one
)
SELECT (SELECT CAST(n_vecs AS BIGINT) FROM nq) AS n_vecs,
       CAST(dim_n AS INT) AS dim,
       floor(sqrt(CAST(sum_sxx AS DOUBLE) / (SELECT n FROM nq) / 1e12) * 1e6) / 1e6 AS rms_norm,
       floor(center_sq / 1e12 / (CAST(sum_sxx AS DOUBLE) / (SELECT n FROM nq) / 1e12) * 1e6) / 1e6 AS center_norm_frac,
       floor(sum_var * sum_var / sum_var2 * 1e6) / 1e6 AS participation_ratio,
       floor(sum_var * sum_var / sum_var2 / CAST(dim_n AS DOUBLE) * 1e6) / 1e6 AS pr_frac
FROM folded
"""


# ---------------------------------------------------------------------------
# cluster-vs-label purity — external validation of the semantic buckets
# ---------------------------------------------------------------------------


def embed_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External cluster validation: per k-means cell, the majority label
    and its share (purity) — the sanity gate before any pipeline TRUSTS
    the semantic buckets (dedup_semantic scopes candidate pairs by these
    cells; sample diversity planning mixes by them — a low-purity cell
    means the embedding space, not the data, is the problem; the
    per-cluster complement of embed_outliers' per-vector margin).

    One join of the deterministic Lloyd assignment onto labels, a
    (cell, label) count (K×L keys), and a row_number pick of the majority
    (count DESC, label ASC — deterministic under ties). Exact integers
    until one floor-scaled division; the K-row result is driver-bounded.
    """
    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    assign = embed_kmeans(spark, sf_dir).select("vec_id", "cluster")
    cl = assign.join(vecs, "vec_id").groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("cluster").orderBy(F.col("cnt").desc(), F.col("label").asc())
    top = cl.withColumn("rn", F.row_number().over(w))
    tot = cl.groupBy("cluster").agg(
        F.sum("cnt").alias("n_vecs"), F.count(F.lit(1)).alias("n_labels")
    )
    return (
        top.filter(F.col("rn") == 1)
        .join(tot, "cluster")
        .select(
            "cluster",
            "n_vecs",
            F.col("n_labels").cast("long").alias("n_labels"),
            F.col("label").alias("top_label"),
            F.col("cnt").alias("top_n"),
            (F.floor(F.col("cnt").cast("double") / F.col("n_vecs").cast("double") * 1e6) / 1e6).alias("purity"),
        )
    )


EMBED_CLUSTER_PURITY_SQL = f"""
WITH km AS ({EMBED_KMEANS_SQL}),
cl AS (
    SELECT km.cluster, e.label, count(*) AS cnt
    FROM km JOIN embeddings e ON e.vec_id = km.vec_id
    GROUP BY km.cluster, e.label
),
top AS (
    SELECT cluster, label, cnt,
           row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, label ASC) AS rn
    FROM cl
),
tot AS (
    SELECT cluster, CAST(sum(cnt) AS BIGINT) AS n_vecs, CAST(count(*) AS BIGINT) AS n_labels
    FROM cl GROUP BY cluster
)
SELECT t.cluster, z.n_vecs, z.n_labels, t.label AS top_label,
       CAST(t.cnt AS BIGINT) AS top_n,
       floor(CAST(t.cnt AS DOUBLE) / CAST(z.n_vecs AS DOUBLE) * 1e6) / 1e6 AS purity
FROM top t JOIN tot z ON z.cluster = t.cluster
WHERE t.rn = 1
"""


# ---------------------------------------------------------------------------
# metadata-filtered ANN — predicate-constrained vector search
# ---------------------------------------------------------------------------


def ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: exact top-k cosine neighbours CONSTRAINED to
    the query's own label — the "WHERE clause on a vector index" every
    production vector store exposes (category-scoped retrieval, per-tenant
    search). Pre-filtering via an EQUI-join on the predicate column, not
    post-filtering a global top-k (which under-fills whenever the label is
    a minority — the classic filtered-ANN failure mode).

    Plan shape: the label join composes with the broadcast query join into
    ONE candidate projection — candidates shrink by the label's
    selectivity BEFORE any scoring, and at 100 TB the label becomes the
    partition key so each query scans exactly one partition family. Dot
    products are exact quantized-integer folds (vx convention); one window
    top-k per query."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", vx.quantize(F.col("embedding")).alias("q")
    )
    queries = vecs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("q").alias("qv"),
    )
    scored = (
        vecs.join(
            F.broadcast(queries),
            (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            F.col("vec_id").alias("neighbor_id"),
            vx.cosine_q(F.col("qv"), F.col("q")).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            "query_id", "label", "neighbor_id",
            (F.floor(F.col("_cos") * 1e6) / 1e6).alias("cosine"), "rank",
        )
    )


ANN_FILTERED_SQL = f"""
WITH vecs AS (
    SELECT vec_id, label, {vx.QUANTIZE_SQL.format(v='embedding')} AS q FROM embeddings
),
queries AS (
    SELECT vec_id AS query_id, label AS qlabel, q AS qv FROM vecs WHERE vec_id < {_N_QUERIES}
),
scored AS (
    SELECT query_id, qlabel AS label, v.vec_id AS neighbor_id,
           {vx.cosine_q_sql('qv', 'v.q')} AS c
    FROM vecs v JOIN queries ON v.label = qlabel AND v.vec_id != query_id
),
ranked AS (
    SELECT query_id, label, neighbor_id, c,
           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, label, neighbor_id, floor(c * 1e6) / 1e6 AS cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
"""


# ---------------------------------------------------------------------------
# embedding centroid drift — per-class distribution monitoring
# ---------------------------------------------------------------------------

_DRIFT_COS_MIN = 0.98


def embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift monitor between two halves of the corpus
    (vec_id parity as the deterministic stand-in for an old/new snapshot
    column): cosine between the halves' class centroids, the drift score
    1 − cos, and the centroid-norm ratio — the standard "did the encoder
    or the data shift?" check run before trusting cached ANN indexes or
    classifiers on refreshed data.

    Exactness: the centroid cosine is computed on per-dimension SUM
    vectors (cosine is scale-invariant, so sums ≡ means) — exact BIGINT
    component sums via ONE posexplode + (label, half, dim) map-side
    combined aggregate; #labels × 2 × 64 rows shuffle, nothing else. The
    only doubles are the final cosine/ratio (norm ratio rescales by the
    exact counts). At 100 TB the partial agg absorbs the scan; the
    centroid table is KB-sized."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", vx.quantize(F.col("embedding")).alias("q")
    )
    pe = vecs.select(
        "label",
        (F.col("vec_id") % 2).cast("int").alias("half"),
        F.posexplode("q").alias("pos", "comp"),
    )
    sums = pe.groupBy("label", "half", "pos").agg(F.sum("comp").alias("s"))
    cent = (
        sums.groupBy("label", "half")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("arr"),
        )
        .select("label", "half", F.transform("arr", lambda x: x["s"]).alias("sv"))
    )
    counts = vecs.groupBy("label", (F.col("vec_id") % 2).cast("int").alias("half")).agg(
        F.count(F.lit(1)).alias("n")
    )
    cent = cent.join(counts, ["label", "half"])
    old = cent.filter(F.col("half") == 0).select("label", F.col("sv").alias("sv0"), F.col("n").alias("n_old"))
    new = cent.filter(F.col("half") == 1).select("label", F.col("sv").alias("sv1"), F.col("n").alias("n_new"))
    j = old.join(new, "label")
    cos = vx.cosine_q(F.col("sv0"), F.col("sv1"))
    norm0 = F.sqrt(vx.norm_sq_q(F.col("sv0")).cast("double")) / F.col("n_old").cast("double")
    norm1 = F.sqrt(vx.norm_sq_q(F.col("sv1")).cast("double")) / F.col("n_new").cast("double")
    return j.select(
        "label",
        "n_old",
        "n_new",
        (F.floor(cos * 1e6) / 1e6).alias("centroid_cosine"),
        (F.floor((1.0 - cos) * 1e6) / 1e6).alias("drift"),
        (F.floor(norm1 / norm0 * 1e6) / 1e6).alias("norm_ratio"),
        F.when(cos < _DRIFT_COS_MIN, F.lit("drifted")).otherwise(F.lit("stable")).alias("verdict"),
    ).orderBy("label")


EMBED_CENTROID_DRIFT_SQL = f"""
WITH vecs AS (
    SELECT vec_id, label, {vx.QUANTIZE_SQL.format(v='embedding')} AS q FROM embeddings
),
pe AS (
    SELECT label, CAST(vec_id % 2 AS INT) AS half,
           unnest(range(1, len(q) + 1)) AS pos, unnest(q) AS comp
    FROM vecs
),
sums AS (
    SELECT label, half, pos, CAST(sum(comp) AS BIGINT) AS s
    FROM pe GROUP BY label, half, pos
),
cent AS (
    SELECT label, half,
           list_transform(list_sort(list(struct_pack(pos := pos, s := s))), x -> x.s) AS sv
    FROM sums GROUP BY label, half
),
counts AS (
    SELECT label, CAST(vec_id % 2 AS INT) AS half, count(*) AS n
    FROM vecs GROUP BY 1, 2
),
cj AS (SELECT c.label, c.half, c.sv, k.n FROM cent c JOIN counts k ON k.label = c.label AND k.half = c.half),
j AS (
    SELECT o.label, o.sv AS sv0, o.n AS n_old, w.sv AS sv1, w.n AS n_new
    FROM (SELECT * FROM cj WHERE half = 0) o
    JOIN (SELECT * FROM cj WHERE half = 1) w ON w.label = o.label
)
SELECT label, n_old, n_new,
       floor({vx.cosine_q_sql('sv0', 'sv1')} * 1e6) / 1e6 AS centroid_cosine,
       floor((1.0 - {vx.cosine_q_sql('sv0', 'sv1')}) * 1e6) / 1e6 AS drift,
       floor((sqrt(CAST({vx.DOT_Q_SQL.format(a='sv1', b='sv1')} AS DOUBLE)) / CAST(n_new AS DOUBLE))
             / (sqrt(CAST({vx.DOT_Q_SQL.format(a='sv0', b='sv0')} AS DOUBLE)) / CAST(n_old AS DOUBLE))
             * 1e6) / 1e6 AS norm_ratio,
       CASE WHEN {vx.cosine_q_sql('sv0', 'sv1')} < {_DRIFT_COS_MIN!r} THEN 'drifted' ELSE 'stable' END AS verdict
FROM j
ORDER BY label
"""


# ---------------------------------------------------------------------------
# IVF index-health audit — cell balance and cohesion
# ---------------------------------------------------------------------------


def embed_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-health audit of the IVF coarse quantizer: per-cell list
    length and share, worst/best member-to-centroid cosine (cohesion
    range), plus the global imbalance factor (max list / mean list) and
    empty-cell count on every row — the numbers that decide whether an
    IVF index needs retraining before a 100 TB search campaign (a hot cell
    degrades probing to brute force over n/imbalance of the corpus; empty
    cells waste nprobe budget).

    Composes :func:`_ivf_assign` (shared code with ann_ivf — same
    centroids, same deterministic assignment). Cohesion bounds are
    MIN/MAX over doubles (order-insensitive — a float MEAN would be
    partial-aggregation-order-sensitive across engines, so it is
    deliberately absent); counts and shares are exact integers. One
    ≤C-row window rollup."""
    _, _, assign = _ivf_assign(spark, sf_dir)
    cells = assign.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("cs").alias("min_cos"),
        F.max("cs").alias("max_cos"),
    )
    # bounded: runs over the K-row per-cell aggregate
    w = Window.partitionBy()
    total = F.sum("n_vecs").over(w).cast("double")
    maxn = F.max("n_vecs").over(w).cast("double")
    ncells = F.count(F.lit(1)).over(w)
    return cells.select(
        "cell",
        "n_vecs",
        (F.floor(F.col("n_vecs").cast("double") / total * 1e6) / 1e6).alias("share"),
        (F.floor(F.col("min_cos") * 1e6) / 1e6).alias("min_cos"),
        (F.floor(F.col("max_cos") * 1e6) / 1e6).alias("max_cos"),
        (F.floor(maxn / (total / float(_IVF_CELLS)) * 1e6) / 1e6).alias("imbalance"),
        (F.lit(_IVF_CELLS) - ncells).cast("int").alias("n_empty_cells"),
    ).orderBy("cell")


EMBED_INDEX_STATS_SQL = f"""
WITH vecs AS (
    SELECT vec_id, {{q}} AS q, vec_id % {_IVF_CELLS} AS scell
    FROM embeddings
),
comp AS (
    SELECT scell, i, q[i] AS x
    FROM vecs CROSS JOIN (SELECT unnest(range(1, {_IVF_DIM} + 1)) AS i) idx
),
centroid AS (
    SELECT scell, i, CAST(floor(CAST(sum(x) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
    FROM comp GROUP BY scell, i
),
cent AS (SELECT scell AS cell, list(c ORDER BY i) AS cq FROM centroid GROUP BY scell),
scored_c AS (
    SELECT v.vec_id, v.q, c.cell, {vx.cosine_q_sql('v.q', 'c.cq')} AS cs
    FROM vecs v CROSS JOIN cent c
),
assign AS (
    SELECT vec_id, cell, cs FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn FROM scored_c
    ) t WHERE rn = 1
),
cells AS (
    SELECT cell, count(*) AS n_vecs, min(cs) AS min_cos, max(cs) AS max_cos
    FROM assign GROUP BY cell
)
SELECT cell, n_vecs,
       floor(CAST(n_vecs AS DOUBLE) / CAST(sum(n_vecs) OVER () AS DOUBLE) * 1e6) / 1e6 AS share,
       floor(min_cos * 1e6) / 1e6 AS min_cos,
       floor(max_cos * 1e6) / 1e6 AS max_cos,
       floor(CAST(max(n_vecs) OVER () AS DOUBLE)
             / (CAST(sum(n_vecs) OVER () AS DOUBLE) / {float(_IVF_CELLS)!r}) * 1e6) / 1e6 AS imbalance,
       CAST({_IVF_CELLS} - count(*) OVER () AS INT) AS n_empty_cells
FROM cells
ORDER BY cell
""".format(q=vx.QUANTIZE_SQL.format(v="embedding"))


# ---------------------------------------------------------------------------
# kNN graph — cell-blocked neighbor edges + reciprocity
# ---------------------------------------------------------------------------

_KNN_K = 3


def embed_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-blocked kNN graph over the embedding corpus: each vector's
    top-k cosine neighbors WITHIN its IVF cell, with a mutuality flag
    (am I in my neighbor's top-k too?) — the edge list that graph-based
    dedup/community/HNSW-style index construction starts from, plus the
    reciprocity signal that separates true clusters (mutual edges) from
    hub attraction (one-way edges into a dense region).

    Scale shape: candidates come from ONE equi-join on the learned cell id
    (Σ|cell|² pairs — the SemDeDup blocking bound, never n²; the
    :func:`_ivf_assign` centroids are shared code with ann_ivf), one
    window top-k per vector, and the mutuality check is a self-join of the
    k·n edge list against itself reversed — linear in edges. Exact
    quantized-integer dot folds; floor-scaled cosine; mutual as 0/1 int
    (gate-friendly flat schema)."""
    _, _, assign = _ivf_assign(spark, sf_dir)
    # norms are per-ROW; inlined cosine_q would fold BOTH norms per PAIR
    # (the dedup_embedding r13/r14 finding — pairs are quadratic in cell
    # size, norms linear). Same double op order as cosine_q: dot /
    # (sqrt(na) * sqrt(nb)), so the oracle stays bit-identical.
    assign = assign.withColumn("nq", F.sqrt(vx.norm_sq_q(F.col("q")).cast("double")))
    # pin here (NOT in _ivf_assign): this is the one consumer that reads
    # the assignment on BOTH self-join sides — unpinned, the centroid agg
    # + C-cosine scoring + full ranking window run twice. One row per
    # vector, q + its norm.
    assign = assign.localCheckpoint(eager=False)
    a = assign.select(
        "cell", F.col("vec_id").alias("src"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    b = assign.select(
        "cell", F.col("vec_id").alias("dst"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    cand = a.join(b, "cell").filter(F.col("src") != F.col("dst"))
    scored = cand.select(
        "src", "dst", (vx.dot_q(F.col("qa"), F.col("qb")) / (F.col("na") * F.col("nb"))).alias("_cos")
    )
    w = Window.partitionBy("src").orderBy(F.col("_cos").desc(), F.col("dst"))
    knn = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_K)
        .select("src", "dst", "rank", "_cos")
        .localCheckpoint(eager=False)  # feeds the output AND the reversed self-join
    )
    rev = knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(1).alias("m"))
    out = knn.join(rev, ["src", "dst"], "left")
    return out.select(
        F.col("src").alias("vec_id"),
        F.col("dst").alias("neighbor_id"),
        "rank",
        floor6(F.col("_cos")).alias("cosine"),
        F.coalesce(F.col("m"), F.lit(0)).cast("int").alias("mutual"),
    )


EMBED_KNN_GRAPH_SQL = f"""
WITH vecs AS (
    SELECT vec_id, {{q}} AS q, vec_id % {_IVF_CELLS} AS scell
    FROM embeddings
),
comp AS (
    SELECT scell, i, q[i] AS x
    FROM vecs CROSS JOIN (SELECT unnest(range(1, {_IVF_DIM} + 1)) AS i) idx
),
centroid AS (
    SELECT scell, i, CAST(floor(CAST(sum(x) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
    FROM comp GROUP BY scell, i
),
cent AS (SELECT scell AS cell, list(c ORDER BY i) AS cq FROM centroid GROUP BY scell),
scored_c AS (
    SELECT v.vec_id, v.q, c.cell, {vx.cosine_q_sql('v.q', 'c.cq')} AS cs
    FROM vecs v CROSS JOIN cent c
),
assign AS (
    SELECT vec_id, q, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn FROM scored_c
    ) t WHERE rn = 1
),
cand AS (
    SELECT a.vec_id AS src, b.vec_id AS dst, {vx.cosine_q_sql('a.q', 'b.q')} AS cos
    FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id != b.vec_id
),
knn AS (
    SELECT src, dst, rank, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
        FROM cand
    ) t WHERE rank <= {_KNN_K}
)
SELECT k.src AS vec_id, k.dst AS neighbor_id, k.rank,
       {floor6_sql("k.cos")} AS cosine,
       CAST(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS INT) AS mutual
FROM knn k LEFT JOIN knn r ON r.src = k.dst AND r.dst = k.src
""".format(q=vx.QUANTIZE_SQL.format(v="embedding"))
