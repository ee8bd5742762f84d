"""Deduplication operators (SURVEY §2c/§2d) — exact, n-gram Jaccard,
MinHash+LSH, SimHash, and embedding-cosine near-dup.

The testdata has no natural duplicates, so every dedup query runs over a
*corpus* with deterministically planted copies (exact at doc_id%7 → +200000,
near at doc_id%10 → +100000 with appended tokens) — derived identically in
Spark and the DuckDB oracle. The operators themselves are corpus-agnostic.

Scale design: every candidate-pair generator is a *blocked* self-join
(shared shingle / LSH band / simhash byte-band / coarse label) — never an
O(n²) cross join. The verify step runs only on the candidate set. All
hashing is md5-based column arithmetic: JVM codegen on Spark, bit-equal in
the oracle.

The shingle-set operators share their steps: :func:`_shingled` (the
persisted per-doc shingle set), :func:`_overlap` (``(doc_a, doc_b, inter,
na, nb)`` — intersection counts and set sizes over the blocked all-pairs
self-join or over a candidate-pair frame), :func:`_jaccard_pairs` (the
floor-scaled Jaccard ≥ τ filter), :func:`_signatures` (minhash) and
:func:`_lsh_candidates` (the band join). The oracles share the matching
fragments (``_BLOCKED_INTER_SQL``, :func:`_cand_inter_sql`,
``_JACCARD_PAIRS_SQL``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timedb_spark.functions import texttools as tt
from timedb_spark.functions.rounding import floor6, floor6_once, floor6_sql
from timedb_spark.functions import vectors as vx
from timedb_spark.io.tables import load_table

# ---------------------------------------------------------------------------
# Corpus with planted duplicates
# ---------------------------------------------------------------------------

_NEAR_SUFFIX = " qq zz yy xx"


def doc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"), F.concat(F.col("text"), F.lit(_NEAR_SUFFIX)).alias("text"))
    )
    exact = docs.filter(F.col("doc_id") % 7 == 0).select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    return docs.unionByName(near).unionByName(exact)


DOC_CORPUS_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id, text || '{_NEAR_SUFFIX}' AS text FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
"""


# ---------------------------------------------------------------------------
# Exact dedup — hash groupBy
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups on whitespace-normalized lowered text.

    One groupBy on the md5 key (map-side partial agg); group members stay
    distributed — no collect. Output: one row per member of a group with
    size > 1, with the group's min doc_id as group_id.
    """
    corpus = doc_corpus(spark, sf_dir)
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    keyed = corpus.select("doc_id", F.md5(norm).alias("text_key"))
    groups = keyed.groupBy("text_key").agg(
        F.min("doc_id").alias("group_id"), F.count(F.lit(1)).alias("group_size")
    ).filter(F.col("group_size") > 1)
    return keyed.join(groups, "text_key").select("doc_id", "group_id", "group_size")


DEDUP_EXACT_SQL = rf"""
WITH corpus AS ({DOC_CORPUS_SQL}),
keyed AS (
    SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS text_key
    FROM corpus
),
groups AS (
    SELECT text_key, min(doc_id) AS group_id, count(*) AS group_size
    FROM keyed GROUP BY text_key HAVING count(*) > 1
)
SELECT k.doc_id, g.group_id, g.group_size
FROM keyed k JOIN groups g USING (text_key)
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard dedup — shared-shingle blocking + exact verify
# ---------------------------------------------------------------------------

_JACCARD_TAU = 0.5
_SHINGLE_N = 5

def _jac_f6_sql(inter: str, sa: str, sb: str) -> str:
    """Shared jaccard twin — the guarded floor-scale convention. Takes the
    embedding template's intersection column and size-CTE aliases
    EXPLICITLY (ADVICE r12): the two templates that embed this
    (``_JACCARD_PAIRS_SQL`` and lsh_tuning's true-pairs CTE) each pass
    their own names, so renaming an alias in one breaks at ITS call site
    in Python, not at DuckDB parse time."""
    return floor6_sql(f"CAST({inter} AS DOUBLE) / ({sa}.n_sh + {sb}.n_sh - {inter})")


def _shingled(corpus: DataFrame) -> DataFrame:
    # Two projections on purpose: the shingle lambda must reference the
    # materialized token *attribute*, not the split() expression — otherwise
    # each of the ~n slice lambdas re-runs the tokenizer (O(n²) per doc;
    # measured 188 s → 11 s at sf0.01 for the pair query).
    #
    # persist(): the shingled frame feeds several plan branches (signature/
    # banding, set sizes, and BOTH sides of the verify join) and Spark does
    # not share common subplans across branches — unpersisted, the
    # tokenize+shingle+hash pass re-runs up to 5×. MEMORY_AND_DISK spills
    # cleanly at 100 TB; the frame is doc_id + shingle array, a fraction of
    # the raw text scan it replaces.
    from pyspark import StorageLevel

    return (
        corpus.select("doc_id", tt.ws_tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.array_distinct(tt.shingles(F.col("toks"), _SHINGLE_N)).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _overlap(sh: DataFrame, cand: DataFrame | None = None) -> DataFrame:
    """Shingle overlap (doc_a, doc_b, inter, na, nb) off the persisted
    shingle frame: ``inter`` = |sh(a) ∩ sh(b)| from ONE groupBy over an
    equi-join on the shingle key, ``na``/``nb`` the two set sizes.

    Without ``cand`` every pair sharing a shingle is counted (the blocked
    all-pairs self-join, doc_a < doc_b); with a (doc_a, doc_b) candidate
    frame only those pairs are (the verify step after LSH banding).

    Merge hints: the exploded-shingle frame's Catalyst size estimate is the
    PRE-explode scan size, so without the hint a side gets STATICALLY
    broadcast (AQE cannot demote it) — ~128 MB driver build at 10x sf0.1
    (tools/scaleprobe.py r12), a driver OOM at 100 TB. Sort-merge makes no
    memory assumption; explode-derived sides never broadcast."""
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    if cand is None:
        a, b = ex.alias("a"), ex.alias("b").hint("merge")
        inter = (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        inter = (
            ex.alias("x")
            .join(cand.hint("merge"), F.col("x.doc_id") == F.col("doc_a"))
            .join(ex.alias("y").hint("merge"), (F.col("y.doc_id") == F.col("doc_b")) & (F.col("x.s") == F.col("y.s")))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def _jaccard_pairs(ov: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs of an :func:`_overlap` frame whose
    floor-scaled Jaccard reaches τ."""
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return ov.select("doc_a", "doc_b", floor6(jac).alias("jaccard")).filter(F.col("jaccard") >= _JACCARD_TAU)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ τ over word-5-gram shingle sets; candidate pairs are
    blocked on shared shingles (equi-join, shuffle on shingle key) so the
    pair space is bounded by co-occurrence, not n²."""
    return _jaccard_pairs(_overlap(_shingled(doc_corpus(spark, sf_dir))))


_SHINGLED_SQL = rf"""
SELECT doc_id,
       list_distinct(list_transform(
           range(1, greatest(len(w) - {_SHINGLE_N - 1}, 1) + 1),
           i -> array_to_string(w[i:i+{_SHINGLE_N - 1}], ' '))) AS sh
FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM corpus)
"""

#: oracle side of :func:`_overlap`: the set sizes, the exploded
#: shingles, and ``inter`` over all blocked pairs or over a candidate CTE
_SIZES_SQL = "sizes AS (SELECT doc_id, len(sh) AS n_sh FROM shingled)"
_EX_SQL = "ex AS (SELECT doc_id, unnest(sh) AS s FROM shingled)"
_BLOCKED_INTER_SQL = f"""{_SIZES_SQL},
{_EX_SQL},
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)"""


def _cand_inter_sql(cand: str) -> str:
    return f"""{_EX_SQL},
{_SIZES_SQL},
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS inter
    FROM {cand} c
    JOIN ex x ON x.doc_id = c.doc_a
    JOIN ex y ON y.doc_id = c.doc_b AND y.s = x.s
    GROUP BY c.doc_a, c.doc_b
)"""


#: oracle side of :func:`_jaccard_pairs` over ``inter``
_JACCARD_PAIRS_SQL = f"""SELECT doc_a, doc_b,
       {_jac_f6_sql('inter', 'sa', 'sb')} AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {_jac_f6_sql('inter', 'sa', 'sb')} >= {_JACCARD_TAU}"""

DEDUP_NGRAM_SQL = rf"""
WITH corpus AS ({DOC_CORPUS_SQL}),
shingled AS ({_SHINGLED_SQL}),
{_BLOCKED_INTER_SQL}
{_JACCARD_PAIRS_SQL}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH dedup
# ---------------------------------------------------------------------------

_MH_K = 16
_MH_BANDS = 4
_MH_ROWS = _MH_K // _MH_BANDS


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=16) signatures → LSH banding (4 bands × 4 rows) → candidate
    pairs share a band → exact-Jaccard verify ≥ τ.

    The LSH join is the 100 TB path: pair generation is an equi-join on
    (band_idx, band_key) — each band bucket holds only colliding docs, so
    shuffle volume is O(n·bands), never O(n²). Hashing is one md5 per
    shingle (materialized base-hash column) + k affine mixes — not k salted
    md5 passes."""
    sh = _shingled(doc_corpus(spark, sf_dir))
    return _jaccard_pairs(_overlap(sh, _lsh_candidates(_signatures(sh), _MH_BANDS, _MH_ROWS)))


def _signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, sh, sig): k=16 minhash signature per shingle set."""
    based = sh.select("doc_id", "sh", F.transform("sh", tt.base_hash).alias("hs"))
    return based.select("doc_id", "sh", tt.minhash_signature(F.col("hs"), _MH_K).alias("sig"))


def _lsh_candidates(sig: DataFrame, b: int, r: int) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs, doc_a < doc_b, whose signatures
    collide on any of ``b`` bands of ``r`` rows: one equi-join on
    (band_idx, band_key). Merge hint: the banded frame carries the
    pre-explode size estimate (see :func:`_overlap`)."""
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.transform(F.slice(F.col("sig"), i * r + 1, r), lambda x: x.cast("string")),
                            )
                        ).alias("band_key"),
                    )
                    for i in range(b)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_key")
    a, bb = bands.alias("a"), bands.alias("b").hint("merge")
    return (
        a.join(
            bb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


_SIG_SQL = f"""
SELECT doc_id, sh,
       [{", ".join(f"list_aggregate(list_transform(hs, h -> (h * {a} + {b}) % {tt.MH_P}), 'min')" for a, b in tt.mh_params(_MH_K))}] AS sig
FROM (SELECT doc_id, sh, list_transform(sh, s -> {tt.BASE_HASH_SQL.format(s='s')}) AS hs FROM shingled)
"""

DEDUP_MINHASH_SQL = rf"""
WITH corpus AS ({DOC_CORPUS_SQL}),
shingled AS ({_SHINGLED_SQL}),
sig AS ({_SIG_SQL}),
bands AS (
    SELECT doc_id, i AS band_idx,
           md5(array_to_string(sig[1 + i*{_MH_ROWS} : (i+1)*{_MH_ROWS}], '|')) AS band_key
    FROM sig, unnest(range(0, {_MH_BANDS})) AS t(i)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
{_cand_inter_sql("cand")}
{_JACCARD_PAIRS_SQL}
"""


# ---------------------------------------------------------------------------
# SimHash dedup
# ---------------------------------------------------------------------------

_SIMHASH_MAX_HAMMING = 3


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash; candidates share one of four 8-bit byte-bands
    (guarantees recall for hamming ≤ 3 by pigeonhole: 4 bands, ≤3 differing
    bits → some band intact); verify bit_count(xor) ≤ 3."""
    from pyspark import StorageLevel

    corpus = doc_corpus(spark, sf_dir)
    sigs = (
        corpus.select("doc_id", tt.ws_tokens(F.col("text")).alias("toks"))
        # digest array in its own projection: 32 bit-folds reference it, so
        # each token is md5-hashed once, not 32×
        .select("doc_id", F.transform("toks", F.md5).alias("digs"))
        .select("doc_id", tt.simhash32(F.col("digs")).alias("sig"))
        # persist(): the signature frame feeds BOTH sides of the band
        # self-join — unpersisted, the tokenize+md5+32-fold pass runs twice.
        # (doc_id, long) rows: negligible memory, halves the hash work.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("band_idx"), (F.shiftright("sig", 8 * i) % 256).alias("byte")) for i in range(4)])
        ).alias("band"),
    ).select("doc_id", "sig", "band.band_idx", "band.byte")
    a = bands.alias("a")
    # merge hint: bands is explode-derived (4 rows/doc) — linear in the
    # corpus, so it must never be statically broadcast (the scaleprobe r12
    # class); the 1024-key byte-bucket shuffle is the documented shape.
    b = bands.alias("b").hint("merge")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("doc_a", "doc_b", ham.alias("hamming")).filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)


_TOKEN_HASH_NIBBLE = "(strpos('0123456789abcdef', substr(d, {j}, 1)) - 1)"

_SIMHASH_BITSUM = " , ".join(
    f"list_sum(list_transform(digs, d -> ({_TOKEN_HASH_NIBBLE.format(j=j + 1)} % 2) * 2 - 1)) AS bs{j}" for j in range(32)
)
_SIMHASH_SIGSUM = " + ".join(f"(CASE WHEN bs{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(32))

DEDUP_SIMHASH_SQL = rf"""
WITH corpus AS ({DOC_CORPUS_SQL}),
tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM corpus),
dig AS (SELECT doc_id, list_transform(w, t -> md5(t)) AS digs FROM tok),
bitsums AS (SELECT doc_id, {_SIMHASH_BITSUM} FROM dig),
sigs AS (SELECT doc_id, CAST({_SIMHASH_SIGSUM} AS BIGINT) AS sig FROM bitsums),
bands AS (
    SELECT doc_id, sig, i AS band_idx, (sig >> (8*i)) % 256 AS byte
    FROM sigs, unnest(range(0, 4)) AS t(i)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.byte = b.byte AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
FROM pairs
WHERE bit_count(xor(sig_a, sig_b)) <= {_SIMHASH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

_EMB_TAU = 0.8


def emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized embedding corpus with planted near-dups: vec_id%10 → copy at
    +100000 with the first component shifted by +0.5 (exact int +500000)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", "label", vx.quantize(F.col("embedding")).alias("q"))
    near = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "label",
        F.concat(F.array(F.element_at(F.col("q"), 1) + 500000), F.slice(F.col("q"), 2, 1_000_000)).alias("q"),
    )
    return base.unionByName(near)


EMB_CORPUS_SQL = f"""
SELECT vec_id, label, {vx.QUANTIZE_SQL.format(v='embedding')} AS q FROM embeddings
UNION ALL
SELECT vec_id + 100000 AS vec_id, label,
       list_concat([{vx.QUANTIZE_SQL.format(v='embedding')}[1] + 500000],
                   {vx.QUANTIZE_SQL.format(v='embedding')}[2:len(embedding)]) AS q
FROM embeddings WHERE vec_id % 10 = 0
"""


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine ≥ τ near-dup pairs, blocked on the coarse cluster label (the
    IVF-style blocking key — at 100 TB the blocker would be a trained
    centroid assignment; the join shape is identical).

    Each vector's norm is computed ONCE before the join (pairs only pay one
    dot product, not three — norms are per-row, dots are per-pair, and the
    pair count is quadratic in bucket size). Same double arithmetic as
    ``cosine_q``, so the oracle stays bit-identical.

    ``floor6_once`` binds the dot fold so the rounding guard + the
    τ-filter evaluate it once in the join condition, plus once more in the
    projection for the pairs that survive it — the plain ``floor6``
    before-plan ran the fold 8× per candidate pair (4 textual guard
    references × {join condition, projection}). The τ-threshold sits in
    the JOIN CONDITION, after the cheap conjuncts: Spark evaluates the
    residual And left-to-right, so every label-colliding pair pays the
    ordering/equality checks first and only the surviving ordered half
    pays the interpreted 64-term fold (the optimizer was placing the
    pushed-down filter's fold FIRST, before ``vec_id <``)."""
    c = emb_corpus(spark, sf_dir).withColumn("nq", F.sqrt(vx.norm_sq_q(F.col("q")).cast("double")))
    a = c.alias("a")
    b = c.alias("b")
    cos = vx.dot_q(F.col("a.q"), F.col("b.q")) / (F.col("a.nq") * F.col("b.nq"))
    return a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id"))
        & (floor6_once(cos) >= _EMB_TAU),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        floor6_once(cos).alias("cosine"),
    )


_EMB_DOT = vx.DOT_Q_SQL.format(a="a.q", b="b.q")
_EMB_F6_SQL = floor6_sql(f"CAST({_EMB_DOT} AS DOUBLE) / (a.nq * b.nq)")

DEDUP_EMBEDDING_SQL = f"""
WITH base AS ({EMB_CORPUS_SQL}),
corpus AS (
    SELECT *, sqrt(CAST({vx.DOT_Q_SQL.format(a='q', b='q')} AS DOUBLE)) AS nq FROM base
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_EMB_F6_SQL} AS cosine
FROM corpus a JOIN corpus b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_EMB_F6_SQL} >= {_EMB_TAU}
"""


# ---------------------------------------------------------------------------
# connected-components dup clustering (the step after pair generation:
# pairs → transitive groups → keep one doc per group)
# ---------------------------------------------------------------------------


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse the minhash dup-pair graph into clusters: every doc that
    appears in a dup pair labelled with the minimum doc_id reachable from it
    (cluster_id), i.e. connected components.

    Spark-side: iterative min-label propagation — each round every node
    takes min(own label, neighbours' labels); converges in O(graph diameter)
    rounds (near-dup clusters are shallow in practice). Each round is one
    shuffle join; ``localCheckpoint`` truncates the growing lineage so round
    N's plan doesn't replay rounds 1..N-1 — the standard Spark iterative-
    algorithm pattern (GraphX connected-components does the same with
    large-star/small-star to bound skew at billion-edge scale).

    Oracle: recursive CTE computing the same reachability fixpoint.
    """
    pairs = (
        dedup_minhash(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint(eager=True)
    )
    edges = pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a"))).toDF("src", "dst").localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("doc_id")).distinct().withColumn("lbl", F.col("doc_id"))
    while True:
        nbr_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select("doc_id", F.least("lbl", "nbr_lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("doc_id", F.col("lbl").alias("cluster_id"))


DEDUP_CLUSTERS_SQL = rf"""
WITH RECURSIVE pairs AS ({DEDUP_MINHASH_SQL}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
walk(node, lbl) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
)
SELECT node AS doc_id, min(lbl) AS cluster_id
FROM walk
GROUP BY node
"""


# ---------------------------------------------------------------------------
# Edit-distance near-dup — prefix-blocked Levenshtein
# ---------------------------------------------------------------------------

_EDIT_MAX = 12
_EDIT_PREFIX = 24


def dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by bounded Levenshtein distance — the fuzzy-match
    complement to the token-set metrics (catches small in-place edits that
    shingle Jaccard over-penalizes on short docs).

    Candidate blocking: normalized 24-char prefix (small edits deep in the
    doc leave the prefix intact — exactly the planted-suffix shape; prefix
    edits are SimHash/MinHash territory). The self-join is an equi-join on
    the block key — never O(n²) — and the quadratic-cost levenshtein()
    runs only on in-block pairs. Both engines implement the identical
    unit-cost Wagner-Fischer metric, so distances agree exactly.
    """
    corpus = doc_corpus(spark, sf_dir)
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    keyed = corpus.select(
        "doc_id", norm.alias("_n"), F.substring(norm, 1, _EDIT_PREFIX).alias("_blk")
    )
    a = keyed.select(
        F.col("doc_id").alias("doc_a"), F.col("_n").alias("_na"), F.col("_blk")
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"), F.col("_n").alias("_nb"), F.col("_blk")
    )
    pairs = a.join(b, "_blk").filter(F.col("doc_a") < F.col("doc_b"))
    # length-gap prefilter: levenshtein ≥ |len(a)-len(b)|, so this prunes
    # result-neutrally BEFORE the O(len²) distance — the guard that keeps
    # boilerplate-prefix blocks (common in real corpora) from going
    # quadratic on long documents.
    pairs = pairs.filter(
        F.abs(F.length("_na") - F.length("_nb")) <= _EDIT_MAX
    )
    # identical-text pairs (planted exact copies — 723 of ~2,400 block
    # pairs at sf0.1) have distance 0 and can never pass the `> 0` filter:
    # drop them BEFORE the DP so the quadratic work never runs on them
    # (result-neutral by construction).
    pairs = pairs.filter(F.col("_na") != F.col("_nb"))
    # threshold form: banded DP, O(len·k) per pair instead of O(len²) —
    # returns -1 beyond the bound. Catalyst inlines a projected column
    # into every consumer, so the old `(d <= _EDIT_MAX) & (d > 0)` filter
    # plus the projection evaluated the DP three times per pair; `d > 0`
    # alone is equivalent (the threshold form already caps values at
    # _EDIT_MAX, beyond ⇒ -1) and the lazy checkpoint on the tiny scored
    # frame (~1.6k rows at sf0.1) pins the DP to exactly ONE evaluation —
    # filter-vs-project inlining can never resurrect it. Measured r14:
    # 8.9 s → 1.3-1.6 s best-of-N at sf0.1, collect() identical.
    scored = pairs.select(
        "doc_a", "doc_b", F.levenshtein("_na", "_nb", _EDIT_MAX).alias("edit_distance")
    ).localCheckpoint(eager=False)
    return scored.filter(F.col("edit_distance") > 0)


DEDUP_EDITDIST_SQL = rf"""
WITH corpus AS ({DOC_CORPUS_SQL}),
keyed AS (
    SELECT doc_id,
           lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS n,
           substr(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, {_EDIT_PREFIX}) AS blk
    FROM corpus
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.n, b.n) AS edit_distance
FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE abs(length(a.n) - length(b.n)) <= {_EDIT_MAX}
  AND levenshtein(a.n, b.n) BETWEEN 1 AND {_EDIT_MAX}
"""


# ---------------------------------------------------------------------------
# Exact duplicate SPANS — substring-granular dedup (the step finer than
# whole-doc exact dedup: find repeated n-token passages ACROSS documents
# and measure how much of each doc they cover)
# ---------------------------------------------------------------------------

_SPAN_N = 10


def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate n-token spans across the corpus, per-doc coverage.

    Whole-doc exact dedup misses boilerplate passages pasted into otherwise
    distinct documents; span-level dedup (the exact-substring approach of
    "Deduplicating Training Data Makes Language Models Better", Lee et al.
    2022, at fixed-window granularity) finds every ``_SPAN_N``-token window
    whose text occurs in MORE THAN ONE document and reports, per doc, the
    number of such windows and the fraction of tokens covered by their
    union — the signal a cleaning pipeline thresholds to drop or trim docs.

    Scale shape: tokenize once, emit (md5(span), doc_id, start) via one
    explode, ONE groupBy(span_key) to find keys spanning >1 distinct doc
    (map-side combined), one shuffle join back, then a per-doc aggregate.
    The interval-union coverage is an ``F.aggregate`` fold over the doc's
    SORTED dup-span starts — per-doc array bounded by doc length, exact
    integer arithmetic, zero Python. No O(n²) anything: candidate volume is
    |tokens|, join keys are hashes.

    Determinism: counts and covered-token totals are exact longs; the only
    float is the final coverage ratio, floor-scaled to 6 dp.
    """
    corpus = doc_corpus(spark, sf_dir)
    toks = tt.ws_tokens(F.col("text"))
    base = corpus.select("doc_id", toks.alias("w")).select(
        "doc_id", "w", F.size("w").alias("n_tokens")
    )
    n = F.col("n_tokens")
    starts = F.when(n >= _SPAN_N, F.sequence(F.lit(0), n - _SPAN_N)).otherwise(
        F.array().cast("array<int>")
    )
    ex = base.select(
        "doc_id",
        "n_tokens",
        F.explode(starts).alias("start"),
        "w",
    ).select(
        "doc_id",
        "n_tokens",
        "start",
        F.md5(F.concat_ws(" ", F.slice("w", F.col("start") + 1, _SPAN_N))).alias("k"),
    )
    dup_keys = (
        ex.groupBy("k")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("k")
    )
    marked = ex.join(dup_keys.withColumn("is_dup", F.lit(1)), "k", "left")
    per_doc = marked.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count("is_dup").alias("n_dup_spans"),
        F.array_sort(
            F.collect_list(F.when(F.col("is_dup").isNotNull(), F.col("start")))
        ).alias("dup_starts"),
    )
    zero = F.lit(0).cast("long")
    fold = F.aggregate(
        "dup_starts",
        F.array(zero, zero),  # [covered, prev_end]
        lambda acc, s: F.array(
            F.element_at(acc, 1)
            + F.greatest(
                zero,
                F.least(
                    F.lit(_SPAN_N).cast("long"),
                    s.cast("long") + _SPAN_N - F.element_at(acc, 2),
                ),
            ),
            F.greatest(F.element_at(acc, 2), s.cast("long") + _SPAN_N),
        ),
    )
    out = per_doc.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        "n_dup_spans",
        F.element_at(fold, 1).alias("dup_cov_tokens"),
        (
            F.floor(
                F.element_at(fold, 1).cast("double") / F.col("n_tokens").cast("double") * 1e6
            )
            / 1e6
        ).alias("dup_frac"),
    )
    # docs shorter than the span width never reach the explode — restore
    # them with zero spans so the report covers the whole corpus
    short = (
        corpus.select("doc_id", F.size(toks).alias("n_tokens"))
        .filter(F.col("n_tokens") < _SPAN_N)
        .select(
            "doc_id",
            "n_tokens",
            F.lit(0).cast("long").alias("n_spans"),
            F.lit(0).cast("long").alias("n_dup_spans"),
            F.lit(0).cast("long").alias("dup_cov_tokens"),
            F.lit(0.0).alias("dup_frac"),
        )
    )
    return out.unionByName(short)


DEDUP_SPANS_SQL = rf"""
WITH corpus AS ({DOC_CORPUS_SQL}),
base AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens
    FROM corpus
),
ex0 AS (
    SELECT doc_id, n_tokens, w,
           unnest(generate_series(0, n_tokens - {_SPAN_N})) AS start
    FROM base
),
ex AS (
    SELECT doc_id, n_tokens, start,
           md5(array_to_string(w[start + 1 : start + {_SPAN_N}], ' ')) AS k
    FROM ex0
),
dup_keys AS (
    SELECT k FROM ex GROUP BY k HAVING count(DISTINCT doc_id) > 1
),
marked AS (
    SELECT e.doc_id, e.n_tokens, e.start,
           CASE WHEN d.k IS NOT NULL THEN 1 END AS is_dup
    FROM ex e LEFT JOIN dup_keys d ON e.k = d.k
),
per_doc AS (
    SELECT doc_id, n_tokens,
           count(*) AS n_spans,
           count(is_dup) AS n_dup_spans,
           list_sort(coalesce(list(start) FILTER (WHERE is_dup IS NOT NULL), [])) AS dup_starts
    FROM marked GROUP BY doc_id, n_tokens
),
folded AS (
    SELECT doc_id, n_tokens, n_spans, n_dup_spans,
           list_reduce(
               list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
                            list_transform(dup_starts, s -> [CAST(s AS BIGINT), CAST(0 AS BIGINT)])),
               (acc, x) -> [
                   acc[1] + greatest(CAST(0 AS BIGINT),
                                     least(CAST({_SPAN_N} AS BIGINT), x[1] + {_SPAN_N} - acc[2])),
                   greatest(acc[2], x[1] + {_SPAN_N})
               ]) AS u
    FROM per_doc
)
SELECT doc_id, n_tokens, n_spans, n_dup_spans,
       u[1] AS dup_cov_tokens,
       floor(CAST(u[1] AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 1e6) / 1e6 AS dup_frac
FROM folded
UNION ALL
SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0.0
FROM corpus
WHERE len(string_split_regex(trim(text), '\s+')) < {_SPAN_N}
"""


# ---------------------------------------------------------------------------
# shingle CONTAINMENT — asymmetric near-dup (small doc inside big doc)
# ---------------------------------------------------------------------------

_CONTAIN_TAU = 0.7


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs: C(A→B) = |sh(A) ∩ sh(B)| /
    |sh(A)| ≥ τ — the metric Jaccard structurally under-scores when a small
    document is embedded inside a much larger one (quote pages, digests,
    concatenated dumps): the pair's Jaccard is ≈|A|/|B| however complete
    the containment, while C(A→B) = 1. Broder's (1997) second resemblance
    measure; the containment direction names which doc is the fragment.

    Same scale shape as :func:`dedup_ngram_jaccard` — shared-shingle
    equi-join blocking (pair volume bounded by co-occurrence, never n²),
    intersection counts from ONE groupBy over the blocked join, set sizes
    joined from the persisted shingle frame. Both directions emit from the
    same intersection row (no second join). Exact integer counts; the one
    division is floor-scaled to 6 dp in both engines (the gate convention).
    """
    j = _overlap(_shingled(doc_corpus(spark, sf_dir)))
    # floor-scale, never round(x, 6) — the documented gate convention
    c_ab = F.floor(F.col("inter").cast("double") / F.col("na") * 1e6) / 1e6
    c_ba = F.floor(F.col("inter").cast("double") / F.col("nb") * 1e6) / 1e6
    fwd = j.select(
        F.col("doc_a").alias("fragment"),
        F.col("doc_b").alias("container"),
        c_ab.alias("containment"),
    ).filter(F.col("containment") >= _CONTAIN_TAU)
    rev = j.select(
        F.col("doc_b").alias("fragment"),
        F.col("doc_a").alias("container"),
        c_ba.alias("containment"),
    ).filter(F.col("containment") >= _CONTAIN_TAU)
    return fwd.unionByName(rev)


DEDUP_CONTAINMENT_SQL = rf"""
WITH corpus AS ({DOC_CORPUS_SQL}),
shingled AS ({_SHINGLED_SQL}),
{_BLOCKED_INTER_SQL},
j AS (
    SELECT doc_a, doc_b, inter, sa.n_sh AS na, sb.n_sh AS nb
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT doc_a AS fragment, doc_b AS container,
       floor(CAST(inter AS DOUBLE) / na * 1e6) / 1e6 AS containment
FROM j WHERE floor(CAST(inter AS DOUBLE) / na * 1e6) / 1e6 >= {_CONTAIN_TAU}
UNION ALL
SELECT doc_b AS fragment, doc_a AS container,
       floor(CAST(inter AS DOUBLE) / nb * 1e6) / 1e6 AS containment
FROM j WHERE floor(CAST(inter AS DOUBLE) / nb * 1e6) / 1e6 >= {_CONTAIN_TAU}
"""


# ---------------------------------------------------------------------------
# Dedup strategy report — cross-method audit
# ---------------------------------------------------------------------------


def dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method dedup audit: one row per candidate-pair method
    (minhash, simhash, ngram, editdist) with its pair volume, distinct
    docs touched, and pair-set overlap/Jaccard vs the minhash default —
    the one-query answer to "which dedup strategy, at what aggressiveness"
    a pipeline owner runs BEFORE committing a 100 TB dedup pass.

    Pure composition: each leg's pair frame is the registered operator
    verbatim (same planted corpus); the per-method rollups are 1-row
    aggregates (count / distinct-doc count / equi-join overlap) crossed
    together broadcast — the audit adds nothing beyond the legs' own
    bounded candidate generation (SURVEY §2c: every leg is a blocked
    equi-join, never n²). Exact-integer counts; one double division for
    the Jaccard, identical op order both engines.
    """
    # Each leg's (doc_a, doc_b) pair frame is LAZY-localCheckpointed: the
    # pair sets are tiny (hundreds of rows at sf0.1) but their producing
    # plans are the four heaviest candidate-generation+verify pipelines in
    # the registry, and each feeds FOUR consumers here (n_pairs, both
    # doc-id union branches, the overlap join) — the minhash leg feeds
    # eight (those plus n_mh and all four overlap joins). ReuseExchange
    # only shares identical exchange SUBTREES within the one unioned plan;
    # the lineage cut shares the materialized pair RDD itself, so every
    # leg computes exactly once per run (the dedup_winnowing /
    # dedup_lsh_tuning pattern; measured r14 with the editdist fix below:
    # best-of-3 16.4 s → 9.4 s at sf0.1, executed plan 7,699 → 911 lines).
    # eager=False keeps the twelve rollups lazy — materialization happens
    # inside the caller's one action, not as four serialized driver jobs
    # (the r13 EAGER-persist A/B ran SLOWER, 23 s vs 17 s, for that
    # reason).
    legs = {
        name: frame.select("doc_a", "doc_b").localCheckpoint(eager=False)
        for name, frame in (
            ("minhash", dedup_minhash(spark, sf_dir)),
            ("simhash", dedup_simhash(spark, sf_dir)),
            ("ngram", dedup_ngram_jaccard(spark, sf_dir)),
            ("editdist", dedup_editdist(spark, sf_dir)),
        )
    }
    mh = legs["minhash"]
    n_mh = mh.agg(F.count(F.lit(1)).alias("n_mh"))
    frames = []
    for name, pairs in legs.items():
        docs = pairs.select(F.col("doc_a").alias("d")).unionByName(
            pairs.select(F.col("doc_b").alias("d"))
        )
        s_pairs = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
        s_docs = docs.distinct().agg(F.count(F.lit(1)).alias("n_docs"))
        s_ov = pairs.join(mh, ["doc_a", "doc_b"]).agg(F.count(F.lit(1)).alias("ov"))
        row = (
            s_pairs.join(F.broadcast(s_docs))
            .join(F.broadcast(s_ov))
            .join(F.broadcast(n_mh))
            .select(
                F.lit(name).alias("method"),
                "n_pairs",
                "n_docs",
                F.col("ov").alias("overlap_minhash"),
                F.when(
                    F.col("n_pairs") + F.col("n_mh") - F.col("ov") > 0,
                    F.floor(
                        F.col("ov").cast("double")
                        / (F.col("n_pairs") + F.col("n_mh") - F.col("ov")).cast("double")
                        * 1e6
                    ) / 1e6,
                ).otherwise(F.lit(None).cast("double")).alias("jaccard_vs_minhash"),
            )
        )
        frames.append(row)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _report_leg_sql(name: str, leg: str) -> str:
    return f"""
    SELECT '{name}' AS method,
           (SELECT count(*) FROM {leg}) AS n_pairs,
           (SELECT count(DISTINCT d) FROM
               (SELECT doc_a AS d FROM {leg} UNION ALL SELECT doc_b FROM {leg}) u) AS n_docs,
           (SELECT count(*) FROM {leg} p JOIN mh ON p.doc_a = mh.doc_a AND p.doc_b = mh.doc_b) AS overlap_minhash
"""


DEDUP_REPORT_SQL = f"""
WITH mh AS (SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_SQL.strip()}) t),
sh AS (SELECT doc_a, doc_b FROM ({DEDUP_SIMHASH_SQL.strip()}) t),
ng AS (SELECT doc_a, doc_b FROM ({DEDUP_NGRAM_SQL.strip()}) t),
ed AS (SELECT doc_a, doc_b FROM ({DEDUP_EDITDIST_SQL.strip()}) t),
legs AS (
{_report_leg_sql('minhash', 'mh')}
    UNION ALL
{_report_leg_sql('simhash', 'sh')}
    UNION ALL
{_report_leg_sql('ngram', 'ng')}
    UNION ALL
{_report_leg_sql('editdist', 'ed')}
)
SELECT method, n_pairs, n_docs, overlap_minhash,
       CASE WHEN n_pairs + (SELECT count(*) FROM mh) - overlap_minhash > 0
            THEN floor(CAST(overlap_minhash AS DOUBLE)
                 / CAST(n_pairs + (SELECT count(*) FROM mh) - overlap_minhash AS DOUBLE) * 1e6) / 1e6
            END AS jaccard_vs_minhash
FROM legs
"""


# ---------------------------------------------------------------------------
# LSH banding tuner — precision/recall of every (bands × rows) split
# ---------------------------------------------------------------------------

#: every way to split the K=16 minhash signature into equal bands, with the
#: s-curve midpoint s50 = (1/b)^(1/r) computed ONCE in the driver and
#: embedded as literals (pow() rounding differs across libms — the
#: sample_temperature lesson).
_LSH_CONFIGS: list[tuple[int, int, float]] = [
    (b, _MH_K // b, (1.0 / b) ** (1.0 / (_MH_K // b))) for b in (2, 4, 8, 16)
]


def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-parameter tuning table for the minhash index: for EVERY
    equal split of the K=16 signature (2×8 … 16×1), the candidate-pair
    volume the band join would generate, how many candidates verify at the
    production threshold τ, the resulting precision, and recall against
    the loosest split's verified set (16×1 collides on ANY single row, so
    its candidates are a superset of every other split's — the natural
    local ground truth). s50 = (1/b)^(1/r) is the collision-curve midpoint
    each row is tuned around (Leskovec/Rajaraman/Ullman §3.4). This is the
    table an engineer reads BEFORE setting dedup_minhash's (b, r) —
    published as an operator so the tuning is reproducible at any scale.

    Shape: ONE signature pass feeds all four band joins (equi-joins on
    (band_idx, band_key) — never all-pairs); the exact-Jaccard verify runs
    ONCE on the superset candidates and each split's counts come from a
    semi-join against it. Counts exact; two floor-scaled divisions.
    """
    sh = _shingled(doc_corpus(spark, sf_dir))
    sig = _signatures(sh).localCheckpoint(eager=False)
    # loosest split = superset candidates; verify exact Jaccard once
    loosest = _lsh_candidates(sig, _MH_K, 1).localCheckpoint(eager=False)
    true_pairs = _jaccard_pairs(_overlap(sh, loosest)).select("doc_a", "doc_b").localCheckpoint(eager=False)
    frames = []
    for b, r, s50 in _LSH_CONFIGS:
        cand = _lsh_candidates(sig, b, r) if b != _MH_K else loosest
        verified = cand.join(true_pairs, ["doc_a", "doc_b"], "left_semi")
        row = (
            cand.agg(F.count(F.lit(1)).alias("n_candidates"))
            .join(verified.agg(F.count(F.lit(1)).alias("n_verified")))
            .join(true_pairs.agg(F.count(F.lit(1)).alias("n_true")))
            .select(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                (F.floor(F.lit(s50) * 1e6) / 1e6).alias("s50"),
                "n_candidates",
                "n_verified",
                F.when(
                    F.col("n_candidates") > 0,
                    F.floor(F.col("n_verified").cast("double") / F.col("n_candidates").cast("double") * 1e6) / 1e6,
                ).alias("precision"),
                F.when(
                    F.col("n_true") > 0,
                    F.floor(F.col("n_verified").cast("double") / F.col("n_true").cast("double") * 1e6) / 1e6,
                ).alias("recall_vs_loosest"),
            )
        )
        frames.append(row)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _lsh_cand_sql(b: int, r: int, name: str) -> str:
    return f"""
bands_{name} AS (
    SELECT doc_id, i AS band_idx,
           md5(array_to_string(sig[1 + i*{r} : (i+1)*{r}], '|')) AS band_key
    FROM sig, unnest(range(0, {b})) AS t(i)
),
cand_{name} AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands_{name} a JOIN bands_{name} b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""


def _lsh_row_sql(b: int, r: int, s50: float, name: str) -> str:
    return f"""
    SELECT {b} AS bands, {r} AS rows_per_band,
           floor({s50!r} * 1e6) / 1e6 AS s50,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_{name}) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_{name} c
             JOIN true_pairs t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_verified,
           CASE WHEN (SELECT count(*) FROM cand_{name}) > 0 THEN
             floor(CAST((SELECT count(*) FROM cand_{name} c
                         JOIN true_pairs t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS DOUBLE)
                   / CAST((SELECT count(*) FROM cand_{name}) AS DOUBLE) * 1e6) / 1e6 END AS precision,
           CASE WHEN (SELECT count(*) FROM true_pairs) > 0 THEN
             floor(CAST((SELECT count(*) FROM cand_{name} c
                         JOIN true_pairs t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS DOUBLE)
                   / CAST((SELECT count(*) FROM true_pairs) AS DOUBLE) * 1e6) / 1e6 END AS recall_vs_loosest
"""


DEDUP_LSH_TUNING_SQL = rf"""
WITH corpus AS ({DOC_CORPUS_SQL}),
shingled AS ({_SHINGLED_SQL}),
sig AS MATERIALIZED ({_SIG_SQL}),
{",".join(_lsh_cand_sql(b, r, f"b{b}").lstrip() for b, r, _ in _LSH_CONFIGS)},
{_cand_inter_sql("cand_b16")},
true_pairs AS MATERIALIZED (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {_jac_f6_sql('inter', 'sa', 'sb')} >= {_JACCARD_TAU}
)
{" UNION ALL ".join(_lsh_row_sql(b, r, s50, f"b{b}") for b, r, s50 in _LSH_CONFIGS)}
"""


# ---------------------------------------------------------------------------
# winnowing fingerprints — the plagiarism-detection dedup (MOSS)
# ---------------------------------------------------------------------------

_WIN_K = 3    # word k-grams
_WIN_W = 4    # winnowing window (guarantee: every W consecutive k-grams share a pick)
_WIN_TAU = 0.6


def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup detection (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS fingerprint): hash every word 3-gram, slide a window of 4
    hashes, keep each window's MINIMUM — the selection with the guarantee
    that any match of ≥ w+k−1 tokens shares at least one fingerprint, at
    ~2/(w+1) storage. Docs pairing on shared fingerprints with overlap
    ≥ τ·min-set-size are near-dups — the fourth candidate-generation
    strategy next to minhash (set-sketch), simhash (bit-sketch) and
    shingle blocking (exact), and the one that localizes WHERE the copy
    is (value-set variant here; positions ride along in the full MOSS).

    Shape: fingerprints are per-doc array math on one scan (no explode
    until the selected ~2/(w+1) subset), candidates from ONE equi-join on
    the fingerprint key — bounded by co-occurrence like every dedup
    member, never n². Hashes are exact 24-bit md5-nibble integers (the
    text_fingerprint convention), so both engines select identical
    minima."""
    corpus = doc_corpus(spark, sf_dir)
    w = tt.ws_tokens(F.col("text"))
    d = corpus.select("doc_id", w.alias("w")).withColumn("nw", F.size("w"))
    d = d.filter(F.col("nw") >= _WIN_K + _WIN_W - 1)
    # gram strings once, then ONE md5 per gram (conv(hex) == the nibble
    # chain's value; the chain re-evaluates md5 per nibble inside a lambda
    # — measured 295 s → 8 s at sf0.01)
    gstr = F.transform(
        F.sequence(F.lit(1), F.col("nw") - (_WIN_K - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at("w", (i + k).cast("int")) for k in range(_WIN_K)]
        ),
    )
    d = d.withColumn("gs", gstr)
    grams = F.transform(
        "gs", lambda s: F.conv(F.substring(F.md5(s), 1, 6), 16, 10).cast("long")
    )
    d = d.withColumn("g", grams).withColumn("ng", F.size("g"))
    # Pin the gram arrays before the explode (r14 §9 follow-up): the
    # posexplode's inferred generator guard (size(g)>0 AND isnotnull(g))
    # pushes below the gram projection and INLINES the whole md5-gram
    # pipeline into the filter — the per-gram md5 chain evaluated 3× per
    # doc (and the regex split 10×), per union branch. The pinned frame
    # is one gram array per doc — the same data the explode reads anyway.
    d = d.select("doc_id", "ng", "g").localCheckpoint(eager=False)
    # Window minima via posexplode + a ROWS window, NOT array lambdas:
    # Catalyst inlines the gram transform into every element access, so an
    # array-side slice/array_min formulation re-evaluates the md5 chain
    # per WINDOW — O(m²) hash work (measured 114 s at sf0.01; this shape
    # is 3 s). The explode evaluates g exactly once per document.
    from pyspark.sql import Window as _W

    pe = d.select("doc_id", "ng", F.posexplode("g").alias("pos", "h"))
    roww = _W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    mins = pe.select(
        "doc_id", "pos", "ng", F.min("h").over(roww).alias("fp")
    ).filter(F.col("pos") <= F.col("ng") - _WIN_W)
    # localCheckpoint: the selected-fingerprint frame feeds THREE consumers
    # (sizes, both join sides) — without the barrier each consumer replays
    # the md5-gram + posexplode + window-min subtree (r13 A/B at sf0.1:
    # ~5-10% at the warm floor, and the plan drops the two duplicated
    # fingerprint subtrees). Lazy, so nothing materializes until first use;
    # the materialized frame is the ~2/(w+1)-selected (doc_id, fp) pairs,
    # far smaller than the gram stream it truncates.
    sel = mins.select("doc_id", "fp").distinct().localCheckpoint(eager=False)
    sizes = sel.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    ex = sel.join(sizes, "doc_id").select("doc_id", "n_fp", "fp")
    a = ex.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("na"), "fp")
    b = ex.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("nb"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    overlap = F.col("n_shared").cast("double") / F.least("na", "nb").cast("double")
    return (
        pairs.select(
            "doc_a", "doc_b", "n_shared",
            (F.floor(overlap * 1e6) / 1e6).alias("overlap"),
        )
        .filter(F.col("overlap") >= _WIN_TAU)
    )


_WIN_TH_SQL = (
    "((strpos('0123456789abcdef', substr(md5({t}),1,1))-1) * 1048576"
    " + (strpos('0123456789abcdef', substr(md5({t}),2,1))-1) * 65536"
    " + (strpos('0123456789abcdef', substr(md5({t}),3,1))-1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5({t}),4,1))-1) * 256"
    " + (strpos('0123456789abcdef', substr(md5({t}),5,1))-1) * 16"
    " + (strpos('0123456789abcdef', substr(md5({t}),6,1))-1))"
)

DEDUP_WINNOWING_SQL = rf"""
WITH corpus AS ({DOC_CORPUS_SQL}),
toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
    FROM corpus
),
base AS (
    SELECT doc_id, w, len(w) AS nw FROM toks WHERE len(w) >= {_WIN_K + _WIN_W - 1}
),
grams AS (
    SELECT doc_id,
           list_transform(range(1, nw - {_WIN_K - 1} + 1),
               i -> {_WIN_TH_SQL.format(t="array_to_string(w[i:i+" + str(_WIN_K - 1) + "], ' ')")}) AS g
    FROM base
),
sel AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(g) - {_WIN_W - 1} + 1),
               j -> list_min(g[j:j+{_WIN_W - 1}]))) AS fps
    FROM grams
),
ex AS (
    SELECT doc_id, len(fps) AS n_fp, unnest(fps) AS fp FROM sel
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_fp AS na, b.n_fp AS nb,
           count(*) AS n_shared
    FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, n_shared,
       floor(CAST(n_shared AS DOUBLE) / CAST(least(na, nb) AS DOUBLE) * 1e6) / 1e6 AS overlap
FROM pairs
WHERE CAST(n_shared AS DOUBLE) / CAST(least(na, nb) AS DOUBLE) >= {_WIN_TAU}
"""
