"""Similarity-search queries over ``embeddings`` (ANN extension operators).

The query vector is row ``vec_id = 0`` of the same table (deterministic,
no external input); fetching that single row to the driver is the one
permitted collect (it parameterizes the plan, like a literal).

All three strategies share the quantized-integer cosine discipline from
``functions/similarity.py``, so all three are bit-identical to one DuckDB
oracle:

- `sim_cosine_topk` — row-local zip_with/aggregate cosine + top-k. The
  plan is Scan -> Project(row-local) -> TakeOrderedAndProject: no explode,
  no exchange before the top-k.
- `sim_cosine_topk_lsh` — sign-bucket filter FIRST (prunes the scan to
  ~N/256), cosine only on the survivors. At 100 TB the table would be
  written partitioned by bucket, turning the filter into partition
  pruning; the compute shape is already the pruned one.
- `sim_cosine_topk_fast` — Arrow/NumPy int64-matmul path with
  per-partition local top-k (the kernel you would run for a large batch
  of query vectors at once).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.similarity import (
    QSCALE,
    cosine_topk_batch,
    cosine_topk_fast,
    dot_long,
    gram_threshold_pairs,
    ivf_cell_column,
    ivf_probe_cells,
    quantize_vector,
    quantized_elements,
    semdedup_removed_ids,
    sign_bucket,
    sign_bucket_py,
    sql_sign_bucket,
)
from ..operators.partitioning import shared
from ..session import materialized, scratch_dir
from ..sources.testdata import load_table
from .registry import register

QUERY_VEC_ID = 0
TOP_K = 10

#: embedding dimensionality (all sf dirs ship 64-dim vectors; DuckDB's
#: range() cannot take a lateral column arg, so the twin hardcodes it)
EMB_DIM = 64

_SQL_EXACT_COSINES = f"""
e AS (
  SELECT vec_id, label, r.i AS pos,
         CAST(floor(embedding[r.i] * {QSCALE!r}) AS BIGINT) AS x
  FROM embeddings, range(1, {EMB_DIM} + 1) r(i)
),
q AS (SELECT pos, x AS qx FROM e WHERE vec_id = {QUERY_VEC_ID}),
d AS (
  SELECT e.vec_id, e.label,
    CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot,
    CAST(SUM(e.x * e.x) AS DOUBLE) AS n2
  FROM e JOIN q USING (pos) GROUP BY 1, 2
),
qn AS (
  SELECT CAST(SUM(qx * qx) AS DOUBLE) AS qn2
  FROM q
),
cosines AS (
  SELECT vec_id, label, dot / (sqrt(n2) * sqrt(qn2)) AS cosine
  FROM d, qn WHERE vec_id <> {QUERY_VEC_ID}
)
"""

_TOPK_ORACLE = f"""
WITH {_SQL_EXACT_COSINES}
SELECT vec_id, label, cosine FROM cosines
ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
"""


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    emb = load_table(spark, sf_dir, "embeddings")
    (vec,) = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").first()
    return list(vec)


def _cosine_vs_query(qvec: list[float]) -> Column:
    """Row-local cosine of the ``embedding`` column against the (quantized,
    inlined-as-literal) query vector. Exact integer math throughout:
    order-independent and bit-identical to the SQL twin. The quantize
    transform is bind()-materialized so the dot and the norm read the
    same value instead of re-quantizing per reference."""
    from ..functions.expr import bind

    q = quantize_vector(qvec)
    qn2 = float(sum(x * x for x in q))
    qarr = F.array(*[F.lit(x).cast("long") for x in q])

    def cos_of(xq: Column) -> Column:
        dot = dot_long(xq, qarr)
        n2 = dot_long(xq, xq)
        return dot.cast("double") / (
            F.sqrt(n2.cast("double")) * F.sqrt(F.lit(qn2))
        )

    return bind(quantized_elements(F.col("embedding")), cos_of)


@register(
    "sim_cosine_topk",
    oracle=_TOPK_ORACLE,
    doc="Brute-force cosine top-k vs the vec_id=0 query vector — the ANN "
    "correctness baseline. Row-local zip_with/aggregate integer cosine "
    "(no explode, no pre-top-k exchange); TakeOrderedAndProject top-k.",
    tags=("similarity", "topk"),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qvec = _query_vector(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", _cosine_vs_query(qvec).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


_LSH_ORACLE = f"""
WITH {_SQL_EXACT_COSINES},
b AS (SELECT vec_id, {sql_sign_bucket("embedding")} AS bucket FROM embeddings)
SELECT c.vec_id, c.label, c.cosine, b.bucket
FROM cosines c JOIN b ON c.vec_id = b.vec_id
WHERE b.bucket = (SELECT bucket FROM b WHERE vec_id = {QUERY_VEC_ID})
ORDER BY c.cosine DESC, c.vec_id LIMIT {TOP_K}
"""


@register(
    "sim_cosine_topk_lsh",
    oracle=_LSH_ORACLE,
    doc="LSH-bucketed ANN: the sign-bit bucket filter runs BEFORE any "
    "cosine math, so only ~N/256 vectors are scored. At 100 TB the table "
    "is bucket-partitioned and this filter is partition pruning "
    "(materialized as sim_cosine_topk_lsh_indexed).",
    tags=("similarity", "lsh", "topk"),
)
def sim_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    qvec = _query_vector(spark, sf_dir)
    qbucket = sign_bucket_py(qvec)
    emb = load_table(spark, sf_dir, "embeddings")
    survivors = emb.filter(F.col("vec_id") != QUERY_VEC_ID).filter(
        sign_bucket(F.col("embedding")) == F.lit(qbucket)
    )
    return (
        survivors.select(
            "vec_id",
            "label",
            _cosine_vs_query(qvec).alias("cosine"),
            F.lit(qbucket).alias("bucket"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


@register(
    "sim_cosine_topk_lsh_indexed",
    oracle=_LSH_ORACLE,
    doc="LSH ANN over a MATERIALIZED index: write_lsh_index persists the "
    "table hive-partitioned by sign bucket (256 directories); the query "
    "reads exactly ONE — planning-time partition pruning, so at 100 TB "
    "the per-query scan is ~N/256 regardless of table size. Same bucket "
    "rule and quantized cosine as the inline sim_cosine_topk_lsh, same "
    "oracle: materialization must not change a single result row.",
    tags=("similarity", "lsh", "index", "topk"),
)
def sim_cosine_topk_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann_index import read_lsh_bucket, write_lsh_index

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(spark, sf_dir)
    qbucket = sign_bucket_py(qvec)
    index_path = _cached_index_path(
        spark, "lsh", sf_dir, lambda p: write_lsh_index(emb, p)
    )
    survivors = read_lsh_bucket(spark, index_path, qbucket).filter(
        F.col("vec_id") != QUERY_VEC_ID
    )
    return (
        survivors.select(
            "vec_id",
            "label",
            _cosine_vs_query(qvec).alias("cosine"),
            # partition-dir inference yields int; match the inline query's
            # IntegerType bucket so both share the oracle's dtype
            F.col("bucket").cast("int").alias("bucket"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


#: IVF parameters: 16 coarse centroids (a deterministic sample of the
#: table itself — ids 1..16), query probes the 4 nearest cells.
N_CENTROIDS, NPROBE = 16, 4
CENTROID_IDS = tuple(range(1, N_CENTROIDS + 1))

_SQL_QUANT = f"list_transform(embedding, x -> CAST(floor(x * {QSCALE!r}) AS BIGINT))"


_IVF_ORACLE = f"""
WITH n AS (
  SELECT vec_id, label, {_SQL_QUANT} AS qx,
         CAST(list_sum(list_transform({_SQL_QUANT}, v -> v * v)) AS DOUBLE) AS n2
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cid, qx AS cqx, n2 AS cn2 FROM n
  WHERE vec_id IN {CENTROID_IDS}
),
q AS (SELECT qx AS qqx, n2 AS qn2 FROM n WHERE vec_id = {QUERY_VEC_ID}),
probe AS (
  SELECT cid FROM cents, q
  ORDER BY CAST(list_sum(list_transform(range(1, {EMB_DIM} + 1),
             i -> cqx[i] * qqx[i])) AS DOUBLE) / (sqrt(cn2) * sqrt(qn2)) DESC,
           cid ASC
  LIMIT {NPROBE}
),
assign AS (
  SELECT a.vec_id, c.cid,
         CAST(list_sum(list_transform(range(1, {EMB_DIM} + 1),
           i -> a.qx[i] * c.cqx[i])) AS DOUBLE)
           / (sqrt(a.n2) * sqrt(c.cn2)) AS ccos
  FROM n a, cents c
),
cell AS (
  SELECT vec_id, cid FROM assign
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) = 1
)
SELECT a.vec_id, a.label,
       CAST(list_sum(list_transform(range(1, {EMB_DIM} + 1),
         i -> a.qx[i] * q.qqx[i])) AS DOUBLE)
         / (sqrt(a.n2) * sqrt(q.qn2)) AS cosine
FROM n a JOIN cell USING (vec_id), q
WHERE cell.cid IN (SELECT cid FROM probe) AND a.vec_id <> {QUERY_VEC_ID}
ORDER BY cosine DESC, a.vec_id LIMIT {TOP_K}
"""


#: materialized ANN indexes are BUILT ONCE per (kind, source table) and
#: probed many times — that amortization is the entire point of an index
#: at 100 TB. Rebuilding into a fresh tempdir on every query execution
#: (round-3 behavior) charged the build to query time: 4.8 s vs 0.5 s
#: for the probe alone at sf0.1. The cache key is (kind, sf_dir) because
#: every other input (hyperplanes, centroids ids, quantization scale) is
#: a module constant and the testdata tables are immutable. The index
#: lives in the session's scratch, so a new session rebuilds it; every
#: caller (tests, bench.py, perfbench, the CLI) runs one session per
#: process, so no reuse is lost.
def _cached_index_path(spark: SparkSession, kind: str, sf_dir: str, build) -> str:
    return materialized(spark, (kind, os.path.abspath(sf_dir)), build)


def _centroids(spark: SparkSession, sf_dir: str) -> dict[int, list[float]]:
    emb = load_table(spark, sf_dir, "embeddings")
    return {
        row["vec_id"]: list(row["embedding"])
        for row in emb.filter(F.col("vec_id").isin(*CENTROID_IDS))
        .select("vec_id", "embedding")
        .collect()
    }


@register(
    "sim_cosine_topk_ivf",
    oracle=_IVF_ORACLE,
    doc="IVF-style ANN: 16 deterministic coarse centroids (table rows "
    "ids 1..16), every vector is assigned to its nearest centroid "
    "(row-local argmax over the centroid literals — the 'index build'), "
    "the query probes its 4 nearest cells, and exact quantized cosine "
    "ranks only vectors in probed cells: compute on ~nprobe/ncentroids of "
    "the table. At 100 TB the assignment is a one-time build writing the "
    "table partitioned by cell, and the probe filter becomes partition "
    "pruning — query-time scan is nprobe cells, not the table "
    "(materialized as sim_cosine_topk_ivf_indexed).",
    tags=("similarity", "ann", "ivf", "topk"),
)
def sim_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(spark, sf_dir)
    cents = _centroids(spark, sf_dir)
    probed = ivf_probe_cells(cents, qvec, NPROBE)
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("cell", ivf_cell_column(cents))
        .filter(F.col("cell").isin(*probed))
        .select("vec_id", "label", _cosine_vs_query(qvec).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


# the oracle for the materialized-index variant is the inline-IVF oracle
# verbatim: building the index first must not change a single cosine.
@register(
    "sim_cosine_topk_ivf_indexed",
    oracle=_IVF_ORACLE,
    doc="IVF ANN over a MATERIALIZED index (VERDICT r2 #6): the coarse "
    "assignment runs ONCE in write_ivf_index, which persists the table "
    "hive-partitioned by cell; the query then reads only its nprobe "
    "probed cells — planning-time partition pruning (PartitionFilters on "
    "the scan, unprobed cells' files never listed), asserted by "
    "tests/test_plan_quality.py. Same centroids, same quantized cosine, "
    "same oracle as the inline sim_cosine_topk_ivf: materialization must "
    "not change a single result row. At 100 TB this is the operating "
    "shape: the build is a one-time pass + partitioned write, each query "
    "touches nprobe/ncentroids of the files.",
    tags=("similarity", "ann", "ivf", "index", "topk"),
)
def sim_cosine_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann_index import read_ivf_cells, write_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(spark, sf_dir)
    cents = _centroids(spark, sf_dir)
    index_path = _cached_index_path(
        spark, "ivf", sf_dir, lambda p: write_ivf_index(emb, p, cents)
    )
    probed = ivf_probe_cells(cents, qvec, NPROBE)
    hits = read_ivf_cells(spark, index_path, probed)
    return (
        hits.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", _cosine_vs_query(qvec).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


#: embedding near-dup banding: 4 independent sign-bit bands over disjoint
#: coordinate groups (coords 1-8, 9-16, 17-24, 25-32). A pair is a
#: candidate iff it matches in >=1 band; the verify is the exact quantized
#: cosine >= EMB_NEAR_DUP_THRESHOLD. The oracle mirrors the banding, so
#: both engines agree exactly (LSH recall is a property of the algorithm,
#: not a divergence between implementations).
EMB_BANDS, EMB_BAND_BITS = 4, 8
EMB_NEAR_DUP_THRESHOLD = 0.4

#: adaptive banding (round-7 100x probe, SCALE.md): 8-bit bands give only
#: 256 buckets, so candidate mass grows O(n^2/256) in the DISTINCT-vector
#: count — measured 550 s at 200k vectors vs 8 s for 16-bit. The
#: registered query therefore widens bands once expected 8-bit bucket
#: occupancy n/256 would exceed this bound (n > 64*256 = 16384), the same
#: count-driven scale contract as SemDeDup's adaptive K below; every
#: oracle scale (sf0.01/sf0.1: 200-2000 vectors) resolves to 8-bit, so
#: the static DuckDB twin stays bit-identical, and the 100x probe is what
#: exercises the 16-bit branch.
EMB_BAND_OCCUPANCY_BOUND = 64
EMB_BAND_BITS_SCALE = 16


def _near_dup_band_bits(n_distinct: int) -> int:
    """Band width for `emb_near_dup_pairs` as a function of distinct-vector
    count: the narrowest width whose expected bucket occupancy
    ``n / 2^bits`` stays within EMB_BAND_OCCUPANCY_BOUND, in {8, 16} (4
    bands x 16 bits already consumes all 64 sign bits, so 16 is the cap —
    beyond ~4M distinct vectors per partition a deployment shards the
    corpus before banding, not the bands)."""
    if n_distinct <= EMB_BAND_OCCUPANCY_BOUND * (1 << EMB_BAND_BITS):
        return EMB_BAND_BITS
    return EMB_BAND_BITS_SCALE


def _sql_pair_qdot(a: str, b: str) -> str:
    """Exact int64 dot of two quantized embedding expressions (DuckDB)."""
    return (
        f"list_sum(list_transform(range(1, {EMB_DIM} + 1), i -> "
        f"CAST(floor(({a})[i] * {QSCALE!r}) AS BIGINT) * "
        f"CAST(floor(({b})[i] * {QSCALE!r}) AS BIGINT)))"
    )


_SQL_BAND_VAL = "CASE " + " ".join(
    f"WHEN b.band = {bnd} THEN "
    f"{sql_sign_bucket('embedding', EMB_BAND_BITS, bnd * EMB_BAND_BITS)}"
    for bnd in range(EMB_BANDS)
) + " END"


@register(
    "emb_near_dup_pairs",
    oracle=f"""
WITH banded AS (
  SELECT vec_id, embedding, b.band, {_SQL_BAND_VAL} AS band_val
  FROM embeddings, (SELECT unnest(range(0, {EMB_BANDS})) AS band) b
),
hits AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         a.embedding AS ea, b.embedding AS eb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
),
scored AS (
  SELECT DISTINCT vec_a, vec_b,
         CAST({_sql_pair_qdot("ea", "eb")} AS DOUBLE)
           / (sqrt(CAST({_sql_pair_qdot("ea", "ea")} AS DOUBLE))
              * sqrt(CAST({_sql_pair_qdot("eb", "eb")} AS DOUBLE))) AS cosine
  FROM hits
)
SELECT vec_a, vec_b, cosine FROM scored
WHERE cosine >= {EMB_NEAR_DUP_THRESHOLD}
""",
    doc="Embedding-cosine near-duplicate pairs: banded sign-bit LSH "
    "(4 bands x 8 coordinate-sign bits) generates candidates via a "
    "band-bucket equi-join; the exact quantized-integer cosine verifies "
    "only candidates. The cosine is computed row-local on the joined rows "
    "(vectors already co-located by the band shuffle) and the final "
    "distinct carries only (vec_a, vec_b, cosine) — O(N) + O(candidates), "
    "never O(N^2). Band width ADAPTS to the distinct-vector count "
    "(8-bit bands up to 16k distinct vectors, 16-bit beyond — the "
    "round-7 100x probe measured 550 s vs 8 s for 200k vectors), the "
    "same count-driven scale contract as SemDeDup's adaptive K; every "
    "oracle scale resolves to 8-bit so the static SQL twin stays "
    "bit-identical. Widening bands trades recall in the low-cosine "
    "tail (tau..0.9) for tractability; genuine near-dups (cosine -> 1, "
    "sign flips only near zero coordinates) keep recall ~1 — the "
    "standard LSH tuning, measured in SCALE.md. At 100 TB the table is "
    "written partitioned by band_val so each band's self-join is "
    "partition-local.",
    tags=("similarity", "dedup", "lsh"),
)
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # count DISTINCT vectors, not rows: verbatim copies digest-collapse
    # inside the plan, so they add zero candidate mass and must not push
    # the banding off the recall-first 8-bit setting
    n = (
        emb.select(F.md5(F.to_json(F.col("embedding"))).alias("dig"))
        .distinct()
        .count()
    )
    return emb_near_dup_pairs_plan(emb, band_bits=_near_dup_band_bits(n))


def emb_near_dup_pairs_plan(
    emb: DataFrame,
    *,
    bands: int = EMB_BANDS,
    band_bits: int = EMB_BAND_BITS,
    threshold: float = EMB_NEAR_DUP_THRESHOLD,
) -> DataFrame:
    """The near-dup pipeline with its LSH parameterization EXPOSED —
    (bands, band_bits) is the knob a 100 TB deployment must turn: 8-bit
    bands give only 256 buckets, so on a large DIFFUSE corpus the
    per-bucket pair mass grows O(n^2/256) even though every true
    near-dup is found; 16-bit bands (4x16 covers all 64 sign bits) give
    65536 buckets — candidates drop ~256x while recall for genuine
    near-dups (cosine -> 1, sign flips only near zero) stays ~1. The
    registered query keeps the 8-bit default (the oracle mirrors it and
    small corpora want the recall); the SCALE.md 100x probe measures
    both settings."""
    F_bands, F_bits, F_tau = bands, band_bits, threshold
    # SCALE.md lesson, applied: collapse BIT-IDENTICAL vectors before
    # banding. Exact duplicates are the adversarial mass for LSH (k
    # copies of a vector put k identical signatures in every band
    # bucket, k^2 candidate pairs each paying a cosine); collapsing to
    # one representative per distinct vector makes the banded join's
    # work a function of DISTINCT content. Lossless by construction:
    # members of a digest group share every band value and every cosine
    # with any third vector, and within-group pairs have quantized
    # cosine exactly 1.0 (dot(q,q)/(sqrt(n2)*sqrt(n2))) — no math
    # needed. (Collapsing by the QUANTIZED vector would NOT be lossless:
    # sign_bucket tests x > 0, and floor-equal coordinates straddling 0
    # can band differently.)
    dig = F.md5(F.to_json(F.col("embedding")))
    members = shared(emb.select("vec_id", dig.alias("dig")))
    reps = members.groupBy("dig").agg(F.min("vec_id").alias("rep_id"))
    rep_vecs = shared(
        emb.select("vec_id", "embedding")
        .join(reps, F.col("vec_id") == F.col("rep_id"))
        .select("dig", "embedding")
    )
    banded = shared(rep_vecs.select(
        "dig",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        sign_bucket(
                            F.col("embedding"), F_bits, b * F_bits
                        ).alias("band_val"),
                    )
                    for b in range(F_bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "dig", "embedding", F.col("bb.band").alias("band"),
        F.col("bb.band_val").alias("band_val"),
    ))
    a = banded.select(
        F.col("dig").alias("dig_a"), F.col("embedding").alias("ea"),
        "band", "band_val",
    )
    b = banded.select(
        F.col("dig").alias("dig_b"), F.col("embedding").alias("eb"),
        "band", "band_val",
    )
    hits = a.join(b, ["band", "band_val"]).filter(F.col("dig_a") < F.col("dig_b"))
    qa, qb = quantized_elements(F.col("ea")), quantized_elements(F.col("eb"))
    cosine = dot_long(qa, qb).cast("double") / (
        F.sqrt(dot_long(qa, qa).cast("double"))
        * F.sqrt(dot_long(qb, qb).cast("double"))
    )
    rep_pairs = (
        hits.select("dig_a", "dig_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= F_tau)
        .distinct()
    )
    # expand digest pairs to member pairs (vec order normalized); the
    # rep cosine is every member pair's cosine by construction
    ma = members.select(F.col("dig").alias("dig_a"), F.col("vec_id").alias("va"))
    mb = members.select(F.col("dig").alias("dig_b"), F.col("vec_id").alias("vb"))
    cross = (
        rep_pairs.join(ma, "dig_a")
        .join(mb, "dig_b")
        .select(
            F.least("va", "vb").alias("vec_a"),
            F.greatest("va", "vb").alias("vec_b"),
            "cosine",
        )
    )
    # within-group pairs: the oracle computes n2/(sqrt(n2)*sqrt(n2)),
    # which is NOT bit-equal to 1.0 for most n2 (sqrt(2)^2 =
    # 1.9999999999999998) — emit the SAME float expression, and exclude
    # zero-norm vectors exactly as the oracle's 0/0 -> NULL drop does
    qr = quantized_elements(F.col("embedding"))
    rep_norms = rep_vecs.select(
        "dig", dot_long(qr, qr).cast("double").alias("n2")
    ).filter(F.col("n2") > 0)
    self_cos = F.col("n2") / (F.sqrt(F.col("n2")) * F.sqrt(F.col("n2")))
    m1 = members.select("dig", F.col("vec_id").alias("va"))
    m2 = members.select("dig", F.col("vec_id").alias("vb"))
    within = (
        m1.join(m2, "dig")
        .filter(F.col("va") < F.col("vb"))
        .join(rep_norms, "dig")
        .select(
            F.col("va").alias("vec_a"),
            F.col("vb").alias("vec_b"),
            self_cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= F_tau)
    )
    return cross.unionByName(within)


#: batch-ANN query set: the first 8 vectors play the query role at once.
BATCH_QUERY_IDS = tuple(range(8))


@register(
    "sim_cosine_topk_multi",
    oracle=f"""
WITH n AS (
  SELECT vec_id, label, {_SQL_QUANT} AS qx,
         CAST(list_sum(list_transform({_SQL_QUANT}, v -> v * v)) AS DOUBLE) AS n2
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, qx AS qqx, n2 AS qn2 FROM n
  WHERE vec_id IN {BATCH_QUERY_IDS!r}
),
scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         CAST(list_sum(list_transform(range(1, {EMB_DIM} + 1),
           i -> e.qx[i] * q.qqx[i])) AS DOUBLE)
           / (sqrt(e.n2) * sqrt(q.qn2)) AS cosine
  FROM n e, q WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, label, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
""",
    doc="Batch multi-query ANN: top-10 neighbors for 8 query vectors in ONE "
    "corpus scan — per Arrow batch a single (n x dim) @ (dim x nq) int64 "
    "matmul scores all queries, each partition keeps k rows per query, and "
    "one window resolves the global per-query top-k over k x nq x "
    "partitions rows. The amortized shape a training pipeline uses for "
    "dataset-vs-dataset retrieval.",
    tags=("similarity", "topk", "batch", "pandas-udf"),
)
def sim_cosine_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = {
        row["vec_id"]: list(row["embedding"])
        for row in emb.filter(F.col("vec_id").isin(*BATCH_QUERY_IDS))
        .select("vec_id", "embedding")
        .collect()
    }
    return cosine_topk_batch(emb, queries, k=TOP_K)


@register(
    "sim_cosine_topk_fast",
    oracle=_TOPK_ORACLE,
    doc="Arrow/NumPy brute-force cosine top-k (mapInPandas int64 matmul, "
    "per-partition local top-k). Same quantized-integer discipline as the "
    "column path, so the same oracle checks it bit-for-bit.",
    tags=("similarity", "topk", "pandas-udf"),
)
def sim_cosine_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    qvec = _query_vector(spark, sf_dir)
    # No spread here: the testdata embeddings are small enough that Python
    # worker startup would dominate. At scale the scan arrives pre-split
    # and each split runs one NumPy matmul.
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_fast(emb, qvec, k=TOP_K, exclude_id=QUERY_VEC_ID)


@register(
    "emb_quantization_stats",
    oracle=f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
  FROM embeddings
), m AS (
  SELECT vec_id, label, xd,
         list_aggregate(list_transform(xd, x -> abs(x)), 'max') AS amax
  FROM v
), qq AS (
  SELECT vec_id, label, xd, amax,
         list_transform(xd, x -> CASE WHEN amax = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(floor(x / amax * 127.0 + 0.5) AS BIGINT) END) AS q
  FROM m
)
SELECT vec_id, label, amax AS scale,
  len(list_filter(q, x -> abs(x) = 127)) AS n_sat,
  CAST(CAST(list_sum(list_transform(range(1, {EMB_DIM} + 1), i ->
    CAST((xd[i] - CAST(q[i] AS DOUBLE) * amax / 127.0)
       * (xd[i] - CAST(q[i] AS DOUBLE) * amax / 127.0) AS DECIMAL(25,12))))
    AS VARCHAR) AS DOUBLE) / {EMB_DIM}.0 AS mse
FROM qq
""",
    doc="Int8 symmetric per-vector quantization audit — the compression "
    "step a vector store applies before indexing billions of embeddings: "
    "per vector, the max-abs scale, the quantized codes floor(x/scale*127 "
    "+ 0.5) (half-up via floor, which both engines evaluate identically), "
    "the saturated-code count, and the dequantization MSE. Entirely "
    "row-local — scan -> project, no shuffle at any SF; each non-cheap "
    "intermediate (xd, amax, q) is materialized in its own projection so "
    "higher-order-function lambdas don't re-evaluate it per element. "
    "The MSE sums per-element squared errors through DECIMAL(25,12) "
    "(order-independent exact addition; err^2 ~ 1e-6 sits ~7 orders above "
    "the half-step) and divides by the power-of-two dimension, so both "
    "engines emit bit-identical doubles.",
    tags=("similarity", "quantization", "multimodal"),
)
def emb_quantization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    xd = emb.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias("xd"),
    )
    m = xd.withColumn(
        "amax", F.array_max(F.transform(F.col("xd"), lambda v: F.abs(v)))
    )
    amax = F.col("amax")
    # amax = 0 (all-zero vector) guard: Spark's non-ANSI x/0.0 yields NULL
    # where DuckDB yields NaN/inf — emit all-zero codes on both sides
    # instead (repo convention: guard zero divisors, cf. drawdown/
    # volatility in plans/medallion.py).
    qq = m.withColumn(
        "q",
        F.when(
            amax == 0,
            F.array_repeat(F.lit(0).cast("bigint"), EMB_DIM),
        ).otherwise(
            F.transform(F.col("xd"), lambda v: F.floor(v / amax * 127.0 + 0.5))
        ),
    )
    sq_err = F.zip_with(
        F.col("xd"),
        F.col("q"),
        lambda v, c: (
            (v - c.cast("double") * amax / 127.0)
            * (v - c.cast("double") * amax / 127.0)
        ).cast("decimal(25,12)"),
    )
    mse = (
        F.aggregate(
            sq_err,
            F.lit(0).cast("decimal(25,12)"),
            # decimal + decimal widens to (26,12); the merge lambda must
            # return the accumulator type exactly, and the down-cast is
            # lossless here (same scale, values far below 10^13).
            lambda acc, x: (acc + x).cast("decimal(25,12)"),
        ).cast("double")
        / float(EMB_DIM)
    )
    return qq.select(
        "vec_id",
        "label",
        amax.alias("scale"),
        F.size(F.filter(F.col("q"), lambda c: F.abs(c) == 127))
        .cast("long")
        .alias("n_sat"),
        mse.alias("mse"),
    )


@register(
    "sim_lsh_recall_at_k",
    oracle=f"""
WITH {_SQL_EXACT_COSINES},
topk AS (
  SELECT vec_id FROM cosines ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
),
b AS (SELECT vec_id, {sql_sign_bucket("embedding")} AS bucket FROM embeddings),
lshk AS (
  SELECT c.vec_id FROM cosines c JOIN b ON c.vec_id = b.vec_id
  WHERE b.bucket = (SELECT bucket FROM b WHERE vec_id = {QUERY_VEC_ID})
  ORDER BY c.cosine DESC, c.vec_id LIMIT {TOP_K}
)
SELECT CAST({TOP_K} AS BIGINT) AS k,
       (SELECT count(*) FROM topk) AS n_exact,
       (SELECT count(*) FROM lshk) AS n_lsh,
       (SELECT count(*) FROM topk JOIN lshk USING (vec_id)) AS n_overlap,
       CAST((SELECT count(*) FROM topk JOIN lshk USING (vec_id)) AS DOUBLE)
         / CAST({TOP_K} AS DOUBLE) AS recall
""",
    doc="ANN index-quality evaluation: recall@k of the sign-bucket LSH "
    "strategy against the exact brute-force top-k — the metric a "
    "retrieval pipeline tracks when tuning bucket bits / probe counts. "
    "Reuses both registered strategies as subplans; the overlap is a "
    "left-semi join of two k-row frames and the three counts broadcast "
    "into a single output row, so the added cost over the underlying "
    "searches is nil. Counts are integer-exact; recall divides two "
    "exact small integers.",
    tags=("similarity", "evaluation", "topk"),
)
def sim_lsh_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = sim_cosine_topk(spark, sf_dir).select("vec_id")
    lsh = sim_cosine_topk_lsh(spark, sf_dir).select("vec_id")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    n_overlap = (
        exact.join(lsh, "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        n_exact.crossJoin(F.broadcast(n_lsh))
        .crossJoin(F.broadcast(n_overlap))
        .select(
            F.lit(TOP_K).cast("long").alias("k"),
            "n_exact",
            "n_lsh",
            "n_overlap",
            (
                F.col("n_overlap").cast("double")
                / F.lit(TOP_K).cast("double")
            ).alias("recall"),
        )
    )


#: a text near-dup pair whose embeddings disagree below this cosine is
#: flagged: either the embedding run predates the near-dup text edit or
#: one modality is corrupted — the cross-modal audit a training pipeline
#: runs before trusting either signal for dedup decisions.
MODALITY_AGREE_COSINE = 0.5

# text.py does not import this module, so the CTE-chain import is acyclic.
from .text import _SQL_NEAR_DUP_CTES, NEAR_DUP_THRESHOLD  # noqa: E402


@register(
    "doc_text_embedding_disagreement",
    oracle=f"""
WITH {_SQL_NEAR_DUP_CTES},
pairs AS (
  SELECT doc_a, doc_b, jaccard FROM verified
  WHERE jaccard >= {NEAR_DUP_THRESHOLD}
)
SELECT p.doc_a, p.doc_b, p.jaccard,
       CAST({_sql_pair_qdot("a.embedding", "b.embedding")} AS DOUBLE)
         / (sqrt(CAST({_sql_pair_qdot("a.embedding", "a.embedding")} AS DOUBLE))
            * sqrt(CAST({_sql_pair_qdot("b.embedding", "b.embedding")} AS DOUBLE)))
         AS cosine,
       (CAST({_sql_pair_qdot("a.embedding", "b.embedding")} AS DOUBLE)
         / (sqrt(CAST({_sql_pair_qdot("a.embedding", "a.embedding")} AS DOUBLE))
            * sqrt(CAST({_sql_pair_qdot("b.embedding", "b.embedding")} AS DOUBLE)))
         < {MODALITY_AGREE_COSINE}) AS modality_disagree
FROM pairs p
JOIN embeddings a ON a.vec_id = p.doc_a
JOIN embeddings b ON b.vec_id = p.doc_b
""",
    doc="Cross-modal dedup audit: MinHash-verified text near-dup pairs "
    "(jaccard >= 0.5) joined to the exact quantized cosine of the same "
    "documents' embeddings, flagging pairs where the text and vector "
    "modalities disagree. Reuses the registered near-dup pipeline as a "
    "subplan; the pair list is tiny (O(near-dups)), so both embedding "
    "joins broadcast the pairs against the vector table and the cosine "
    "is computed row-local on the joined rows — the added cost over the "
    "text pass is two hash joins over k pairs, not a scan product.",
    tags=("similarity", "text", "dedup", "multimodal"),
)
def doc_text_embedding_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import _near_dup_pairs_df

    pairs = _near_dup_pairs_df(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    ea = emb.select(F.col("vec_id").alias("doc_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("doc_b"), F.col("embedding").alias("eb"))
    qa, qb = quantized_elements(F.col("ea")), quantized_elements(F.col("eb"))
    cosine = dot_long(qa, qb).cast("double") / (
        F.sqrt(dot_long(qa, qa).cast("double"))
        * F.sqrt(dot_long(qb, qb).cast("double"))
    )
    return (
        pairs.join(ea, "doc_a")
        .join(eb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            cosine.alias("cosine"),
            (F.col("cosine") < MODALITY_AGREE_COSINE).alias("modality_disagree"),
        )
        .select("doc_a", "doc_b", "jaccard", "cosine", "modality_disagree")
    )


# ---------------------------------------------------------------------------
# Deterministic k-means (spherical / cosine) over embeddings
# ---------------------------------------------------------------------------

import math  # noqa: E402

from ..functions.determinism import dsum, sql_dsum  # noqa: E402

#: k-means parameters: K clusters, one Lloyd update (assign -> recompute
#: centroids -> reassign), deterministic init = the embeddings of the K
#: smallest vec_ids. Fixed iteration count keeps the whole algorithm a
#: finite, oracle-expressible dataflow.
KMEANS_K = 8

_KM_E = f"""
e AS (
  SELECT vec_id, r.i AS pos,
         CAST(floor(embedding[r.i] * {QSCALE!r}) AS BIGINT) AS x
  FROM embeddings, range(1, {EMB_DIM} + 1) r(i)
),
n AS (SELECT vec_id, SUM(x*x) AS n2 FROM e GROUP BY vec_id),
ve AS (SELECT e.vec_id, e.pos, e.x FROM e JOIN n USING (vec_id) WHERE n.n2 > 0),
c0 AS (SELECT vec_id AS cluster, pos, x AS c FROM e WHERE vec_id < {KMEANS_K}),
cn0 AS (SELECT cluster, CAST(SUM(c*c) AS DOUBLE) AS n2c FROM c0 GROUP BY cluster),
s0 AS (
  SELECT ve.vec_id, c0.cluster,
         CASE WHEN cn0.n2c = 0 THEN -2.0
              ELSE CAST(SUM(ve.x * c0.c) AS DOUBLE) / sqrt(cn0.n2c) END AS score
  FROM ve
  JOIN c0 USING (pos)
  JOIN cn0 ON cn0.cluster = c0.cluster
  GROUP BY ve.vec_id, c0.cluster, cn0.n2c
),
a0 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cluster) AS rn
    FROM s0) WHERE rn = 1
),
c1 AS (
  SELECT a0.cluster, ve.pos,
         CAST(floor(CAST(SUM(ve.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
  FROM ve JOIN a0 USING (vec_id) GROUP BY a0.cluster, ve.pos
),
cn1 AS (SELECT cluster, CAST(SUM(c*c) AS DOUBLE) AS n2c FROM c1 GROUP BY cluster),
s1 AS (
  SELECT ve.vec_id, c1.cluster,
         CASE WHEN cn1.n2c = 0 THEN -2.0
              ELSE CAST(SUM(ve.x * c1.c) AS DOUBLE) / sqrt(cn1.n2c) END AS score
  FROM ve
  JOIN c1 USING (pos)
  JOIN cn1 ON cn1.cluster = c1.cluster
  GROUP BY ve.vec_id, c1.cluster, cn1.n2c
),
a1 AS (
  SELECT vec_id, cluster, score FROM (
    SELECT vec_id, cluster, score,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cluster) AS rn
    FROM s1) WHERE rn = 1
),
scored AS (
  SELECT a1.cluster,
         CASE WHEN a1.score = -2.0 THEN -2.0
              ELSE a1.score / sqrt(CAST(n.n2 AS DOUBLE)) END AS cosine
  FROM a1 JOIN n USING (vec_id)
)
"""


def _km_assign(qdf: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Row-local nearest-centroid assignment against literal centroids.

    Each centroid becomes an inlined array<long>; the score is the exact
    integer dot product over sqrt of the centroid norm (dividing by the
    vector's own norm cannot change the argmax, so it is deferred to the
    final cosine). argmax with smallest-cluster tie-break = array_max over
    (score, -cluster) structs. Degenerate all-zero centroids score -2.0
    (below any cosine) in both engines.
    """
    structs = []
    for cluster, vec in cents:
        n2c = float(sum(v * v for v in vec))
        if n2c == 0.0:
            score: Column = F.lit(-2.0)
        else:
            carr = F.array(*[F.lit(v).cast("long") for v in vec])
            score = dot_long(F.col("qx"), carr).cast("double") / F.lit(math.sqrt(n2c))
        structs.append(
            F.struct(score.alias("score"), F.lit(-cluster).alias("jneg"))
        )
    best = F.array_max(F.array(*structs))
    return qdf.withColumn("score", best["score"]).withColumn(
        "cluster", (-best["jneg"]).cast("long")
    )


def _km_assign_folded(qdf: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """`_km_assign` for LARGE K: the per-centroid Column-expression path
    costs ~2 ms of py4j plan construction per operation (see
    functions/expr.py) and blows whole-stage codegen past the JVM method
    limit once K x DIM expressions inline — at K in the hundreds the
    PLAN would take longer than the job. Instead the centroid set folds
    into ONE constant array<struct> literal (a single F.expr parse),
    explodes to (vector, centroid) rows, and a map-side-partial
    ``max_by`` picks each vector's argmax — the shuffle stays O(N) rows
    because the partial aggregation collapses the K fan-out before the
    exchange. Same scoring and tie-break semantics as `_km_assign`
    (score = dot/sqrt(centroid norm) as double, all-zero centroids score
    -2.0, smallest cluster wins ties)."""
    parts = []
    for cluster, vec in cents:
        n2c = float(sum(v * v for v in vec))
        arr = ",".join(f"{v}L" for v in vec)
        if n2c == 0.0:
            parts.append(
                f"struct({cluster}L as cluster, array({arr}) as c, "
                "cast(0.0 as double) as rn)"
            )
        else:
            parts.append(
                f"struct({cluster}L as cluster, array({arr}) as c, "
                f"cast({math.sqrt(n2c)!r} as double) as rn)"
            )
    cents_sql = "array(" + ",".join(parts) + ")"
    exploded = qdf.select(
        "vec_id", "qx", "n2x", F.explode(F.expr(cents_sql)).alias("cc")
    )
    score = F.when(F.col("cc.rn") == 0.0, F.lit(-2.0)).otherwise(
        dot_long(F.col("qx"), F.col("cc.c")).cast("double") / F.col("cc.rn")
    )
    scored = exploded.select(
        "vec_id",
        "qx",
        "n2x",
        F.struct(
            score.alias("score"), (-F.col("cc.cluster")).alias("jneg")
        ).alias("sj"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max("sj").alias("b"),
        # constant within the group (one vector per vec_id)
        F.first("qx").alias("qx"),
        F.first("n2x").alias("n2x"),
    )
    return best.select(
        "vec_id",
        "qx",
        "n2x",
        F.col("b.score").alias("score"),
        (-F.col("b.jneg")).cast("long").alias("cluster"),
    )


def _km_assign_matmul(qdf: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """`_km_assign` for LARGE K, round 3 of the evolution: the folded
    explode ships N×K rows through a partial ``max_by`` — at the 100×
    probe (200k vectors × K=666 = 133M rows, twice) that explode was
    ~100% of SemDeDup's wall (SCALE.md round-8 attribution: k-means
    157 s of a 144 s total). Assignment is a matrix product, so compute
    it AS one: an Arrow `mapInPandas` kernel does ``X @ C.T`` per batch
    in **int64** (exact — dots reach 2^54 with QSCALE=2^24, past
    float64's 2^53 integer range, so BLAS would round where `dot_long`
    doesn't) and divides by the same `math.sqrt` norms the literal
    paths inline. Tie-break preserved: centroids ordered by ascending
    cluster id, `argmax` returns the FIRST maximum = smallest cluster,
    exactly the struct-max ``(score, -cluster)`` rule; all-zero
    centroids score -2.0. The kernel closes over plain numpy arrays
    (no package references — foreign-driver workers need no import).
    Semantics pinned equal to `_km_assign_folded` by
    `tests/test_similarity.py::TestKmeansAssignEquivalence`."""
    import numpy as np

    ordered = sorted(cents)
    ids_np = np.asarray([c for c, _ in ordered], dtype=np.int64)
    cent_mat = np.asarray([v for _, v in ordered], dtype=np.int64)
    norms = np.asarray(
        [math.sqrt(float(sum(x * x for x in v))) for _, v in ordered],
        dtype=np.float64,
    )
    safe = np.where(norms == 0.0, 1.0, norms)
    zero_mask = norms == 0.0

    def kernel(batches):
        import numpy as _np

        for pdf in batches:
            if not len(pdf):
                continue
            x_mat = _np.asarray(
                [_np.asarray(a, dtype=_np.int64) for a in pdf["qx"]]
            )
            dots = x_mat @ cent_mat.T  # exact int64
            scores = dots / safe
            scores[:, zero_mask] = -2.0
            best = scores.argmax(axis=1)
            rows = _np.arange(len(pdf))
            yield pdf.assign(
                score=scores[rows, best], cluster=ids_np[best]
            )

    out_schema = T.StructType(
        list(qdf.schema.fields)
        + [
            T.StructField("score", T.DoubleType()),
            T.StructField("cluster", T.LongType()),
        ]
    )
    return qdf.mapInPandas(kernel, out_schema)


#: above this K the matmul-kernel assign replaces the inlined-expression
#: one (all paths implement identical semantics; pytest pins agreement)
_KM_FOLDED_THRESHOLD = 32


def _km_two_round(emb: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """Assign -> centroid update -> reassign (the `_KM_E` dataflow),
    shared by the k-means report and the SemDeDup pipeline. Returns the
    second-round assignment with ``qx``/``n2x``/``score``/``cluster``.
    Both driver collects are K x DIM constants."""
    assign = _km_assign if k <= _KM_FOLDED_THRESHOLD else _km_assign_matmul
    qdf = shared(
        emb.select("vec_id", quantized_elements(F.col("embedding")).alias("qx"))
        .withColumn("n2x", dot_long(F.col("qx"), F.col("qx")))
        .filter(F.col("n2x") > 0)
    )
    init_rows = (
        emb.filter(F.col("vec_id") < k).select("vec_id", "embedding").collect()
    )
    cents0 = sorted(
        (int(r["vec_id"]), quantize_vector(list(r["embedding"]))) for r in init_rows
    )
    assigned0 = assign(qdf, cents0)
    sums = assigned0.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cnt"),
        *[
            F.sum(F.element_at(F.col("qx"), i + 1)).alias(f"s{i}")
            for i in range(EMB_DIM)
        ],
    ).collect()
    cents1 = sorted(
        (
            int(r["cluster"]),
            [math.floor(float(r[f"s{i}"]) / float(r["cnt"])) for i in range(EMB_DIM)],
        )
        for r in sums
    )
    return assign(qdf, cents1)


@register(
    "emb_kmeans_clusters",
    oracle=f"""
WITH {_KM_E}
SELECT cluster, count(*) AS size,
       ({sql_dsum("cosine")} / CAST(count(*) AS DOUBLE)) AS avg_cosine
FROM scored GROUP BY cluster
""",
    doc="Deterministic spherical k-means over embeddings (K=8, fixed init "
    "= K smallest vec_ids, one Lloyd update), reporting per-cluster size "
    "and mean cosine-to-centroid. Everything stays in the quantized-"
    "integer cosine discipline, so the iterative algorithm is bit-"
    "identical to a pure-SQL oracle — the repo's showcase that iterative "
    "ML can be oracle-checked, not just rows-only. Scale: assignment is "
    "row-local against K inlined centroids (no explode, no shuffle); the "
    "centroid update is K x DIM map-side partial sums collapsing to K "
    "rows; the two driver collects are K x DIM constants (the IVF-index "
    "pattern). Zero-norm vectors are excluded (guarded in both engines); "
    "per-dimension means floor to the integer grid so re-quantization is "
    "exact. Integer sums stay exact in doubles below 2^53 — at larger "
    "corpus sizes the update would switch to decimal sums like the "
    "determinism kit.",
    tags=("similarity", "clustering", "kmeans"),
)
def emb_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned1 = _km_two_round(emb)
    cosine = F.when(F.col("score") == F.lit(-2.0), F.lit(-2.0)).otherwise(
        F.col("score") / F.sqrt(F.col("n2x").cast("double"))
    )
    return (
        assigned1.withColumn("cosine", cosine)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("size"),
            (dsum("cosine") / F.count(F.lit(1)).cast("double")).alias("avg_cosine"),
        )
    )


#: Product quantization: 8 subspaces of 8 dims; 16 centroids per subspace
#: taken deterministically from table rows vec_id 1..16 (the IVF trick —
#: no training RNG, both engines derive identical codebooks).
PQ_S, PQ_SUBDIM, PQ_K = 8, EMB_DIM // 8, N_CENTROIDS

_PQ_ORACLE = f"""
WITH n AS (
  SELECT vec_id, label, {_SQL_QUANT} AS qx FROM embeddings
),
subs AS (
  SELECT vec_id, s.s AS s,
         list_slice(qx, s.s * {PQ_SUBDIM} + 1, s.s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sub
  FROM n, (SELECT unnest(range(0, {PQ_S})) AS s) s
),
csubs AS (
  SELECT vec_id AS cid, s, sub AS csub FROM subs WHERE vec_id IN {CENTROID_IDS}
),
code AS (
  SELECT a.vec_id, a.s, c.cid, c.csub
  FROM subs a JOIN csubs c USING (s)
  QUALIFY row_number() OVER (
    PARTITION BY a.vec_id, a.s
    ORDER BY list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
              i -> (a.sub[i] - c.csub[i]) * (a.sub[i] - c.csub[i]))), c.cid
  ) = 1
),
qsub AS (SELECT s, sub FROM subs WHERE vec_id = {QUERY_VEC_ID}),
qn AS (
  SELECT CAST(list_sum(list_transform(qx, v -> v * v)) AS DOUBLE) AS qn2
  FROM n WHERE vec_id = {QUERY_VEC_ID}
),
adc AS (
  SELECT code.vec_id,
         SUM(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
             i -> q.sub[i] * code.csub[i]))) AS adot,
         SUM(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
             i -> code.csub[i] * code.csub[i]))) AS an2
  FROM code JOIN qsub q ON q.s = code.s
  GROUP BY 1
)
SELECT a.vec_id, n.label,
       CAST(a.adot AS DOUBLE) / (sqrt(CAST(a.an2 AS DOUBLE)) * sqrt(qn.qn2))
         AS approx_cosine
FROM adc a JOIN n ON n.vec_id = a.vec_id, qn
WHERE a.vec_id <> {QUERY_VEC_ID}
ORDER BY approx_cosine DESC, a.vec_id LIMIT {TOP_K}
"""


@register(
    "sim_cosine_topk_pq",
    oracle=_PQ_ORACLE,
    doc="Product-quantization ANN (IVF-PQ's compression half): each "
    "vector's 8 8-dim quantized subvectors are encoded as the nearest of "
    "16 per-subspace codebook centroids (deterministic codebook = table "
    "rows 1..16, the same no-RNG trick as the IVF coarse quantizer; "
    "integer L2 argmin, cid tie-break). The query is answered by "
    "asymmetric distance computation: per-subspace lookup tables "
    "dot(q_s, c_k,s) and ||c_k,s||^2 are 8x16 integer constants inlined "
    "as literals, so the per-row cost is 8 array lookups + adds — no "
    "shuffle, TakeOrderedAndProject top-k. At 100 TB this is THE memory "
    "move: 64 dims x 8 bytes -> 8 one-byte codes (64x), scan bandwidth "
    "drops the same factor, and exact re-ranking runs on the short "
    "list only. All arithmetic is exact int64 (quantized elements), so "
    "codes and ADC scores are bit-identical to the DuckDB twin.",
    tags=("similarity", "ann", "pq", "topk"),
)
def sim_cosine_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(spark, sf_dir)
    cents = _centroids(spark, sf_dir)
    qq, qn2, csub, adc_dot, cent_n2 = _pq_driver_tables(qvec, cents)
    coded = _pq_coded(emb.filter(F.col("vec_id") != QUERY_VEC_ID), csub)
    return (
        coded.select(
            "vec_id",
            "label",
            _pq_adc_expr(adc_dot, cent_n2, qn2).alias("approx_cosine"),
        )
        .orderBy(F.desc("approx_cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _pq_driver_tables(qvec, cents):
    """Driver-side exact-integer codebooks and ADC tables (bounded: 16
    centroids x 64 dims of Python ints — plan constants, like
    literals). Returns (qq, qn2, csub, adc_dot, cent_n2)."""
    qq = quantize_vector(qvec)
    qn2 = float(sum(x * x for x in qq))
    csub: dict[int, list[list[int]]] = {}  # s -> [centroid k's subvector]
    for _k, cid in enumerate(sorted(cents)):
        cq = quantize_vector(cents[cid])
        for s in range(PQ_S):
            csub.setdefault(s, []).append(
                cq[s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
            )
    adc_dot = [
        [sum(a * b for a, b in zip(qq[s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM], c))
         for c in csub[s]]
        for s in range(PQ_S)
    ]
    cent_n2 = [[sum(x * x for x in c) for c in csub[s]] for s in range(PQ_S)]
    return qq, qn2, csub, adc_dot, cent_n2


def _pq_coded(emb: DataFrame, csub, extra_cols: tuple = ()) -> DataFrame:
    """(vec_id, label, c0..c7 [, *extra_cols]): every vector's PQ
    codes. The whole
    code-assignment kernel is GENERATED SQL parsed in one JVM call:
    building it from ~3000 individual pyspark Column ops cost 7 s of
    py4j round trips per plan at 2000 rows (measured) — the expression
    is identical, only its construction path differs. bind()-shape
    inside the SQL: the quantize transform is a lambda VALUE (xq), so
    the 128 unrolled dot terms read it for free. argmin_k
    ||sub - c_k||^2 == argmin_k (||c_k||^2 - 2*dot); array_min over
    (d, k) structs = smallest distance with cid tie-break, the same
    rule as the oracle's row_number ordering."""
    quant = f"transform(embedding, x -> CAST(floor(x * {QSCALE!r}) AS BIGINT))"
    cent_n2 = [[sum(x * x for x in c) for c in csub[s]] for s in range(PQ_S)]

    def code_sql(s: int) -> str:
        cands = []
        for k in range(PQ_K):
            dot = " + ".join(
                f"element_at(xq, {s * PQ_SUBDIM + j + 1}) * "
                f"CAST({csub[s][k][j]} AS BIGINT)"
                for j in range(PQ_SUBDIM)
            )
            cands.append(
                f"named_struct('d', CAST({cent_n2[s][k]} AS BIGINT) - "
                f"2 * ({dot}), 'k', {k})"
            )
        return f"array_min(array({', '.join(cands)})).k"

    fields = ", ".join(f"'c{s}', {code_sql(s)}" for s in range(PQ_S))
    codes = F.expr(
        f"element_at(transform(array({quant}), xq -> named_struct({fields})), 1)"
    )
    return (
        emb
        # the codes struct is aliased ONCE and unpacked in a second
        # projection — unpacking getFields off the bind directly would
        # reference it 8 times and re-run the whole 8x16 argmin per field
        .select("vec_id", "label", *extra_cols, codes.alias("cs"))
        .select(
            "vec_id",
            "label",
            *extra_cols,
            *[F.col("cs").getField(f"c{s}").alias(f"c{s}") for s in range(PQ_S)],
        )
    )


def _pq_adc_expr(adc_dot, cent_n2, qn2: float):
    """Asymmetric-distance cosine over the c0..c7 code columns: 8 array
    lookups + adds against inlined 8x16 integer LUTs."""

    def lut_sql(table: list[list[int]]) -> str:
        terms = []
        for s in range(PQ_S):
            arr = ", ".join(f"CAST({v} AS BIGINT)" for v in table[s])
            terms.append(f"element_at(array({arr}), c{s} + 1)")
        return " + ".join(terms)

    return F.expr(
        f"CAST(({lut_sql(adc_dot)}) AS DOUBLE) / "
        f"(SQRT(CAST(({lut_sql(cent_n2)}) AS DOUBLE)) * SQRT({qn2!r}))"
    )


@register(
    "sim_pq_recall_at_k",
    oracle=f"""
WITH {_SQL_EXACT_COSINES},
topk AS (
  SELECT vec_id FROM cosines ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
),
pq AS ({_PQ_ORACLE})
SELECT CAST({TOP_K} AS BIGINT) AS k,
       (SELECT count(*) FROM topk) AS n_exact,
       (SELECT count(*) FROM pq) AS n_pq,
       (SELECT count(*) FROM topk JOIN pq USING (vec_id)) AS n_overlap,
       CAST((SELECT count(*) FROM topk JOIN pq USING (vec_id)) AS DOUBLE)
         / CAST({TOP_K} AS DOUBLE) AS recall
""",
    doc="PQ index-quality evaluation: recall@k of the 8x16 product "
    "quantizer's ADC top-k against the exact brute-force top-k — the "
    "number that decides how long the exact re-ranking short list must "
    "be at 100 TB (recall 0.7 at k=10 means re-rank ~3k candidates to "
    "recover exact top-k with high probability). Same composition shape "
    "as sim_lsh_recall_at_k: both strategies as subplans, one-row "
    "output, integer-exact counts.",
    tags=("similarity", "evaluation", "pq", "topk"),
)
def sim_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = sim_cosine_topk(spark, sf_dir).select("vec_id")
    pq = sim_cosine_topk_pq(spark, sf_dir).select("vec_id")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_pq = pq.agg(F.count(F.lit(1)).alias("n_pq"))
    n_overlap = (
        exact.join(pq, "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        n_exact.crossJoin(F.broadcast(n_pq))
        .crossJoin(F.broadcast(n_overlap))
        .select(
            F.lit(TOP_K).cast("long").alias("k"),
            "n_exact",
            "n_pq",
            "n_overlap",
            (
                F.col("n_overlap").cast("double")
                / F.lit(TOP_K).cast("double")
            ).alias("recall"),
        )
    )


def _ivfpq_oracle(limit: int) -> str:
    """The IVF-PQ pipeline as SQL with a parameterized result size —
    `_IVFPQ_ORACLE` is the top-k form; the reranked query uses a longer
    ADC short list."""
    return _IVFPQ_ORACLE_BODY + f"\nORDER BY approx_cosine DESC, a.vec_id LIMIT {limit}"


_IVFPQ_ORACLE_BODY = f"""
WITH n AS (
  SELECT vec_id, label, {_SQL_QUANT} AS qx,
         CAST(list_sum(list_transform({_SQL_QUANT}, v -> v * v)) AS DOUBLE) AS n2
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cid, qx AS cqx, n2 AS cn2 FROM n
  WHERE vec_id IN {CENTROID_IDS}
),
q AS (SELECT qx AS qqx, n2 AS qn2 FROM n WHERE vec_id = {QUERY_VEC_ID}),
probe AS (
  SELECT cid FROM cents, q
  ORDER BY CAST(list_sum(list_transform(range(1, {EMB_DIM} + 1),
             i -> cqx[i] * qqx[i])) AS DOUBLE) / (sqrt(cn2) * sqrt(qn2)) DESC,
           cid ASC
  LIMIT {NPROBE}
),
assign AS (
  SELECT a.vec_id, c.cid,
         CAST(list_sum(list_transform(range(1, {EMB_DIM} + 1),
           i -> a.qx[i] * c.cqx[i])) AS DOUBLE)
           / (sqrt(a.n2) * sqrt(c.cn2)) AS ccos
  FROM n a, cents c
),
cell AS (
  SELECT vec_id, cid FROM assign
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) = 1
),
subs AS (
  SELECT vec_id, s.s AS s,
         list_slice(qx, s.s * {PQ_SUBDIM} + 1, s.s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sub
  FROM n, (SELECT unnest(range(0, {PQ_S})) AS s) s
),
csubs AS (
  SELECT vec_id AS ccid, s, sub AS csub FROM subs WHERE vec_id IN {CENTROID_IDS}
),
code AS (
  SELECT a.vec_id, a.s, c.ccid, c.csub
  FROM subs a JOIN csubs c USING (s)
  QUALIFY row_number() OVER (
    PARTITION BY a.vec_id, a.s
    ORDER BY list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
              i -> (a.sub[i] - c.csub[i]) * (a.sub[i] - c.csub[i]))), c.ccid
  ) = 1
),
qsub AS (SELECT s, sub FROM subs WHERE vec_id = {QUERY_VEC_ID}),
adc AS (
  SELECT code.vec_id,
         SUM(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
             i -> qs.sub[i] * code.csub[i]))) AS adot,
         SUM(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
             i -> code.csub[i] * code.csub[i]))) AS an2
  FROM code JOIN qsub qs ON qs.s = code.s
  GROUP BY 1
)
SELECT a.vec_id, n.label,
       CAST(a.adot AS DOUBLE) / (sqrt(CAST(a.an2 AS DOUBLE)) * sqrt(q.qn2))
         AS approx_cosine
FROM adc a JOIN n ON n.vec_id = a.vec_id JOIN cell ON cell.vec_id = a.vec_id, q
WHERE cell.cid IN (SELECT cid FROM probe) AND a.vec_id <> {QUERY_VEC_ID}"""

_IVFPQ_ORACLE = _ivfpq_oracle(TOP_K)


@register(
    "sim_cosine_topk_ivfpq_indexed",
    oracle=_IVFPQ_ORACLE,
    doc="IVF-PQ over a MATERIALIZED index — FAISS's IndexIVFPQ, the "
    "canonical billion-vector serving shape, composed from this "
    "engine's two existing halves: the build runs ONCE per table, "
    "assigning every vector a coarse cell (IVF) and 8 one-byte PQ "
    "codes, and persists ONLY (vec_id, label, codes) hive-partitioned "
    "by cell — the raw 64-dim embedding never enters the index, the "
    "64x memory/bandwidth cut that makes PQ the standard compression "
    "move. A query probes its nprobe=4 nearest cells (planning-time "
    "partition pruning: unprobed cells' files are never listed) and "
    "scores the codes by asymmetric distance — 8 array lookups + adds "
    "against inlined 8x16 integer LUTs, no shuffle, "
    "TakeOrderedAndProject top-k. All arithmetic exact int64 on the "
    "quantization grid, so cells, codes, and ADC scores are "
    "bit-identical to the DuckDB twin (which re-derives the whole "
    "pipeline from the raw table). At 100 TB: build = one pass + "
    "partitioned write; probe = nprobe/ncentroids of a 64x-smaller "
    "table.",
    tags=("similarity", "ann", "ivf", "pq", "index", "topk"),
)
def sim_cosine_topk_ivfpq_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return (
        _ivfpq_adc_hits(spark, sf_dir)
        .orderBy(F.desc("approx_cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _ivfpq_adc_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, approx_cosine) over the query's probed cells of
    the cached IVF-PQ index — the candidate-generation half shared by
    the top-k and reranked serving queries."""
    from ..operators.ann_index import read_ivf_cells, write_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(spark, sf_dir)
    cents = _centroids(spark, sf_dir)
    _qq, qn2, csub, adc_dot, cent_n2 = _pq_driver_tables(qvec, cents)

    def build(path: str) -> None:
        # query-independent by construction: codebooks and cells derive
        # from the table's centroid rows only (qq/ADC enter at probe)
        coded = _pq_coded(
            emb.withColumn("cell", ivf_cell_column(cents)), csub,
            extra_cols=("cell",),
        )
        write_ivfpq_index(coded, path)

    index_path = _cached_index_path(spark, "ivfpq", sf_dir, build)
    probed = ivf_probe_cells(cents, qvec, NPROBE)
    hits = read_ivf_cells(spark, index_path, probed)
    return hits.filter(F.col("vec_id") != QUERY_VEC_ID).select(
        "vec_id",
        "label",
        _pq_adc_expr(adc_dot, cent_n2, qn2).alias("approx_cosine"),
    )


@register(
    "sim_ivfpq_recall_at_k",
    oracle=f"""
WITH {_SQL_EXACT_COSINES},
topk AS (
  SELECT vec_id FROM cosines ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
),
ivfpq AS ({_IVFPQ_ORACLE})
SELECT CAST({TOP_K} AS BIGINT) AS k,
       (SELECT count(*) FROM topk) AS n_exact,
       (SELECT count(*) FROM ivfpq) AS n_ivfpq,
       (SELECT count(*) FROM topk JOIN ivfpq USING (vec_id)) AS n_overlap,
       CAST((SELECT count(*) FROM topk JOIN ivfpq USING (vec_id)) AS DOUBLE)
         / CAST({TOP_K} AS DOUBLE) AS recall
""",
    doc="IVF-PQ index-quality evaluation: recall@k of the FULL "
    "compressed path (coarse-cell pruning AND 8x16 ADC scoring "
    "together) against the exact brute-force top-k. Strictly harder "
    "than sim_pq_recall_at_k — IVF-PQ loses candidates two ways (a "
    "true neighbor in an unprobed cell; ADC misranking inside probed "
    "cells) and this measures their JOINT effect, the number that "
    "actually sizes nprobe and the re-rank short list before "
    "committing a billion-vector IndexIVFPQ build. Same composition "
    "shape as the other recall audits: both strategies as subplans, "
    "one-row output, integer-exact counts.",
    tags=("similarity", "evaluation", "ivf", "pq", "topk"),
)
def sim_ivfpq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = sim_cosine_topk(spark, sf_dir).select("vec_id")
    ivfpq = sim_cosine_topk_ivfpq_indexed(spark, sf_dir).select("vec_id")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_ivfpq = ivfpq.agg(F.count(F.lit(1)).alias("n_ivfpq"))
    n_overlap = (
        exact.join(ivfpq, "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        n_exact.crossJoin(F.broadcast(n_ivfpq))
        .crossJoin(F.broadcast(n_overlap))
        .select(
            F.lit(TOP_K).cast("long").alias("k"),
            "n_exact",
            "n_ivfpq",
            "n_overlap",
            (
                F.col("n_overlap").cast("double")
                / F.lit(TOP_K).cast("double")
            ).alias("recall"),
        )
    )


#: ADC short-list length for the reranked serving path: long enough to
#: recover most cell-local misrankings, short enough that the exact
#: re-score is a broadcast-joined afterthought
RERANK_R = 50


@register(
    "sim_cosine_topk_ivfpq_reranked",
    oracle=f"""
WITH {_SQL_EXACT_COSINES},
short AS ({_ivfpq_oracle(RERANK_R)})
SELECT c.vec_id, c.label, c.cosine
FROM cosines c JOIN short USING (vec_id)
ORDER BY c.cosine DESC, c.vec_id LIMIT {TOP_K}
""",
    doc="The PRODUCTION IVF-PQ serving composition — ADC short list, "
    "exact re-rank: the compressed index proposes its top-50 by "
    "asymmetric distance (partition-pruned cells, LUT scoring, raw "
    "vectors untouched), then ONLY those 50 ids broadcast-semi-join "
    "back to the source table for exact quantized cosines and the true "
    "top-10 of the short list. This is how a billion-vector store "
    "answers queries: the 64x-compressed scan does candidate "
    "generation, exact math runs on a constant-size list — "
    "sim_ivfpq_recall_at_k measures what the short list misses, this "
    "query IS the recovery mechanism it sizes. Cosines ride the "
    "integer-quantized grid, so short-list membership and final "
    "ranking are bit-identical across engines.",
    tags=("similarity", "ann", "ivf", "pq", "rerank", "topk"),
)
def sim_cosine_topk_ivfpq_reranked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(spark, sf_dir)
    short = (
        _ivfpq_adc_hits(spark, sf_dir)
        .orderBy(F.desc("approx_cosine"), F.asc("vec_id"))
        .limit(RERANK_R)
        .select("vec_id")
    )
    return (
        emb.join(F.broadcast(short), "vec_id", "left_semi")
        .select("vec_id", "label", _cosine_vs_query(qvec).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


@register(
    "emb_dimension_stats",
    oracle=f"""
WITH q AS (
  SELECT r.i - 1 AS dim,
         CAST(floor(CAST(embedding[r.i] AS DOUBLE) * {QSCALE!r}) AS BIGINT) AS xq
  FROM embeddings, range(1, {EMB_DIM} + 1) r(i)
),
m AS (
  SELECT dim, count(*) AS n,
         CAST(SUM(xq) AS HUGEINT) AS sx,
         CAST(SUM(xq * xq) AS HUGEINT) AS sxx,
         min(xq) AS minq,
         max(xq) AS maxq
  FROM q GROUP BY dim
)
SELECT dim, n AS n_vecs,
       CAST(CAST(sx AS VARCHAR) AS DOUBLE)
         / (CAST(n AS DOUBLE) * {QSCALE!r}) AS mean_x,
       CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * {QSCALE!r} * {QSCALE!r})
         AS var_x,
       CAST(minq AS DOUBLE) / {QSCALE!r} AS min_x,
       CAST(maxq AS DOUBLE) / {QSCALE!r} AS max_x
FROM m
""",
    doc="Per-DIMENSION embedding statistics (mean/variance/range of each "
    "of the 64 coordinates) — the batch-quality audit an embedding "
    "pipeline runs before indexing: a collapsed dimension (variance ~0) "
    "means the encoder ignores it (wasting index bytes and flattening "
    "cosine contrast); an exploded range means a normalization bug "
    "upstream. Moments are computed over the same 2^-24 quantization "
    "grid every ANN kernel in this engine scores on (floor(x * 2^24) as "
    "int64 — float32->double widening and the power-of-two multiply are "
    "both exact), so all sums are exact integers and both engines "
    "divide bit-identical operands; a plain double->decimal dsum hit a "
    "DuckDB rounding divergence at the 13th digit on exactly this data. "
    "Scale: one posexplode + a 64-group aggregation; the shuffle "
    "carries 64 keys x (count, two int sums) per map partition — "
    "constant-width regardless of corpus size.",
    tags=("similarity", "embedding", "quality", "audit"),
)
def emb_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(F.posexplode("embedding").alias("dim", "x0")).select(
        "dim",
        F.floor(F.col("x0").cast("double") * F.lit(float(QSCALE)))
        .cast("long")
        .alias("xq"),
    )
    n = F.count(F.lit(1))
    # sx fits long at any realistic scale (n * 2^24 < 2^63 up to ~5e14
    # rows); sxx and the cross terms use exact 38-digit decimals
    agg = d.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        n.alias("n_vecs"),
        F.sum("xq").alias("sx"),
        # per-row xq^2 fits long (<= 2^48) but the SUM overflows int64
        # past ~131k vectors; exact decimal summation matches the
        # oracle's HUGEINT at any corpus size
        F.sum((F.col("xq") * F.col("xq")).cast("decimal(38,0)")).alias("sxx"),
        F.min("xq").alias("minq"),
        F.max("xq").alias("maxq"),
    )
    nd = F.col("n_vecs").cast("double")
    scale = F.lit(float(QSCALE))
    var_num = (
        F.col("n_vecs").cast("decimal(38,0)") * F.col("sxx").cast("decimal(38,0)")
        - F.col("sx").cast("decimal(38,0)") * F.col("sx").cast("decimal(38,0)")
    )
    return agg.select(
        "dim",
        "n_vecs",
        (F.col("sx").cast("double") / (nd * scale)).alias("mean_x"),
        (var_num.cast("double") / (nd * nd * scale * scale)).alias("var_x"),
        (F.col("minq").cast("double") / scale).alias("min_x"),
        (F.col("maxq").cast("double") / scale).alias("max_x"),
    )


# ---------------------------------------------------------------------------
# Exact cosine threshold self-join with cluster-bound pruning
# ---------------------------------------------------------------------------

#: similarity threshold for the exact self-join (data-calibrated: the
#: synthetic embeddings are diffuse, max pairwise cosine ~0.51 at sf0.01)
EXACT_JOIN_TAU = 0.4


@register(
    "emb_threshold_join_exact",
    oracle=f"""
WITH e AS (
  SELECT vec_id, r.i AS pos,
         CAST(floor(embedding[r.i] * {QSCALE!r}) AS BIGINT) AS x
  FROM embeddings, range(1, {EMB_DIM} + 1) r(i)
),
n AS (SELECT vec_id, SUM(x*x) AS n2 FROM e GROUP BY vec_id),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
  FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT vec_a, vec_b,
       dot / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         AS cosine
FROM p
JOIN n na ON na.vec_id = p.vec_a
JOIN n nb ON nb.vec_id = p.vec_b
WHERE na.n2 > 0 AND nb.n2 > 0
  AND dot / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
        >= {EXACT_JOIN_TAU}
""",
    doc="EXACT cosine threshold self-join (every pair with cosine >= "
    f"{EXACT_JOIN_TAU}) with cluster-bound pruning — the exact "
    "complement of the LSH/IVF approximate stack (dedup verification, "
    "recall ground truth). Vectors are assigned to K deterministic "
    "cells; per-cell angular radii + pairwise centroid angles give the "
    "triangle-inequality bound theta(a,b) >= theta(ci,cj) - ri - rj, so "
    "a cell PAIR whose best possible cosine is below tau is dropped "
    "DRIVER-side before any row joins — candidate generation is two "
    "broadcast-pruned equi-joins on cell ids, never a cartesian. "
    "Exactness is bound-guaranteed regardless of data (a conservative "
    "epsilon absorbs driver float rounding); pruning EFFECTIVENESS is "
    "data-dependent — tight near-dup clusters at tau~0.95 prune almost "
    "everything (test-pinned on clustered data), while this diffuse "
    "synthetic corpus at tau=0.4 keeps most cell pairs (the honest "
    "exact-join cost). At 100 TB: K grows ~sqrt(n) so cells bound both "
    "candidate volume and per-task memory; AQE splits skewed cells; "
    "integer-quantized dot products keep the compare bit-identical to "
    "the oracle's.",
    tags=("similarity", "join", "threshold", "exact"),
)
def emb_threshold_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    df, _survived, _total = exact_threshold_join(
        spark, emb, tau=EXACT_JOIN_TAU, k=KMEANS_K
    )
    return df


def exact_threshold_join(
    spark: SparkSession, emb: DataFrame, *, tau: float, k: int
) -> tuple[DataFrame, int, int]:
    """Core of `emb_threshold_join_exact`, reusable at any threshold /
    cell count. Returns ``(pairs_df, surviving_cell_pairs,
    total_cell_pairs)`` so tests can pin that the bound actually PRUNES
    on clusterable data while staying exact.

    Exact duplicates are COLLAPSED before the quadratic stage (the
    SCALE.md lesson): every downstream quantity — cell assignment,
    radius, pairwise cosine — is a function of the quantized vector
    alone, so quantized-identical vectors share one representative and
    the candidate volume scales with DISTINCT content (the 10x
    dup-heavy probe went 232 s -> rep-bound without this). Rep pairs
    expand back to member pairs afterwards; within-group pairs emit
    the same ``n2/(sqrt(n2)*sqrt(n2))`` float expression the oracle
    computes (NOT a 1.0 literal — IEEE sqrt round-trip)."""
    q_all = (
        emb.select(
            "vec_id", quantized_elements(F.col("embedding")).alias("qx")
        )
        .withColumn("n2", dot_long(F.col("qx"), F.col("qx")))
        .filter(F.col("n2") > 0)
    )
    members = shared(
        q_all.select(
            "vec_id", F.md5(F.to_json(F.col("qx"))).alias("dig")
        )
    )
    # r12 optimization (guide §2.4): representatives straight from ONE
    # groupBy on the digest — the previous form joined q_all back to
    # `members` and to a separate min-vec_id aggregate (two extra
    # shuffles + a second full quantize/digest pass inside the eager
    # checkpoint job). qx/n2 are functions of the digest (quantized-
    # identical vectors), so min_by on vec_id picks the same rows the
    # old rep filter kept, bit-for-bit.
    q = shared(
        q_all.withColumn("dig", F.md5(F.to_json(F.col("qx"))))
        .groupBy("dig")
        .agg(
            F.min("vec_id").alias("vec_id"),
            F.min_by("qx", "vec_id").alias("qx"),
            F.min_by("n2", "vec_id").alias("n2"),
        )
        .select("dig", "vec_id", "qx", "n2")
    )
    # K x DIM centroid constants (the K smallest vec_ids — the same
    # deterministic init the k-means query uses)
    cents = [
        (int(r["vec_id"]), list(r["qx"]))
        for r in q_all.filter(F.col("vec_id") < k)
        .select("vec_id", "qx")
        .collect()
    ]
    cents = [(i, vec) for i, (_vid, vec) in enumerate(sorted(cents))]
    # r12: checkpoint the assignment — it feeds THREE consumers (the
    # radii collect below and both legs of the banded pair join), and
    # without materialization each branch re-runs the Arrow matmul
    # kernel over every distinct vector (guide §4: pay the Python
    # boundary once). One row per distinct fingerprint, same width as
    # the already-checkpointed `q`.
    assigned = shared(
        _km_assign(q, cents).withColumn(
            "cosc", F.col("score") / F.sqrt(F.col("n2").cast("double"))
        )
    )
    # per-cell angular radius: max angle to centroid = acos(min cosine)
    radii = {
        int(r["cluster"]): math.acos(max(-1.0, min(1.0, r["mn"])))
        for r in assigned.groupBy("cluster")
        .agg(F.min("cosc").alias("mn"))
        .collect()
    }
    # driver-side K^2 bound: keep cell pair (i, j) unless even the
    # CLOSEST possible members stay below tau
    def _cos(a: list[int], b: list[int]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return num / (na * nb) if na and nb else -1.0

    survive: list[tuple[int, int]] = []
    for i, ci in cents:
        for j, cj in cents:
            if i not in radii or j not in radii:
                continue  # empty cell: nothing to join
            theta = math.acos(max(-1.0, min(1.0, _cos(ci, cj))))
            best = math.cos(max(theta - radii[i] - radii[j], 0.0))
            if best >= tau - 1e-9:
                survive.append((i, j))
    pairs = spark.createDataFrame(survive or [(-1, -1)], "ca long, cb long")
    # r13 optimization (guide §4.2): pair scoring moves from one
    # interpreted zip_with+aggregate projection per candidate pair into a
    # per-cell-pair int64 Gram product (Xa @ Xb.T) in the Arrow kernel —
    # each leg is replicated onto its surviving cell pairs (broadcast
    # join, no shuffle), cogrouped by (ca, cb), and scored as one matmul.
    # Identical IEEE cosine expression, identical kept-pair set (the
    # kernel dedups unordered pairs by rep vec_id instead of digest
    # order — a strict total order over digests, and the member
    # expansion below re-orders with least/greatest anyway).
    a = assigned.select(
        F.col("dig").alias("dig_a"),
        F.col("vec_id").alias("id_a"),
        F.col("qx").alias("qx_a"),
        F.col("n2").alias("n2_a"),
        F.col("cluster").alias("ca"),
    ).join(F.broadcast(pairs), "ca")
    b = assigned.select(
        F.col("dig").alias("dig_b"),
        F.col("vec_id").alias("id_b"),
        F.col("qx").alias("qx_b"),
        F.col("n2").alias("n2_b"),
        F.col("cluster").alias("cb"),
    ).join(F.broadcast(pairs), "cb")
    rep_pairs = gram_threshold_pairs(a, b, tau=tau)
    # expand rep pairs to member pairs (the rep cosine IS every member
    # pair's cosine — identical qx inputs, identical float expression)
    ma = members.select(F.col("dig").alias("dig_a"), F.col("vec_id").alias("va"))
    mb = members.select(F.col("dig").alias("dig_b"), F.col("vec_id").alias("vb"))
    cross = (
        rep_pairs.join(ma, "dig_a")
        .join(mb, "dig_b")
        .select(
            F.least("va", "vb").alias("vec_a"),
            F.greatest("va", "vb").alias("vec_b"),
            "cosine",
        )
    )
    self_cos = F.col("n2").cast("double") / (
        F.sqrt(F.col("n2").cast("double")) * F.sqrt(F.col("n2").cast("double"))
    )
    m1 = members.select("dig", F.col("vec_id").alias("va"))
    m2 = members.select("dig", F.col("vec_id").alias("vb"))
    within = (
        m1.join(m2, "dig")
        .filter(F.col("va") < F.col("vb"))
        .join(q.select("dig", "n2"), "dig")
        .select(
            F.col("va").alias("vec_a"),
            F.col("vb").alias("vec_b"),
            self_cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= tau)
    )
    out = cross.unionByName(within)
    n_cells = len(radii)
    return out, len(survive), n_cells * n_cells


# ---------------------------------------------------------------------------
# SemDeDup: semantic deduplication via k-means + within-cluster pruning
# ---------------------------------------------------------------------------

#: within-cluster cosine above which two examples are SEMANTIC duplicates
#: (data-calibrated like EXACT_JOIN_TAU: the synthetic corpus is diffuse,
#: so the threshold sits where the rule actually fires at sf0.01)
SEMDEDUP_EPS = 0.35
#: SemDeDup cluster-size target: K = max(KMEANS_K, n // this), so pair
#: volume stays ~n * target as the corpus grows (the paper scales K with
#: n; a fixed K would make the within-cluster self-join quadratic)
SEMDEDUP_TARGET_CLUSTER = 300


@register(
    "emb_semantic_dedup",
    oracle=f"""
WITH {_KM_E},
m AS (
  SELECT a1.vec_id, a1.cluster,
         CASE WHEN a1.score = -2.0 THEN -2.0
              ELSE a1.score / sqrt(CAST(n.n2 AS DOUBLE)) END AS cosc
  FROM a1 JOIN n USING (vec_id)
),
pair_dots AS (
  SELECT x.vec_id AS i, y.vec_id AS j,
         x.cosc AS ci, y.cosc AS cj,
         CAST(SUM(ex.x * ey.x) AS DOUBLE)
           / (sqrt(CAST(nx.n2 AS DOUBLE)) * sqrt(CAST(ny.n2 AS DOUBLE)))
           AS cos_ij
  FROM m x
  JOIN m y ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
  JOIN e ex ON ex.vec_id = x.vec_id
  JOIN e ey ON ey.vec_id = y.vec_id AND ey.pos = ex.pos
  JOIN n nx ON nx.vec_id = x.vec_id
  JOIN n ny ON ny.vec_id = y.vec_id
  GROUP BY 1, 2, 3, 4, nx.n2, ny.n2
),
removed AS (
  SELECT DISTINCT i AS vec_id
  FROM pair_dots
  WHERE cos_ij >= {SEMDEDUP_EPS}
    AND (cj < ci OR (cj = ci AND j < i))
)
SELECT m.vec_id, m.cluster, m.cosc AS cos_to_centroid,
       CAST(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM m LEFT JOIN removed r ON r.vec_id = m.vec_id
""",
    doc="SemDeDup (arXiv:2303.09540): semantic deduplication for "
    "pretraining corpora — deterministic spherical k-means partitions "
    "the embedding space, then ONLY within each cluster are pairwise "
    "cosines computed; of any pair above eps the example FARTHER from "
    "its centroid survives (the paper's keeper rule: prototypical "
    "near-copies go, the outlier stays; vec_id breaks exact ties), "
    "expressed as a single anti-join — no iteration, no connected "
    "components. The per-vector verdict frame (vec_id, cluster, "
    "cos_to_centroid, kept) is hash-compared against a pure-SQL twin "
    "of the whole pipeline, k-means included. Scale: this is exactly "
    "why SemDeDup clusters first — pair volume is sum over clusters of "
    "|c|^2, not n^2; K grows ~n/const at 100 TB so cluster sizes stay "
    "bounded, the self-join shuffles on cluster id (AQE splits skewed "
    "cells), and large-K assignment is ONE exact int64 matmul per "
    "Arrow batch (`_km_assign_matmul` — the round-8 probe attributed "
    "~100% of the 100x wall to the N*K assignment explode it "
    "replaced; factor 11.3x -> ~0.7x, SCALE.md). All cosines ride the "
    "integer-quantized discipline, so the float compare is "
    "bit-identical across engines — the matmul kernel included, "
    "pinned by TestKmAssignFoldedEquivalence.",
    tags=("similarity", "dedup", "llm-pipeline", "kmeans", "semdedup"),
)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # the paper's scale contract, IMPLEMENTED not just claimed: K grows
    # ~n/const so cluster sizes stay bounded and pair volume is
    # O(n * SEMDEDUP_TARGET_CLUSTER), never n^2/K_fixed. At the oracle
    # scales (<= a few thousand vectors) this resolves to KMEANS_K=8, so
    # the DuckDB twin's fixed-K pipeline stays bit-identical; the 100x
    # probe (SCALE.md) is what exercises the scaled branch.
    n = emb.count()
    k = max(KMEANS_K, n // SEMDEDUP_TARGET_CLUSTER)
    m = shared(
        _km_two_round(emb, k=k).withColumn(
            "cosc",
            F.when(F.col("score") == F.lit(-2.0), F.lit(-2.0)).otherwise(
                F.col("score") / F.sqrt(F.col("n2x").cast("double"))
            ),
        )
    )
    # r13 optimization (guide §4.2): the within-cluster pair scoring —
    # previously a cluster self-join evaluating one interpreted
    # zip_with+aggregate dot per (i, j) pair — becomes a per-cluster
    # int64 Gram product (X @ X.T) in an Arrow kernel that emits only
    # the removed ids. Identical IEEE cosine expression and keeper rule;
    # the distinct is structural (one cluster per vector, one flush per
    # cluster, any() over dominating witnesses).
    removed = semdedup_removed_ids(m, eps=SEMDEDUP_EPS)
    return (
        m.join(removed, m["vec_id"] == removed["rm_id"], "left")
        .select(
            "vec_id",
            "cluster",
            F.col("cosc").alias("cos_to_centroid"),
            F.col("rm_id").isNull().cast("long").alias("kept"),
        )
    )


_MATRYOSHKA_PREFIXES = (8, 16, 32, 64)

_MATRYOSHKA_ORACLE = (
    "WITH e AS (\n"
    "  SELECT vec_id, r.i AS pos,\n"
    f"         CAST(floor(embedding[r.i] * {QSCALE!r}) AS BIGINT) AS x\n"
    f"  FROM embeddings, range(1, {EMB_DIM} + 1) r(i)\n"
    "),\n"
    f"q AS (SELECT pos, x AS qx FROM e WHERE vec_id = {QUERY_VEC_ID}),\n"
    + ",\n".join(
        f"""d{p} AS (
  SELECT e.vec_id,
    CAST(SUM(e.x * q.qx) AS DOUBLE) AS dot,
    CAST(SUM(e.x * e.x) AS DOUBLE) AS n2,
    CAST(SUM(q.qx * q.qx) AS DOUBLE) AS qn2
  FROM e JOIN q USING (pos)
  WHERE pos <= {p} AND e.vec_id <> {QUERY_VEC_ID}
  GROUP BY 1
),
t{p} AS (
  SELECT vec_id, dot / (sqrt(n2) * sqrt(qn2)) AS cosine
  FROM d{p} ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
)"""
        for p in _MATRYOSHKA_PREFIXES
    )
    + ",\nu AS (\n"
    + "\nUNION ALL\n".join(
        f"  SELECT CAST({p} AS BIGINT) AS prefix_dims, vec_id, cosine AS "
        "cos_trunc,\n"
        "         CAST(CASE WHEN vec_id IN (SELECT vec_id FROM t64) "
        f"THEN 1 ELSE 0 END AS BIGINT) AS in_full_topk\n  FROM t{p}"
        for p in _MATRYOSHKA_PREFIXES
    )
    + "\n)\n"
    "SELECT prefix_dims, vec_id, cos_trunc, in_full_topk,\n"
    "       SUM(in_full_topk) OVER (PARTITION BY prefix_dims)\n"
    f"         / CAST({TOP_K} AS DOUBLE) AS recall_at_k\n"
    "FROM u"
)


@register(
    "emb_matryoshka_recall_audit",
    oracle=_MATRYOSHKA_ORACLE,
    doc="Matryoshka-prefix retrieval audit (MRL, arXiv:2205.13147): "
    "top-k by cosine over only the FIRST 8/16/32 coordinates of each "
    "embedding vs the full 64-dim ground truth (the 64 row is the "
    "identity check, recall 1.0 by construction). MRL-trained encoders "
    "front-load information so a prefix is a valid cheap embedding; a "
    "pipeline uses this audit to pick the shortest prefix whose "
    "recall@k holds before cutting index bytes 2-8x — on these "
    "RANDOM synthetic vectors the audit instead demonstrates the "
    "degradation curve the decision reads. One scan scores every "
    "prefix (row-local sliced-then-quantized integer cosines against "
    "inlined query prefixes — slice-then-quantize equals the oracle's "
    "quantize-then-filter because quantization is per-coordinate); "
    "each prefix's top-k is its own TakeOrderedAndProject over that "
    "shared frame; membership tests against the full-dim top-k ids "
    "(one bounded 10-row collect); recall is a partitioned window "
    "over the 40-row result — no unpartitioned ordering anywhere.",
    tags=("similarity", "ann", "evaluation", "topk", "quantization"),
)
def emb_matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.expr import bind

    qvec = _query_vector(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")

    def trunc_cos(p: int) -> Column:
        q = quantize_vector(qvec[:p])
        qn2 = float(sum(x * x for x in q))
        qarr = F.array(*[F.lit(x).cast("long") for x in q])

        def cos_of(xq: Column) -> Column:
            dot = dot_long(xq, qarr)
            n2 = dot_long(xq, xq)
            return dot.cast("double") / (
                F.sqrt(n2.cast("double")) * F.sqrt(F.lit(qn2))
            )

        return bind(
            quantized_elements(F.slice(F.col("embedding"), 1, p)), cos_of
        )

    scored = shared(
        emb.filter(F.col("vec_id") != QUERY_VEC_ID).select(
            "vec_id",
            *[trunc_cos(p).alias(f"c{p}") for p in _MATRYOSHKA_PREFIXES],
        )
    )
    full_ids = [
        r.vec_id
        for r in scored.orderBy(F.desc("c64"), F.asc("vec_id"))
        .limit(TOP_K)
        .collect()
    ]
    parts = None
    for p in _MATRYOSHKA_PREFIXES:
        top = (
            scored.orderBy(F.desc(f"c{p}"), F.asc("vec_id"))
            .limit(TOP_K)
            .select(
                F.lit(p).cast("long").alias("prefix_dims"),
                "vec_id",
                F.col(f"c{p}").alias("cos_trunc"),
                F.col("vec_id").isin(full_ids).cast("long").alias(
                    "in_full_topk"
                ),
            )
        )
        parts = top if parts is None else parts.unionByName(top)
    return parts.withColumn(
        "recall_at_k",
        F.sum("in_full_topk").over(W.partitionBy("prefix_dims"))
        / F.lit(float(TOP_K)),
    )


_INT8_ORACLE = f"""
WITH m AS (
  SELECT vec_id, label, embedding,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS mabs
  FROM embeddings
),
e8 AS (
  SELECT vec_id, r.i AS pos,
         CAST(floor(CAST(embedding[r.i] AS DOUBLE) * (127.0 / mabs))
              AS BIGINT) AS x
  FROM m, range(1, {EMB_DIM} + 1) r(i)
  WHERE mabs > 0
),
q8 AS (SELECT pos, x AS qx FROM e8 WHERE vec_id = {QUERY_VEC_ID}),
d8 AS (
  SELECT e8.vec_id,
    CAST(SUM(e8.x * q8.qx) AS DOUBLE) AS dot,
    CAST(SUM(e8.x * e8.x) AS DOUBLE) AS n2,
    CAST(SUM(q8.qx * q8.qx) AS DOUBLE) AS qn2
  FROM e8 JOIN q8 USING (pos)
  WHERE e8.vec_id <> {QUERY_VEC_ID}
  GROUP BY 1
),
c8 AS (
  SELECT vec_id, dot / (sqrt(n2) * sqrt(qn2)) AS cos_int8 FROM d8
),
{_SQL_EXACT_COSINES.lstrip()},
top AS (
  SELECT c8.vec_id, c8.cos_int8, cosines.cosine AS cos_full
  FROM c8 JOIN cosines USING (vec_id)
  ORDER BY c8.cos_int8 DESC, c8.vec_id LIMIT {TOP_K}
),
tfull AS (
  SELECT vec_id FROM cosines ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
),
flagged AS (
  SELECT t.vec_id, t.cos_int8, t.cos_full,
         CAST(CASE WHEN t.vec_id IN (SELECT vec_id FROM tfull)
              THEN 1 ELSE 0 END AS BIGINT) AS in_full_topk
  FROM top t
)
SELECT vec_id, cos_int8, cos_full, in_full_topk,
       (SELECT SUM(in_full_topk) FROM flagged)
         / CAST({TOP_K} AS DOUBLE) AS recall_at_k,
       (SELECT MAX(abs(cos_int8 - cos_full)) FROM flagged) AS max_abs_err
FROM flagged
"""


@register(
    "emb_int8_quantization_recall_audit",
    oracle=_INT8_ORACLE,
    doc="Scalar int8 quantization audit — the 4x-memory-cut every "
    "production vector index takes first (FAISS SQ8): each vector "
    "quantizes to int8 on its own symmetric grid (floor(x * 127/max|x|) "
    "— floor, not round, so both engines agree bit-for-bit), and "
    "COSINE of the quantized vectors needs no dequantization because "
    "the per-vector scale cancels in the ratio: the score is pure "
    "integer dot/norm math, exactly the trick that makes SQ8 indexes "
    "score without reconstructing. The audit retrieves top-k under "
    "int8 scores, reports each hit's int8 and full-precision cosine, "
    "recall@k against the full-precision top-k, and the max absolute "
    "cosine error — the three numbers that decide whether SQ8 is safe "
    "for a corpus before committing the index build. Scale: one scan, "
    "row-local quantization + scoring, TakeOrderedAndProject top-k; "
    "recall/error ride the broadcast 1-row-aggregate pattern (no "
    "unpartitioned window). Zero-norm vectors are excluded in both "
    "engines (no grid exists for them).",
    tags=("similarity", "ann", "quantization", "evaluation", "topk"),
)
def emb_int8_quantization_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math

    qvec = _query_vector(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")

    mabs_q = max(abs(float(x)) for x in qvec)
    q8 = [math.floor(float(x) * (127.0 / mabs_q)) for x in qvec]
    qn2 = float(sum(x * x for x in q8))
    qarr = F.array(*[F.lit(int(x)).cast("long") for x in q8])

    mabs = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    x8 = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * (F.lit(127.0) / mabs)),
    )

    def cos8_of(xq: Column) -> Column:
        dot = dot_long(xq, qarr)
        n2 = dot_long(xq, xq)
        return dot.cast("double") / (
            F.sqrt(n2.cast("double")) * F.sqrt(F.lit(qn2))
        )

    from ..functions.expr import bind

    scored = shared(
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .filter(mabs > 0)
        .select(
            "vec_id",
            bind(x8, cos8_of).alias("cos_int8"),
            _cosine_vs_query(qvec).alias("cos_full"),
        )
    )
    full_ids = [
        r.vec_id
        for r in scored.orderBy(F.desc("cos_full"), F.asc("vec_id"))
        .limit(TOP_K)
        .collect()
    ]
    top = (
        scored.orderBy(F.desc("cos_int8"), F.asc("vec_id"))
        .limit(TOP_K)
        .select(
            "vec_id",
            "cos_int8",
            "cos_full",
            F.col("vec_id").isin(full_ids).cast("long").alias(
                "in_full_topk"
            ),
        )
    )
    summary = top.agg(
        (F.sum("in_full_topk") / F.lit(float(TOP_K))).alias("recall_at_k"),
        F.max(F.abs(F.col("cos_int8") - F.col("cos_full"))).alias(
            "max_abs_err"
        ),
    )
    return top.crossJoin(F.broadcast(summary))


def _bin_pack_sql(col: str, lo: int, *, accessor: str = "element_at({c}, {i})") -> str:
    """SQL that packs 32 sign bits (dims lo+1..lo+32 of ``col``, 1-based
    element access in both engines) into one BIGINT word — the
    production binary-quantization layout: 64 dims -> two words ->
    hamming = popcount(xor) per word. One generated string, not 32
    Column ops (py4j plan-construction cost). ``accessor`` renders the
    element access (Spark `element_at`, DuckDB subscript)."""
    return " + ".join(
        f"(CASE WHEN {accessor.format(c=col, i=lo + i + 1)} > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(32)
    )


_BIN_ORACLE = f"""
WITH words AS (
  SELECT vec_id,
         {_bin_pack_sql('embedding', 0, accessor='{c}[{i}]')} AS w1,
         {_bin_pack_sql('embedding', 32, accessor='{c}[{i}]')} AS w2
  FROM embeddings
),
qw AS (SELECT w1 AS qw1, w2 AS qw2 FROM words WHERE vec_id = {QUERY_VEC_ID}),
ham AS (
  SELECT w.vec_id,
         CAST(bit_count(xor(w.w1, q.qw1))
              + bit_count(xor(w.w2, q.qw2)) AS BIGINT) AS hamming
  FROM words w, qw q
  WHERE w.vec_id <> {QUERY_VEC_ID}
),
{_SQL_EXACT_COSINES.lstrip()},
top AS (
  SELECT h.vec_id, h.hamming, cosines.cosine AS cos_full
  FROM ham h JOIN cosines USING (vec_id)
  ORDER BY h.hamming ASC, h.vec_id LIMIT {TOP_K}
),
tfull AS (
  SELECT vec_id FROM cosines ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
),
flagged AS (
  SELECT t.vec_id, t.hamming, t.cos_full,
         CAST(CASE WHEN t.vec_id IN (SELECT vec_id FROM tfull)
              THEN 1 ELSE 0 END AS BIGINT) AS in_full_topk
  FROM top t
)
SELECT vec_id, hamming, cos_full, in_full_topk,
       (SELECT SUM(in_full_topk) FROM flagged)
         / CAST({TOP_K} AS DOUBLE) AS recall_at_k
FROM flagged
"""


@register(
    "emb_binary_quantization_recall_audit",
    oracle=_BIN_ORACLE,
    doc="Binary (1-bit) quantization audit — the 32x memory cut past "
    "SQ8 (X220): each dimension collapses to its sign bit, 64 dims "
    "pack into TWO int64 words, and candidate ranking is "
    "popcount(xor) hamming — the bit-parallel layout production "
    "binary indexes (and every 'binary embeddings' API) actually "
    "store and scan. The packing runs as one generated SQL expression "
    "per word (32 CASEs, not 32 Column ops — py4j plan cost), and "
    "every score is an exact integer, so ranking parity is "
    "structural; ties break on vec_id. The audit retrieves top-k by "
    "hamming, reports each hit's full-precision cosine and recall@k "
    "vs the exact top-k — the go/no-go before committing a binary "
    "index. Scale: one scan, two BIGINTs per vector shuffle-free, "
    "TakeOrderedAndProject top-k; recall rides the broadcast "
    "1-row-aggregate pattern.",
    tags=("similarity", "ann", "quantization", "evaluation", "topk"),
)
def emb_binary_quantization_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    qvec = _query_vector(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qw1 = sum(1 << i for i in range(32) if float(qvec[i]) > 0)
    qw2 = sum(1 << i for i in range(32) if float(qvec[32 + i]) > 0)

    words = emb.filter(F.col("vec_id") != QUERY_VEC_ID).select(
        "vec_id",
        F.expr(_bin_pack_sql("embedding", 0)).cast("long").alias("w1"),
        F.expr(_bin_pack_sql("embedding", 32)).cast("long").alias("w2"),
        _cosine_vs_query(qvec).alias("cos_full"),
    )
    scored = shared(
        words.select(
            "vec_id",
            (
                F.expr(f"bit_count(w1 ^ {qw1}L) + bit_count(w2 ^ {qw2}L)")
            )
            .cast("long")
            .alias("hamming"),
            "cos_full",
        )
    )
    full_ids = [
        r.vec_id
        for r in scored.orderBy(F.desc("cos_full"), F.asc("vec_id"))
        .limit(TOP_K)
        .collect()
    ]
    top = (
        scored.orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(TOP_K)
        .select(
            "vec_id",
            "hamming",
            "cos_full",
            F.col("vec_id").isin(full_ids).cast("long").alias(
                "in_full_topk"
            ),
        )
    )
    summary = top.agg(
        (F.sum("in_full_topk") / F.lit(float(TOP_K))).alias("recall_at_k")
    )
    return top.crossJoin(F.broadcast(summary))


@register(
    "sim_ivf_index_incremental_add",
    oracle=_IVF_ORACLE,
    doc="INCREMENTAL ANN index maintenance: the IVF index is built on "
    "half the corpus (even vec_ids), then the other half APPENDS via "
    "operators.ann_index.append_ivf_index — no rebuild, resident "
    "parquet files untouched (appends only add files inside affected "
    "cell directories). The probe over the incrementally-maintained "
    "index must equal the full-build probe EXACTLY, which the shared "
    "full-corpus oracle (_IVF_ORACLE, same as sim_cosine_topk_ivf_"
    "indexed) enforces row-for-row: cell membership is a pure "
    "function of (vector, centroids), so build-then-append and "
    "build-all-at-once differ only in file counts, which probes never "
    "observe. This is the operating mode at 100 TB — daily embedding "
    "batches append into a standing index; a rebuild-per-batch would "
    "rewrite the corpus daily. Centroids are pinned to the build's "
    "(re-clustering is a rebuild by definition).",
    tags=("similarity", "ann", "ivf", "index", "incremental", "topk"),
)
def sim_ivf_index_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann_index import (
        append_ivf_index,
        read_ivf_cells,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(spark, sf_dir)
    cents = _centroids(spark, sf_dir)
    index_path = os.path.join(scratch_dir(spark, "cpivfinc_"), "ivf_inc")
    write_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), index_path, cents)
    append_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), index_path, cents)
    probed = ivf_probe_cells(cents, qvec, NPROBE)
    hits = read_ivf_cells(spark, index_path, probed)
    return (
        hits.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", _cosine_vs_query(qvec).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )
