"""Similarity search over an embedding column (``array<float>``).

Two strategies:

- ``cosine_topk``: brute-force exact top-k.  The query set is broadcast,
  so the big side streams once with no shuffle; per-pair math is pure
  Column arithmetic (``zip_with`` + ``aggregate`` fold — JVM codegen, no
  Python).  Right for small query sets over huge corpora.
- ``hyperplane_buckets`` (LSH): sign-of-dot-product against D
  deterministic hyperplanes -> one bucket id per vector; ANN search then
  joins query buckets to candidate buckets and only scores within-bucket
  pairs.  This is the 100 TB path: the self-join is on the bucket key,
  never all-pairs.

Hyperplanes are derived deterministically from md5 (no RNG — reruns and
oracle replays see identical planes).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import DoubleType


@F.pandas_udf(DoubleType())
def cosine_batch(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine over paired embedding columns.

    The HOF-fold formulation (``_dot``-style ``aggregate`` folds) runs
    interpreted per element — fine for a handful of comparisons, ~10x
    too slow when scoring 10^5+ candidate pairs.  This batches whole
    Arrow record chunks through one numpy einsum."""
    a = np.stack(va.to_numpy()).astype(np.float64)
    b = np.stack(vb.to_numpy()).astype(np.float64)
    num = np.einsum("ij,ij->i", a, b)
    den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        return pd.Series(np.where(den > 0, num / den, 0.0))


def quantize_vec(col, scale: int = 1_000_000):
    """array<float> -> array<bigint>, component-wise round-half-up at
    ``scale``.  floor(x*s + 0.5) is pure exact-IEEE double arithmetic —
    bit-identical in any engine — unlike round(), whose half-boundary
    behavior differs between Spark (shortest-repr decimal) and DuckDB
    (binary)."""
    return F.transform(
        col,
        lambda x: F.floor(
            x.cast("double") * F.lit(float(scale)) + F.lit(0.5)
        ).cast("long"),
    )


def _int_dot(a, b):
    """Integer dot product fold — order-INdependent (exact integer adds),
    so any engine computes the identical value; stays < 2^53 for unit-ish
    vectors at scale 1e6 × dim ≤ ~1e4."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _quantized_score_topk(
    joined: DataFrame, k: int, keep_rank: bool = False
) -> DataFrame:
    """Shared tail of the quantized-exact similarity family: score
    (query_id, neighbor_id, q_vec, c_vec) candidate rows with the
    integer-dot cosine, rank per query (score desc, id asc), keep top-k,
    and half-up-round the score at 6dp.  One definition so the
    brute-force (cosine_topk_quantized) and LSH (ann_topk_int) paths
    can never drift in rounding, tie-break, or zero-norm handling.
    ``keep_rank`` additionally emits the PRE-rounding rank ``rn`` (the
    window position) for rank-weighted consumers (q_rbo_overlap) —
    default off so existing plans are untouched."""
    from pyspark.sql import Window

    dot = _int_dot(F.col("q_vec"), F.col("c_vec")).cast("double")
    den = F.sqrt(
        _int_dot(F.col("q_vec"), F.col("q_vec")).cast("double")
    ) * F.sqrt(_int_dot(F.col("c_vec"), F.col("c_vec")).cast("double"))
    cos = F.when(den > 0, dot / den).otherwise(F.lit(0.0))
    scored = joined.where(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", cos.alias("qcos"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id").asc()
    )
    out_cols = ["query_id", "neighbor_id"] + (["rn"] if keep_rank else [])
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            *out_cols,
            # half-up at 6dp via exact double ops (see quantize_vec)
            (
                F.floor(F.col("qcos") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
            ).alias("qcos"),
        )
    )


def cosine_topk_quantized(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_rank: bool = False,
) -> DataFrame:
    """Exact top-k over QUANTIZED cosine: vectors round to integer grids
    (1/scale resolution), similarity = int-dot / (sqrt(int-norm²) ×
    sqrt(int-norm²)).  Every step is either exact integer arithmetic or
    a single correctly-rounded IEEE op, so the scores — and therefore
    the top-k membership — are bit-identical across engines: this is
    the fully value-hash-verifiable member of the similarity family
    (float cosine ranking is summation-order sensitive; this isn't).

    Same plan shape as ``cosine_topk``: queries broadcast, corpus
    streams once, per-query window top-k.  Quantization also mirrors
    the production int8-quantized serving layout (dot products on
    integer codes, norms precomputable per row)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_vec(F.col(vec_col), scale).alias("q_vec"),
    )
    c = vecs.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_vec(F.col(vec_col), scale).alias("c_vec"),
    )
    return _quantized_score_topk(
        c.crossJoin(F.broadcast(q)), k, keep_rank=keep_rank
    )


def _dot(a, b):
    """Exact-order fold: sum of elementwise products in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries`` (small) is broadcast; candidates never shuffle.  Returns
    (query_id, neighbor_id, cosine) with a deterministic row set (ties
    broken by neighbor id)."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = vecs.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_batch(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def planes_for_corpus(
    n: int,
    target_bucket: int = 32,
    min_planes: int = 6,
    max_planes: int = 24,
) -> int:
    """Scale-aware plane count: ``ceil(log2(n / target_bucket))`` clamped
    to [min_planes, max_planes] — SCALE.md's ``num_planes ∝ log(corpus)``
    rule as the DEFAULT rather than an operating-manual step (VERDICT r05
    item #3).

    Hyperplane buckets are near-uniform (corpus / 2^planes), so with a
    FIXED plane count candidate pairs grow ~n²/2^planes: measured ×30
    saturation was 32.9× wall-clock for q_dedup_embed_int at planes=6,
    and deriving planes from n bought an 11.6× reduction (SCALE.md
    "Fixed-plane LSH saturation").  Holding the mean bucket near
    ``target_bucket`` keeps per-bucket candidate work O(target_bucket)
    and total candidates O(n·target_bucket) — linear in the corpus.  The
    clamp floor keeps tiny corpora at the oracled sf-scale setting
    (2^6 = 64 buckets); the ceiling bounds signature cost on the
    trillion-row end (2^24 buckets ≈ 16M — at that point num_tables
    OR-amplification, not finer buckets, is the recall knob)."""
    import math

    if n <= target_bucket:
        return min_planes
    return max(min_planes, min(max_planes, math.ceil(math.log2(n / target_bucket))))


def _deterministic_planes(num_planes: int, dim: int) -> list[list[float]]:
    """+-1 hyperplanes seeded from md5(plane, dim-index) — stable across
    runs, machines, and engines."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def hyperplane_buckets(
    vecs: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector: bit p = sign(v . plane_p).

    Bucket computation is per-row Column arithmetic — at scale this is a
    single scan producing a (id, bucket) index to join ANN probes
    against."""
    planes = _deterministic_planes(num_planes, dim)
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        # one expr string per plane (the per-element F.lit py4j calls
        # dominate plan build at planes x dim literals — the
        # ivf_topk_int lesson); ±1.0 doubles render exactly
        plane_col = F.expr(
            "array(" + ",".join(f"{v:.1f}D" for v in plane) + ")"
        )
        bit = F.when(_dot(F.col(vec_col), plane_col) > 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        bucket = bucket + bit.cast("long") * (2**p)
    return vecs.select(F.col(id_col), bucket.alias("bucket"))


def ann_topk_int(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 6,
    dim: int = 64,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hyperplane-LSH ANN with FULLY integer bucketing and scoring — the
    bucketed (100 TB-path) ANN under the complete value-hash gate, not
    just the brute-force baseline (q_sim_topk_int).

    ±1 hyperplanes make the sign test an integer sum of quantized
    components (no float dot anywhere); the bucket id is the 6-bit sign
    pattern; candidates come from a bucket equi-join (never all-pairs);
    scoring is the quantized cosine of ``cosine_topk_quantized``
    (shared ``_quantized_score_topk`` tail — rounding/tie-break/zero
    handling cannot drift between the two paths).  Everything is
    integer arithmetic or single correctly-rounded IEEE ops ⇒
    engine-exact membership AND scores."""
    planes = _deterministic_planes(num_planes, dim)

    def bucket_of(vcol):
        b = F.lit(0).cast("long")
        for p, plane in enumerate(planes):
            pl = F.expr(
                "array(" + ",".join(f"{int(v)}L" for v in plane) + ")"
            )
            d = _int_dot(vcol, pl)
            b = b + F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0))
        return b

    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_vec(F.col(vec_col), scale).alias("q_vec"),
    ).withColumn("bucket", bucket_of(F.col("q_vec")))
    c = vecs.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_vec(F.col(vec_col), scale).alias("c_vec"),
    ).withColumn("bucket", bucket_of(F.col("c_vec")))
    return _quantized_score_topk(c.join(F.broadcast(q), "bucket"), k)


def centroid_d2(vcol_sql: str, cent: list[int]) -> Column:
    """Exact integer squared-L2 distance from the BIGINT-array column
    named ``vcol_sql`` to one literal centroid.  ONE expr string per
    centroid: per-element F.lit plus the zip_with/aggregate lambda
    wrappers cost a py4j round-trip each and dominated PLAN BUILD
    (measured 5.9 s of a 7.3 s query at 16 cells x 64 dims x 2 uses)."""
    cl = "array(" + ",".join(f"{v}L" for v in cent) + ")"
    return F.expr(
        f"aggregate(zip_with({vcol_sql}, {cl},"
        " (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def ivf_topk_int(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    num_probe: int = 3,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_rank: bool = False,
) -> DataFrame:
    """IVF ANN with FULLY integer cell routing and scoring — the
    inverted-file layout under the complete value-hash gate (the float
    twin ``ivf_topk`` stays rows-only by policy; this extends the
    q_sim_ann_int device to the coarse-quantizer path).

    Coarse centroids are the ``num_cells`` corpus vectors with smallest
    ``md5(id)`` (content-free, reproducible — same seeding rule as
    ``coarse_centroids`` but WITHOUT Lloyd refinement, so both engines
    can name the identical centroid set), quantized to the integer grid.
    Cell assignment is argmin over exact integer squared-L2 distances
    with a smallest-cell tie-break; queries probe their ``num_probe``
    nearest cells by the same integer distance.  Candidates come from
    the cell equi-join (each corpus row lives in exactly ONE cell — the
    100 TB shuffle/storage key); scoring is the shared quantized-cosine
    tail (``_quantized_score_topk``).

    The per-centroid distances are pure Catalyst expressions over
    literal centroid arrays (no UDF anywhere): argmin =
    ``array_position(dists, array_min(dists))``, probe ranking =
    ``array_sort`` over (dist, cell) structs.  Int64 headroom: at scale
    1e6 and |x| ≤ ~4, a 64-dim squared distance ≤ ~4e15 ≥ fits, and the
    test data is unit-ish (≤ ~2.6e14)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_vec(F.col(vec_col), scale).alias("q_vec"),
    )
    c = vecs.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_vec(F.col(vec_col), scale).alias("c_vec"),
    )
    seeds = (
        c.select(
            "neighbor_id",
            "c_vec",
            F.md5(F.col("neighbor_id").cast("string")).alias("h"),
        )
        .orderBy("h", "neighbor_id")
        .limit(num_cells)
        .collect()
    )
    cents = [[int(x) for x in r["c_vec"]] for r in seeds]

    def _dists(vcol_sql: str):
        return F.array(*[centroid_d2(vcol_sql, cent) for cent in cents])

    # Two-step projection so the 16-distance array is computed ONCE per
    # row (CollapseProject keeps non-cheap aliases used twice; physical
    # subexpression elimination backstops it), then argmin over it.
    cand = (
        c.withColumn("dists", _dists("c_vec"))
        .withColumn(
            "cell",
            (
                F.array_position(F.col("dists"), F.array_min(F.col("dists")))
                - 1
            ).cast("long"),
        )
        .drop("dists")
    )
    probe_structs = F.array_sort(
        F.array(
            *[
                F.struct(
                    centroid_d2("q_vec", cent).alias("d"),
                    F.lit(i).cast("long").alias("c"),
                )
                for i, cent in enumerate(cents)
            ]
        )
    )
    qprobe = q.withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(probe_structs, 1, num_probe), lambda s: s["c"]
            )
        ),
    ).select("query_id", "q_vec", "cell")
    return _quantized_score_topk(
        cand.join(F.broadcast(qprobe), "cell"), k, keep_rank=keep_rank
    )


def near_dup_pairs(
    vecs: DataFrame,
    threshold: float = 0.35,
    num_tables: int = 6,
    num_planes: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via OR-amplified hyperplane
    LSH: ``num_tables`` independent bucket tables of ``num_planes`` planes
    each; a pair is a candidate if it collides in ANY table (recall
    amplification), then exact cosine filters at ``threshold``.

    ``num_planes=None`` (the default) derives the plane count from the
    corpus size via ``planes_for_corpus`` — the SCALE.md ∝ log n rule as
    an automatic property of the plan; pass a literal to pin the bucket
    layout (the oracled sf-scale queries do, so their inlined-plane SQL
    twins stay bit-stable).

    Scale shape: vectors shuffle once per TABLE into their buckets; each
    bucket scores all its pairs in one blockwise BLAS matmul
    (applyInPandas); pairs colliding in several tables collapse via a
    final max() aggregation — never all-pairs, never a per-candidate
    vector re-join."""
    import numpy as _np
    from pyspark.sql.types import ArrayType, LongType

    if num_planes is None:
        num_planes = planes_for_corpus(vecs.count())
    planes = _np.array(
        [
            [
                [
                    1.0
                    if int(
                        hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()[:2], 16
                    )
                    % 2
                    == 0
                    else -1.0
                    for d in range(dim)
                ]
                for p in range(num_planes)
            ]
            for t in range(num_tables)
        ]
    )  # (tables, planes, dim)
    weights = 2 ** _np.arange(num_planes)

    @F.pandas_udf(ArrayType(LongType()))
    def table_buckets(v: pd.Series) -> pd.Series:
        # one matmul computes every (table, plane) dot for the whole
        # Arrow batch; an HOF-fold formulation is interpreted per element
        # and was the dominant cost of this operator.
        m = _np.stack(v.to_numpy()).astype(_np.float64)  # (n, dim)
        dots = _np.einsum("nd,tpd->ntp", m, planes)  # (n, tables, planes)
        buckets = ((dots > 0) * weights).sum(axis=2)  # (n, tables)
        return pd.Series(list(buckets.astype(_np.int64)))

    bucketed = vecs.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.posexplode(table_buckets(F.col(vec_col))).alias("t", "bkt"),
    )

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        # blockwise all-pairs cosine inside one bucket: a single BLAS
        # matmul scores every pair.  The alternative — expand id pairs,
        # re-join the vectors twice, score per pair — shuffles each
        # 64-float vector once per CANDIDATE (measured ~5s vs ~1s here);
        # this shape shuffles each vector once per TABLE.
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        pdf = pdf.sort_values("id")
        m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (m / norms) @ (m / norms).T
        ids = pdf["id"].to_numpy()
        iu = np.triu_indices(len(ids), 1)
        keep = sims[iu] >= threshold
        return pd.DataFrame(
            {
                "id_a": ids[iu[0][keep]],
                "id_b": ids[iu[1][keep]],
                "cosine": np.round(sims[iu][keep], 6),
            }
        )

    scored = bucketed.groupBy("t", "bkt").applyInPandas(
        score_bucket, "id_a long, id_b long, cosine double"
    )
    # a pair colliding in several tables is scored once per table with
    # bit-potentially-different BLAS sums; max() collapses deterministically.
    return scored.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def ann_topk_bucketed(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only same-bucket candidates.

    At 100 TB the bucket equi-join replaces the cross join: shuffle keys
    are bucket ids, candidate lists are bucket-sized.  ``num_planes=None``
    derives the plane count from corpus size (``planes_for_corpus``);
    oracled queries pass a literal."""
    from pyspark.sql import Window

    if num_planes is None:
        num_planes = planes_for_corpus(vecs.count())
    b = hyperplane_buckets(vecs, num_planes, dim, id_col, vec_col)
    cand = vecs.join(b, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        "bucket",
    )
    qb = queries.join(b, id_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "bucket"
    )
    scored = (
        cand.join(F.broadcast(qb), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_batch(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def kmeans_refine(
    vecs: DataFrame,
    init_centroids: "np.ndarray",
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Lloyd iterations over spherical k-means, distributed and
    deterministic: each round assigns every vector to its nearest
    centroid (one Arrow-batched pandas UDF, no shuffle), computes the
    per-cell mean via ``applyInPandas`` (one shuffle keyed on cell),
    and collects only the ``(cells, dim)`` centroid matrix to the
    driver — the classic small-state iterative-refinement pattern
    (driver holds KB, executors hold TB).  Determinism: stable argmin
    tie-break on cell index and an id-sorted in-group sum, so results
    are independent of partitioning.  Empty cells keep their previous
    centroid."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    centroids = init_centroids.astype(np.float64)
    num_cells, _dim = centroids.shape
    out_schema = StructType(
        [
            StructField("cell", LongType()),
            StructField("mean_vec", ArrayType(DoubleType())),
        ]
    )
    for _ in range(max(iters, 0)):
        cn = np.linalg.norm(centroids, axis=1, keepdims=True)
        cn[cn == 0] = 1.0
        cnorm = centroids / cn

        @F.pandas_udf(LongType())
        def assign(v: pd.Series) -> pd.Series:
            m = np.stack(v.to_numpy()).astype(np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (m / norms) @ cnorm.T
            return pd.Series(np.argmax(sims, axis=1).astype(np.int64))

        def cell_mean(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(id_col)
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            return pd.DataFrame(
                {
                    "cell": [int(pdf["cell"].iloc[0])],
                    "mean_vec": [m.mean(axis=0).tolist()],
                }
            )

        rows = (
            vecs.select(
                F.col(id_col), F.col(vec_col), assign(F.col(vec_col)).alias("cell")
            )
            .groupBy("cell")
            .applyInPandas(cell_mean, out_schema)
            .collect()
        )
        nxt = centroids.copy()
        for r in rows:
            nxt[r["cell"]] = np.asarray(r["mean_vec"], dtype=np.float64)
        centroids = nxt
    return centroids


def coarse_centroids(
    vecs: DataFrame,
    num_cells: int,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """L2-normalized coarse-quantizer centroids: seeds are the
    ``num_cells`` corpus vectors with smallest ``md5(id)`` (content-free,
    reproducible), refined by ``refine_iters`` distributed Lloyd rounds
    (``kmeans_refine``) — deterministic given the data, no random state.
    Shared by ``ivf_topk`` and the IVF+PQ combo (``pq.ivfpq_topk``)."""
    centroid_rows = (
        vecs.select(
            F.col(id_col),
            F.col(vec_col),
            F.md5(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", id_col)
        .limit(num_cells)
        .collect()
    )
    centroids = np.stack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in centroid_rows]
    )
    if refine_iters > 0:
        centroids = kmeans_refine(
            vecs, centroids, iters=refine_iters, id_col=id_col, vec_col=vec_col
        )
    cnorm = np.linalg.norm(centroids, axis=1, keepdims=True)
    cnorm[cnorm == 0] = 1.0
    return centroids / cnorm


def ivf_topk(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    num_probe: int = 2,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: partition vectors into cells around k-means
    centroids (``coarse_centroids``), probe only the ``num_probe``
    nearest cells per query.  Assignment and probing are one numpy
    pandas UDF each; scoring joins only within probed cells — never
    all-pairs."""
    from pyspark.sql import Window
    from pyspark.sql.types import ArrayType, LongType

    centroids_n = coarse_centroids(
        vecs, num_cells, refine_iters, id_col=id_col, vec_col=vec_col
    )

    @F.pandas_udf(ArrayType(LongType()))
    def nearest_cells(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (m / norms) @ centroids_n.T  # (n, cells)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :num_probe]
        return pd.Series(list(order.astype(np.int64)))

    cand = vecs.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        nearest_cells(F.col(vec_col)).getItem(0).alias("cell"),
    )
    qprobe = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(nearest_cells(F.col(vec_col))).alias("cell"),
    )
    scored = (
        cand.join(F.broadcast(qprobe), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_batch(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def gram_matrix(
    vecs: DataFrame, vec_col: str = "embedding"
) -> "np.ndarray":
    """Distributed Gram matrix Σ xᵀx over an embedding column.

    Each Arrow batch reduces to ONE partial (dim × dim) matrix inside a
    ``mapInPandas`` (matmul in numpy, so the corpus never leaves the
    executors un-aggregated); partials are exploded to (i, j, v) rows
    and summed in a map-side-combinable aggregation.  The driver
    receives dim² doubles — KB of state regardless of corpus size, the
    sketch pattern that makes covariance/PCA feasible at 100 TB.

    Note: the cross-partition float-sum order is engine-scheduled, so
    the result is deterministic only to float tolerance — callers that
    need bit-stability must quantize (the PCA below rounds loadings)."""
    from pyspark.sql.types import ArrayType, DoubleType as _D, StructField, StructType

    schema = StructType([StructField("flat", ArrayType(_D()))])

    def partial_gram(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf.iloc[:, 0].to_numpy()).astype(np.float64)
            yield pd.DataFrame({"flat": [(m.T @ m).ravel().tolist()]})

    parts = vecs.select(vec_col).mapInPandas(partial_gram, schema)
    summed = (
        parts.select(F.posexplode("flat").alias("ij", "v"))
        .groupBy("ij")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    if not summed:
        return np.zeros((0, 0))
    n2 = max(r["ij"] for r in summed) + 1
    dim = int(round(n2 ** 0.5))
    g = np.zeros(n2)
    for r in summed:
        g[r["ij"]] = r["v"]
    return g.reshape(dim, dim)


def gram_matrix_int(
    vecs: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """Integer-exact Gram matrix over QUANTIZED embeddings — the
    hash-verifiable sibling of ``gram_matrix``.

    Same distributed shape (one partial dim×dim matmul per Arrow batch,
    (i,j,v) map-side-combinable sum, dim² scalars out) but on integer
    grids: ``floor(x·scale + 0.5)`` codes make every partial product and
    every cross-partition sum exact integer arithmetic, so the result is
    bit-identical regardless of partitioning, scheduling, or engine —
    the property the float version explicitly lacks.  Choose ``scale``
    so n·(scale·max|x|)² < 2^63 (scale 1e3, unit vectors: safe past
    1e9 rows).  Returns (i, j, g) with 0-based indices."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    schema = StructType([StructField("flat", ArrayType(LongType()))])

    def partial_gram(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf.iloc[:, 0].to_numpy()).astype(np.float64)
            qm = np.floor(m * scale + 0.5).astype(np.int64)
            yield pd.DataFrame({"flat": [(qm.T @ qm).ravel().tolist()]})

    parts = vecs.select(vec_col).mapInPandas(partial_gram, schema)
    return (
        parts.select(F.posexplode("flat").alias("ij", "v"))
        .groupBy("ij")
        .agg(F.sum("v").alias("g"))
        .select(
            (F.col("ij") / F.lit(dim)).cast("long").alias("i"),
            F.pmod("ij", F.lit(dim)).cast("long").alias("j"),
            "g",
        )
    )


def pca_top_component(
    vecs: DataFrame,
    vec_col: str = "embedding",
    iters: int = 50,
) -> DataFrame:
    """Top principal direction of the (uncentered-then-centered)
    embedding distribution via the Gram-matrix sketch + driver-side
    power iteration.

    Distributed part: one pass for the mean (exact enough at double),
    one pass for Σxᵀx; covariance C = G/n − μμᵀ is assembled on the
    driver (dim² doubles).  Power iteration on a 64×64 matrix is
    microseconds — the executors did the data-sized work.  Sign is
    canonicalized (first max-|loading| entry positive) and loadings are
    rounded so the output is stable to float tolerance.

    Caveat (standard perturbation theory): on a near-isotropic spectrum
    the top eigenVECTOR is ill-conditioned — loadings wobble with float
    summation order — while the top eigenVALUE (also emitted, via the
    Rayleigh quotient) stays stable.  Consumers profiling real embedding
    distributions (which are strongly anisotropic) get both."""
    spark = vecs.sparkSession
    n = vecs.count()
    if n == 0:
        return spark.createDataFrame([], "dim int, loading double")
    g = gram_matrix(vecs, vec_col)
    mu = np.asarray(
        vecs.select(
            F.posexplode(vec_col).alias("i", "x")
        )
        .groupBy("i")
        .agg(F.sum("x").alias("s"))
        .orderBy("i")
        .select("s")
        .collect()
    ).ravel() / n
    cov = g / n - np.outer(mu, mu)
    v = np.ones(cov.shape[0]) / np.sqrt(cov.shape[0])
    for _ in range(iters):
        v = cov @ v
        nv = np.linalg.norm(v)
        if nv == 0:
            break
        v = v / nv
    # canonical sign: entry with max |loading| is positive
    k = int(np.argmax(np.abs(v)))
    if v[k] < 0:
        v = -v
    eigval = float(v @ cov @ v)  # Rayleigh quotient
    rows = [
        (i + 1, round(float(x), 6), round(eigval, 6))
        for i, x in enumerate(v)
    ]
    return spark.createDataFrame(
        rows, "dim int, loading double, top_eigenvalue double"
    )


def near_dup_pairs_int(
    vecs: DataFrame,
    threshold_milli: int = 350,
    num_tables: int = 3,
    num_planes: int | None = None,
    dim: int = 64,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Integer-exact twin of ``near_dup_pairs`` (round 3): OR-amplified
    hyperplane LSH where BOTH the bucketing sign test and the cosine are
    quantized-integer arithmetic, so candidate membership AND scores are
    bit-identical across engines — the embedding near-dup operator under
    the full value-hash gate (the float version is rows-only by policy).

    ±1 plane components make bucket bit p the sign of an exact integer
    sum; a pair is a candidate if it collides in ANY of ``num_tables``
    tables (recall amplification); the quantized cosine (single IEEE
    division chain, half-up milli rounding) filters at
    ``threshold_milli``.  Scale shape mirrors the float path: sign sums
    come from ONE posexplode + broadcast-plane-table join with map-side
    partial aggregation (measured ~5× faster than 18 per-row HOF folds,
    and the per-(vid, t, p) partials combine before the exchange), then
    pair dedup by key and ONE vector re-join for scoring (the pair set
    is tiny next to the corpus; the float path's in-bucket matmul
    variant trades that join for applyInPandas — both shapes
    documented).

    Scale guards — two distinct failure modes, two distinct knobs:
    hyperplane-LSH buckets are near-UNIFORM (corpus / 2^planes), so as
    the corpus grows every bucket fattens together and candidate pairs
    grow quadratically — the remedy is ``num_planes`` ∝ log(corpus)
    (more planes = finer buckets), NOT a cap, which would silently
    empty a saturated-but-healthy index.  ``max_bucket`` guards the
    OTHER mode: duplicate pathology (verbatim copies pile into the same
    bucket regardless of plane count — measured: un-decorrelated ×30
    replicas made pair volume quadratic in copy count); a cap bounds
    that blast radius, and the hash oracles replicate it exactly when
    set.

    ``num_planes=None`` (the default) derives the plane count from the
    corpus size via ``planes_for_corpus`` — VERDICT r05 item #3: the
    ∝ log n remedy is now the default, not an operating-manual step.
    The oracled sf-scale queries pass ``num_planes=6`` explicitly (their
    DuckDB twins inline the plane literals)."""
    import hashlib as _hashlib

    spark = vecs.sparkSession
    if num_planes is None:
        num_planes = planes_for_corpus(vecs.count())
    qv = vecs.select(
        F.col(id_col).alias("vid"),
        quantize_vec(F.col(vec_col), scale).alias("v"),
    )
    plane_rows = [
        (
            t,
            p,
            d,
            1
            if int(_hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()[:2], 16) % 2
            == 0
            else -1,
        )
        for t in range(num_tables)
        for p in range(num_planes)
        for d in range(dim)
    ]
    pl = spark.createDataFrame(plane_rows, "t int, p int, i int, s long")
    comp = qv.select("vid", F.posexplode("v").alias("i", "x"))
    dots = (
        comp.join(F.broadcast(pl), "i")
        .groupBy("vid", "t", "p")
        .agg(F.sum(F.col("s") * F.col("x")).alias("d"))
    )
    tabled = dots.groupBy("vid", "t").agg(
        F.sum(
            F.when(
                F.col("d") > 0, F.expr("CAST(shiftleft(1, p) AS BIGINT)")
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("bucket")
    )
    if max_bucket is not None:
        ok = (
            tabled.groupBy("t", "bucket")
            .agg(F.count(F.lit(1)).alias("bn"))
            .where(F.col("bn") <= max_bucket)
            .select("t", "bucket")
        )
        tabled = tabled.join(ok, ["t", "bucket"], "left_semi")
    a = tabled.select(F.col("vid").alias("id_a"), "t", "bucket")
    bb = tabled.select(F.col("vid").alias("id_b"), "t", "bucket")
    pairs = (
        a.join(bb, ["t", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # norms precompute once per VECTOR (corpus-sized), not per pair —
    # the pair join then needs a single integer-dot fold per candidate
    normed = qv.withColumn("n2", _int_dot(F.col("v"), F.col("v")))
    va = normed.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("n2").alias("na")
    )
    vb = normed.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("n2").alias("nb")
    )
    j = pairs.join(va, "id_a").join(vb, "id_b")
    dot = _int_dot(F.col("va"), F.col("vb")).cast("double")
    den = F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    cos_milli = F.floor(
        F.when(den > 0, dot / den).otherwise(F.lit(0.0)) * F.lit(1000.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        j.select("id_a", "id_b", cos_milli.alias("cos_milli"))
        .where(F.col("cos_milli") >= threshold_milli)
    )


def lsh_amplification_table(
    vecs: DataFrame,
    threshold_milli: int = 350,
    num_tables: int = 3,
    num_planes: int | None = None,
    dim: int = 64,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """OR-amplification tuning table for the embedding LSH (the
    ``num_tables`` recall knob SCALE.md documents, as a first-class
    measured operator — the embedding-side complement of the minhash
    band/row q_lsh_tuning): for T = 1..num_tables, report how many
    candidate pairs the first T tables surface, how many of them score
    >= ``threshold_milli`` (confirmed near-dups), and the CONFIRMED
    recall relative to the full num_tables configuration, in integer
    milli.

    Nested-prefix design: configuration T's candidate set is exactly
    the pairs whose MINIMUM colliding table index < T, so one signature
    computation and ONE scoring pass serve every configuration — the
    per-pair ``min_t`` rides the pair dedup aggregate (q_lsh_tuning's
    signatures-computed-once posture).  Recall here is measured against
    the full OR-amplified set, which is the operational question ("what
    does dropping a table cost?"); ABSOLUTE recall needs a ground-truth
    sample (q_sim_recall's device) because exact all-pairs truth is
    corpus-quadratic by definition.

    Scale: identical cost profile to ``near_dup_pairs_int`` — the
    posexplode + broadcast-plane join with map-side partials, bucket
    equi-joins per table, one vector re-join for the (tiny) pair set;
    output is num_tables rows.  ``num_planes=None`` derives the plane
    count from the corpus via ``planes_for_corpus`` (the scale-aware
    default — fixed planes saturate quadratically as the corpus grows);
    the oracled sf-scale query passes 6 explicitly, matching its DuckDB
    twin's inlined literals."""
    import hashlib as _hashlib

    spark = vecs.sparkSession
    if num_planes is None:
        num_planes = planes_for_corpus(vecs.count())
    qv = vecs.select(
        F.col(id_col).alias("vid"),
        quantize_vec(F.col(vec_col), scale).alias("v"),
    )
    plane_rows = [
        (
            t,
            p,
            d,
            1
            if int(_hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()[:2], 16) % 2
            == 0
            else -1,
        )
        for t in range(num_tables)
        for p in range(num_planes)
        for d in range(dim)
    ]
    pl = spark.createDataFrame(plane_rows, "t int, p int, i int, s long")
    comp = qv.select("vid", F.posexplode("v").alias("i", "x"))
    dots = (
        comp.join(F.broadcast(pl), "i")
        .groupBy("vid", "t", "p")
        .agg(F.sum(F.col("s") * F.col("x")).alias("d"))
    )
    tabled = dots.groupBy("vid", "t").agg(
        F.sum(
            F.when(
                F.col("d") > 0, F.expr("CAST(shiftleft(1, p) AS BIGINT)")
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("bucket")
    )
    a = tabled.select(F.col("vid").alias("id_a"), "t", "bucket")
    bb = tabled.select(F.col("vid").alias("id_b"), "t", "bucket")
    pairs = (
        a.join(bb, ["t", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.min("t").alias("min_t"))
    )
    normed = qv.withColumn("n2", _int_dot(F.col("v"), F.col("v")))
    va = normed.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"),
        F.col("n2").alias("na"),
    )
    vb = normed.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"),
        F.col("n2").alias("nb"),
    )
    j = pairs.join(va, "id_a").join(vb, "id_b")
    dot = _int_dot(F.col("va"), F.col("vb")).cast("double")
    den = F.sqrt(F.col("na").cast("double")) * F.sqrt(
        F.col("nb").cast("double")
    )
    cos_milli = F.floor(
        F.when(den > 0, dot / den).otherwise(F.lit(0.0)) * F.lit(1000.0)
        + F.lit(0.5)
    ).cast("long")
    scored = j.select("id_a", "id_b", "min_t", cos_milli.alias("cos_milli"))
    configs = spark.range(1, num_tables + 1).select(
        F.col("id").cast("long").alias("num_tables")
    )
    # Aggregate from the configs relation via LEFT join so a
    # configuration whose first T tables surface ZERO candidate pairs
    # still emits an explicit (T, 0, 0) row — groupBy over the pair set
    # alone omits empty groups, silently dropping tuning-table rows
    # (ADVICE r07).  The DuckDB oracle mirrors the same LEFT join.
    per_t_nonempty = (
        scored.crossJoin(F.broadcast(configs))
        .where(F.col("min_t") < F.col("num_tables"))
        .groupBy("num_tables")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum((F.col("cos_milli") >= threshold_milli).cast("long"))
            .cast("long")
            .alias("n_confirmed"),
        )
    )
    per_t = configs.join(per_t_nonempty, "num_tables", "left").select(
        "num_tables",
        F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce("n_confirmed", F.lit(0)).cast("long").alias("n_confirmed"),
    )
    full = scored.agg(
        F.sum((F.col("cos_milli") >= threshold_milli).cast("long"))
        .cast("long")
        .alias("full_confirmed")
    )
    return per_t.crossJoin(F.broadcast(full)).select(
        "num_tables",
        "n_candidates",
        "n_confirmed",
        F.when(
            F.col("full_confirmed") > 0,
            F.expr("(n_confirmed * 1000) div full_confirmed"),
        )
        .otherwise(F.lit(1000))
        .cast("long")
        .alias("recall_vs_full_milli"),
    )
