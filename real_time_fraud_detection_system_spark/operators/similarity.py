"""Similarity search over the embeddings table (array<float> vectors).

  * ann_cosine_topk      -- brute-force cosine top-k for a query set: the
                            exactness baseline. Query side is broadcast, so
                            the scan side streams once with no shuffle; at
                            100 TB this is the map-side-join ANN pattern.
  * embedding_near_dup   -- all-pairs cosine >= threshold on the corpus;
                            quadratic verification primitive (use the LSH
                            variant for scale).
  * ann_lsh_bucketed     -- sign-random-projection LSH: deterministic
                            hyperplanes derived from md5 (reproducible on
                            any engine/cluster with no RNG state), bucket
                            by bit signature, search within bucket. The
                            scale path: shuffle keyed by bucket signature,
                            candidate sets shrink exponentially with bits.

All vector math is double-precision. Cosines and single-table
signatures are Catalyst higher-order functions (transform/aggregate);
the multi-table semantic-dedup signatures run as an Arrow-batched
numpy kernel (sem_signatures_udf) that replays the identical
left-to-right IEEE fold, so every rounded value still agrees
bit-for-bit with the DuckDB oracle's plain SQL.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, spread
from ._guards import guard_quadratic

TOPK = 5
N_QUERIES = 5  # vec_id < 5 are the query vectors
COSINE_THRESHOLD = 0.4
LSH_PLANES = 8

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings widened to double with precomputed L2 norms."""
    return _widen(spread(load_table(spark, sf_dir, "embeddings"), "vec_id"))


def _widen(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding) rows as (vec_id, emb double[], norm)."""
    return emb.selectExpr(
        "vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb",
    ).withColumn("norm", F.expr("sqrt(" + _DOT.format(a="emb", b="emb") + ")"))


_DUCK_VECTORS = """
  SELECT vec_id,
         CAST(embedding AS DOUBLE[]) AS emb,
         sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                                      i -> CAST(embedding[i] AS DOUBLE)
                                           * CAST(embedding[i] AS DOUBLE))))
           AS norm
  FROM embeddings
"""

_DUCK_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"
)


# --------------------------------------------------------------------------
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK} cosine neighbours for each query vector (vec_id <
    {N_QUERIES}), self excluded. Ranking uses the ROUNDED cosine with a
    vec_id tie-break so ordering is reproducible across engines."""
    vecs = _vectors(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    scored = (
        vecs.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "cosine",
            F.round(
                F.expr(_DOT.format(a="q_emb", b="emb"))
                / (F.col("q_norm") * F.col("norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
        .orderBy("q_id", "rank")
    )


ANN_COSINE_TOPK_SQL = f"""
WITH vecs AS ({_DUCK_VECTORS}),
scored AS (
  SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
         round({_DUCK_DOT.format(a='q.emb', b='v.emb')}
               / (q.norm * v.norm), 6) AS cosine
  FROM vecs q, vecs v
  WHERE q.vec_id < {N_QUERIES} AND v.vec_id != q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT q_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {TOPK}
ORDER BY q_id, rank
"""


# --------------------------------------------------------------------------
def embedding_near_dup(
    spark: SparkSession, sf_dir: str, max_rows: int | None = None
) -> DataFrame:
    """All-pairs cosine near-duplicates at >= {COSINE_THRESHOLD}.
    The threshold compare runs on the rounded value in both engines so
    last-ulp summation differences cannot flip membership.

    QUADRATIC verification primitive -- guarded by ``guard_quadratic``;
    ``ann_lsh_bucketed`` / ``ann_ivf_topk`` are the scale paths."""
    vecs = _vectors(spark, sf_dir)
    guard_quadratic(
        vecs, "embedding_near_dup", "ann_lsh_bucketed/ann_ivf_topk", max_rows
    )
    a = vecs.select(
        F.col("vec_id").alias("a_id"),
        F.col("emb").alias("a_emb"),
        F.col("norm").alias("a_norm"),
    )
    b = vecs.select(
        F.col("vec_id").alias("b_id"),
        F.col("emb").alias("b_emb"),
        F.col("norm").alias("b_norm"),
    )
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cosine",
            F.round(
                F.expr(_DOT.format(a="a_emb", b="b_emb"))
                / (F.col("a_norm") * F.col("b_norm")),
                6,
            ),
        )
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .select("a_id", "b_id", "cosine")
        .orderBy("a_id", "b_id")
    )


EMBEDDING_NEAR_DUP_SQL = f"""
WITH vecs AS ({_DUCK_VECTORS})
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round({_DUCK_DOT.format(a='a.emb', b='b.emb')}
             / (a.norm * b.norm), 6) AS cosine
FROM vecs a, vecs b
WHERE a.vec_id < b.vec_id
  AND round({_DUCK_DOT.format(a='a.emb', b='b.emb')}
            / (a.norm * b.norm), 6) >= {COSINE_THRESHOLD}
ORDER BY a_id, b_id
"""


# --------------------------------------------------------------------------
LSH_MAX_DIM = 128  # hyperplane weights pre-materialized up to this dim


def _hyperplane_weights(plane: int, dims: int = LSH_MAX_DIM) -> list[float]:
    """Deterministic pseudo-random weight for (plane, dim i) in [-1, 1]:
    md5 of 'p<plane>:d<i>' -> first 8 hex digits -> uniform int -> scale.
    No RNG state, so identical on every engine, executor, and retry.

    Computed driver-side with hashlib (bit-identical to the SQL
    md5/conv/divide chain the DuckDB oracle still runs): evaluating md5
    inside the per-row lambda costs rows x dims x planes digests -- it
    was 100% of ann_lsh_bucketed's runtime at the 10x scale test."""
    import hashlib

    return [
        int(hashlib.md5(f"p{plane}:d{i}".encode()).hexdigest()[:8], 16)
        / 2147483647.5
        - 1.0
        for i in range(dims)
    ]


def lsh_signature_expr(
    emb_col: str, planes: int = LSH_PLANES, plane_offset: int = 0
) -> str:
    """Spark SQL: sign-random-projection bit signature of a vector.
    Weights are embedded as double literals (repr round-trips exactly);
    vectors beyond LSH_MAX_DIM dims would zip against nulls -- raise the
    constant rather than feeding longer embeddings. ``plane_offset``
    selects an independent hyperplane family (table t uses planes
    [t*planes, (t+1)*planes) of the md5 stream) for multi-table LSH."""
    bits = []
    for p in range(planes):
        w_lit = "array(" + ", ".join(
            repr(w) + "D" for w in _hyperplane_weights(plane_offset + p)
        ) + ")"
        proj = (
            f"aggregate(zip_with({emb_col}, "
            f"slice({w_lit}, 1, size({emb_col})), "
            f"(x, w) -> x * w), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: bucket vectors by sign-random-projection
    signature, then compute exact cosines only within each query's
    bucket. Returns per-query bucket neighbours at >= {COSINE_THRESHOLD}.
    Approximate (bucket misses are possible) -- the brute-force query
    above is the recall baseline; tests assert bucket recall."""
    vecs = _vectors(spark, sf_dir).withColumn(
        "sig", F.expr(lsh_signature_expr("emb"))
    )
    queries = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("sig").alias("q_sig"),
    )
    return (
        vecs.join(F.broadcast(queries), F.col("sig") == F.col("q_sig"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "cosine",
            F.round(
                F.expr(_DOT.format(a="q_emb", b="emb"))
                / (F.col("q_norm") * F.col("norm")),
                6,
            ),
        )
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine")
        .orderBy("q_id", "neighbor_id")
    )


def _duck_lsh_signature(emb_col: str, planes: int = LSH_PLANES) -> str:
    bits = []
    for p in range(planes):
        w = (
            f"(CAST(CAST('0x' || substr(md5('p{p}:d' || CAST(i - 1 AS VARCHAR)), 1, 8) "
            f"AS BIGINT) AS DOUBLE) / 2147483647.5 - 1.0)"
        )
        proj = (
            f"list_sum(list_transform(range(1, len({emb_col}) + 1), "
            f"i -> {emb_col}[i] * {w}))"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


ANN_LSH_BUCKETED_SQL = f"""
WITH vecs AS (
  SELECT vec_id, emb, norm, {_duck_lsh_signature('emb')} AS sig
  FROM ({_DUCK_VECTORS})
)
SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
       round({_DUCK_DOT.format(a='q.emb', b='v.emb')}
             / (q.norm * v.norm), 6) AS cosine
FROM vecs q JOIN vecs v ON q.sig = v.sig AND v.vec_id != q.vec_id
WHERE q.vec_id < {N_QUERIES}
ORDER BY q_id, neighbor_id
"""


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: the coarse-quantizer scale path. Centroids are
# a deterministic HASH SAMPLE of the corpus at a sqrt(n) rate: keep
# vec_id where md5(vec_id) % m == 0 with m = floor(sqrt(n)), so the
# centroid count K ~ n/m ~ sqrt(n) -- SUBLINEAR in the corpus (the IVF
# convention), broadcastable at any scale, without an iterative k-means
# fit (which would not be reproducible across engines). The md5-hex
# sampler is engine-portable (same trick as the LSH hyperplanes above)
# so the DuckDB oracle applies the identical rule. Each vector is
# assigned to its nearest-cosine centroid (one broadcast pass); each
# query probes its NPROBE nearest cells and computes exact cosines only
# over those cells' members. At 100 TB with n = 1e9: K ~ 31k centroids
# (a few MB broadcast), assignment is a map-side broadcast pass doing
# O(n*sqrt(n)) total dot products spread over all executors, the search
# shuffle is keyed by cell, and per-cell candidate lists are ~sqrt(n) --
# the classic IVF candidate-shrink.
NPROBE = 3

# Portable uniform bucket in [0, 2^32): first 8 md5 hex digits of the id.
# Spark and DuckDB spell it differently but hash identically.
_SPARK_ID_HASH = (
    "CAST(conv(substr(md5(CAST({id} AS STRING)), 1, 8), 16, 10) AS BIGINT)"
)
_DUCK_ID_HASH = (
    "CAST('0x' || substr(md5(CAST({id} AS VARCHAR)), 1, 8) AS BIGINT)"
)


def centroid_modulus(n: int) -> int:
    """Sampling modulus m = floor(sqrt(n)): keep-rate 1/m gives an
    expected centroid count of n/m ~ sqrt(n). floor(sqrt(double)) is
    bit-identical to DuckDB's floor(sqrt(count(*)))."""
    import math

    return max(1, int(math.floor(math.sqrt(float(n)))))


def _ivf_centroids(vecs: DataFrame, m: int):
    """Deterministic sqrt(n)-rate centroid sample, sorted by id (the
    kernel's tie-break order). Dims-bounded driver collect: K*dims*8B
    ~ 16 MB at n = 1e9."""
    rows = (
        vecs.filter(F.expr(_SPARK_ID_HASH.format(id="vec_id")) % m == 0)
        .select("vec_id", "emb")
        .orderBy("vec_id")
        .collect()
    )
    return [r["vec_id"] for r in rows], [r["emb"] for r in rows]


def _nearest_cells_udf(cent_ids, cent_embs, n: int):
    """Arrow-batched nearest-centroid kernel: for each vector, the
    ``n`` nearest-cosine centroid ids in rank order. Replaces the
    |corpus| x K crossJoin + per-vector window (89M interpreted-lambda
    dot products and a corpus-sized shuffle at the 100x scale test --
    521 s) with one shuffle-free scan pass over the corpus.

    BIT-EXACT vs the DuckDB oracle by the sem_signatures_udf
    construction: one vectorized add per dimension in ascending order
    replays the identical left-to-right IEEE fold as SQL aggregate()
    and DuckDB list_sum, and BOTH norms are computed from the same
    fold inside the kernel -- so the raw cosine doubles agree
    bit-for-bit and cell ranking needs no rounding at all. Ties (the
    replica corpus duplicates directions, so bit-equal cosines are
    common) break by ascending c_id on both engines: centroids enter
    the kernel sorted by c_id and the argsort is stable."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    C = np.asarray(cent_embs, dtype=np.float64)  # (K, dims), c_id asc
    cid = np.asarray(cent_ids, dtype=np.int64)
    acc_c = np.zeros(C.shape[0])
    for i in range(C.shape[1]):  # ascending dims = the fold order
        acc_c = acc_c + C[:, i] * C[:, i]
    c_norm = np.sqrt(acc_c)

    @pandas_udf("array<bigint>")
    def cells(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:  # np.stack rejects an empty batch
            return pd.Series([], dtype=object)
        E = np.stack(emb.to_numpy())  # (rows, dims) float64
        acc = np.zeros((E.shape[0], C.shape[0]))
        acc_n = np.zeros(E.shape[0])
        # in-place += into preallocated buffers: the per-dim adds are
        # the same elementwise IEEE ops as `acc = acc + x`, so values
        # stay bit-identical, but the loop stops allocating two
        # (rows x K) temporaries per dimension (measured ~2x on the
        # assignment pass at the 100x replica)
        tmp = np.empty_like(acc)
        for i in range(E.shape[1]):
            np.multiply(E[:, i : i + 1], C[:, i], out=tmp)
            acc += tmp
            acc_n += E[:, i] * E[:, i]
        cos = acc / (np.sqrt(acc_n)[:, None] * c_norm[None, :])
        order = np.argsort(-cos, axis=1, kind="stable")[:, :n]
        return pd.Series(list(cid[order]))

    return cells


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed top-{TOPK}: probe {NPROBE} nearest cells per query.
    Approximate (cell misses possible); ann_cosine_topk is the recall
    baseline and ``ann_recall_eval`` measures the gap. Cell assignment
    ranks on the RAW bit-exact cosine (kernel fold == DuckDB fold, see
    _nearest_cells_udf); the final candidate ranking stays on the
    rounded cosine + id tie-break as before.

    Builds the index frames persist_ann_index writes (``_ivf_index``)
    and searches them with ann_search, the one IVF probe.

    Scale shape: the centroid set is a deterministic sqrt(n)-rate hash
    sample, so the driver collect is dims-bounded and SUBLINEAR (the
    embedding_outliers precedent: K*dims*8B ~ 16 MB at n = 1e9) and
    rides into every executor inside the kernel closure. Assignment is
    then a single shuffle-free scan; the only corpus-sized shuffle
    left is the cell-keyed candidate join."""
    cents, members = _ivf_index(spark, sf_dir)
    queries = _vectors(spark, sf_dir).filter(F.col("vec_id") < N_QUERIES)
    return ann_search(cents, members, queries)


ANN_IVF_TOPK_SQL = f"""
WITH vecs AS ({_DUCK_VECTORS}),
cents AS (
  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
  FROM vecs
  WHERE {_DUCK_ID_HASH.format(id='vec_id')}
        % (SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT))
           FROM vecs) = 0
),
assign_scored AS (
  -- RAW cosine in the cell ranking (no round): the Spark side's numpy
  -- kernel replays this exact fold bit-for-bit, so the doubles agree
  -- and ties (bit-equal only) break by c_id on both engines
  SELECT v.vec_id, v.emb, v.norm, c.c_id,
         row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {_DUCK_DOT.format(a='c.c_emb', b='v.emb')}
                   / (c.c_norm * v.norm) DESC, c.c_id ASC) AS c_rank
  FROM vecs v, cents c
),
assigned AS (
  SELECT vec_id AS m_id, emb AS m_emb, norm AS m_norm, c_id
  FROM assign_scored WHERE c_rank = 1
),
probes AS (
  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm, c_id
  FROM assign_scored WHERE vec_id < {N_QUERIES} AND c_rank <= {NPROBE}
),
scored AS (
  SELECT DISTINCT p.q_id, a.m_id AS neighbor_id,
         round({_DUCK_DOT.format(a='p.q_emb', b='a.m_emb')}
               / (p.q_norm * a.m_norm), 6) AS cosine
  FROM probes p JOIN assigned a USING (c_id)
  WHERE a.m_id != p.q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT q_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {TOPK}
ORDER BY q_id, rank
"""


# --------------------------------------------------------------------------
# Mean LSH-bucket occupancy the semantic-dedup edge join aims for: the
# per-table plane count is chosen as ceil(log2(n*T / SEM_BUCKET_TARGET))
# so that ACROSS the SEM_TABLES independent hyperplane families the
# total within-bucket pairwise verification stays ~n * SEM_BUCKET_TARGET
# (LINEAR in the corpus) instead of n^2 / 2^planes blowing up as the
# corpus outgrows a fixed signature width (a fixed 8 planes = 256
# buckets measured 100 s at the 100x scale test; log-scaled planes
# measure seconds). Multi-table is the recall half of the same story:
# a single table's recall for a cosine-c pair decays as
# (1 - theta/pi)^planes with the growing plane count; T tables with
# (log2 T) extra planes each keep the SAME total candidate work while
# recall becomes 1 - (1 - p^planes)^T -- at the 100x scale (planes=16,
# T=4) that is ~2.4x the single-table recall for cosine-0.95 pairs.
# Powers of two are exact in IEEE log2, so the ceil agrees bit-for-bit
# across engines.
SEM_BUCKET_TARGET = 16
SEM_TABLES = 4


def sem_planes(n: int) -> int:
    """Per-table plane count for the multi-table scheme: occupancy
    SEM_BUCKET_TARGET/SEM_TABLES per table, total work ~n * target."""
    import math

    return max(
        1,
        math.ceil(
            math.log2(max(n * SEM_TABLES, 2) / float(SEM_BUCKET_TARGET))
        ),
    )


def sem_signatures_udf(planes: int):
    """Arrow-batched twin of ``lsh_signature_expr`` for the multi-table
    signatures: all SEM_TABLES x planes projections of a batch in one
    numpy pass. The per-plane SQL fold (aggregate over zip_with) is
    evaluated INTERPRETED by Spark -- profiled at 39 of 43 s per 100x
    semantic-dedup run; this kernel is the same arithmetic at numpy
    speed.

    BIT-EXACT by construction, which is what lets the DuckDB oracle
    keep running the SQL fold: the accumulator is built by one
    vectorized add PER DIMENSION in ascending order, so every element
    sees the identical left-to-right IEEE sequence
    ((0 + x0*w0) + x1*w1) + ... as the SQL aggregate() and DuckDB's
    list_sum. A matmul would re-associate the sum and flip near-zero
    signs against the oracle. Weights come from the same
    _hyperplane_weights md5 stream the SQL literals embed."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    n_planes = SEM_TABLES * planes
    w_rows = [_hyperplane_weights(p) for p in range(n_planes)]

    @pandas_udf("array<bigint>")
    def sigs(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:  # np.stack rejects an empty batch
            return pd.Series([], dtype=object)
        E = np.stack(emb.to_numpy())  # (rows, dims) float64
        W = np.asarray(w_rows, dtype=np.float64)[:, : E.shape[1]]
        acc = np.zeros((E.shape[0], n_planes))
        for i in range(E.shape[1]):  # ascending dims = the fold order
            acc += E[:, i : i + 1] * W[:, i]
        bits = acc > 0
        out = np.zeros((E.shape[0], SEM_TABLES), dtype=np.int64)
        for t in range(SEM_TABLES):
            for p in range(planes):
                out[:, t] += bits[:, t * planes + p].astype(np.int64) << p
        return pd.Series(list(out))

    return sigs


def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: group embedding-space near-
    duplicates (cosine >= {COSINE_THRESHOLD} within some LSH bucket)
    into clusters; every vector gets the min vec_id of its component as
    cluster_id (singletons are their own cluster). A curation pipeline
    keeps one representative per cluster.

    The (vec_id, cluster_id) label table is memoized to parquet like
    the MinHash signature/pair tables (operators/_memo.py): it is the
    semantic index's derived artifact -- two longs per vector -- and
    both this query and dedup_signal_crosstab consume it, so the
    ~15-25 s pipeline at the 100x scale runs once per corpus snapshot.
    Exact through the roundtrip (pure BIGINTs)."""
    from ._memo import code_token, memo_parquet, table_fingerprint

    return memo_parquet(
        spark,
        table_fingerprint(
            sf_dir, "embeddings", COSINE_THRESHOLD, SEM_TABLES,
            code_token(_sem_labels_fresh),
        ),
        "semlabels",
        lambda: _sem_labels_fresh(spark, sf_dir),
    ).orderBy("vec_id")


def _sem_labels_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic clustering pipeline itself.

    Scale shape: SEM_TABLES independent sign-LSH tables whose per-table
    plane count grows with log2(n) (constant total bucket work -- the
    edge join is linear in the corpus at any size -- while the
    multi-table union keeps recall from decaying with the plane count),
    then graph.connected_components: bounded edge sets run one driver
    union-find job, larger ones distributed label propagation.

    Oracle: DuckDB recursive transitive closure over the identical
    bucket-confined edge set (same dynamic plane count, same md5
    hyperplane families, same table union) -- different algorithm,
    same fixpoint."""
    from .graph import connected_components

    # Stage 0 -- DIRECTION collapse. Cosine depends only on the
    # direction, so vectors whose normalized forms agree after 1e6
    # fixed-point rounding (integer round: half-integers are exact in
    # double, so the boundary cannot split across engines the way
    # round-to-6-decimals can) have pairwise cosine >= 1 - ~6e-11 --
    # unconditionally above
    # COSINE_THRESHOLD, no verification needed: they are the same
    # semantic point. The replica corpus repeats each direction ~100x
    # under varying scales (bit-level exact-dup collapse finds nothing;
    # this finds all of it), and without the collapse the bucket join
    # must EMIT every within-direction pair -- profiled at ~10M
    # verified edges / 26 of 35 s per 100x run. Reps carry the
    # vec_id-minimal member's exact embedding (here the rep IS that
    # member's row; the oracle's arg_min(emb, vec_id) picks the same
    # bits) so near-threshold cosines are computed on identical bits in
    # both engines; members take their rep's cluster label at the end,
    # preserving cluster_id = min vec_id.
    # Grouping/joining on the rounded ARRAY itself is pathological
    # (the array-keyed member join alone profiled 100 s at 100x);
    # the key is compacted to md5 of the array's string image --
    # engine-internal, so the oracle can keep grouping by the list --
    # and membership is ONE window-min shuffle on that 32-char key
    # instead of a join. Reps keep their own row (vec_id == rep_id),
    # which IS the vec_id-minimal member's exact embedding.
    tagged = (
        _vectors(spark, sf_dir)
        .withColumn(
            "skey",
            F.md5(
                F.expr(
                    "cast(transform(emb, x -> cast(round(x / norm * 1000000,"
                    " 0) as bigint)) as string)"
                )
            ),
        )
        .withColumn(
            "rep_id", F.min("vec_id").over(Window.partitionBy("skey"))
        )
        .cache()
    )
    members = tagged.select("vec_id", "rep_id")
    reps = tagged.filter(F.col("vec_id") == F.col("rep_id")).select(
        "vec_id", "emb", "norm"
    )
    n = reps.count()
    planes = sem_planes(n)
    sig_arr = sem_signatures_udf(planes)(F.col("emb"))
    vecs = reps
    # Cache AFTER the signature projection: the tables x planes x dims
    # interpreted products are the dominant cost and both sides of the
    # self-join reference them (caching the pre-signature vectors was
    # measured 2x slower at the 100x scale -- each side re-ran the
    # whole plane pipeline). Unpersisted after the final labels
    # materialize (graph.py convention).
    buckets = (
        vecs
        .select("vec_id", "emb", "norm", sig_arr.alias("sigs"))
        .select(
            "vec_id", "emb", "norm", "sigs",
            F.posexplode("sigs").alias("t", "sig"),
        )
        .cache()
    )
    a = buckets.select(
        F.col("vec_id").alias("a_id"),
        F.col("emb").alias("a_emb"),
        F.col("norm").alias("a_norm"),
        F.col("sigs").alias("a_sigs"),
        F.col("t").alias("a_t"),
        F.col("sig").alias("a_sig"),
    )
    b = buckets.select(
        F.col("vec_id").alias("b_id"),
        F.col("emb").alias("b_emb"),
        F.col("norm").alias("b_norm"),
        F.col("sigs").alias("b_sigs"),
        F.col("t").alias("b_t"),
        F.col("sig").alias("b_sig"),
    )
    # Each colliding pair is emitted exactly once, at the FIRST table
    # where its signatures agree (rows carry the full sigs array, so
    # "no earlier table collided" is a per-row array compare) -- the
    # dedup_simhash first-combo trick. On a corpus with many-way
    # duplicate directions this removes both the (T-1) redundant
    # cosine verifications per true pair and the edge DISTINCT shuffle
    # that a union of tables would need.
    first_hit = F.expr(
        "size(filter(zip_with(slice(a_sigs, 1, a_t), slice(b_sigs, 1, a_t),"
        " (x, y) -> x = y), v -> v)) = 0"
    )
    # Fixed-point compare: round the 1e6-scaled cosine TO AN INTEGER
    # (half-integers are exactly representable in double, so the
    # boundary is engine-independent) instead of round(x, 6), whose
    # Spark shortest-repr vs DuckDB binary .5-handling can diverge.
    cosine_ok = (
        F.round(
            F.expr(_DOT.format(a="a_emb", b="b_emb"))
            / (F.col("a_norm") * F.col("b_norm"))
            * F.lit(1000000.0),
            0,
        ).cast("bigint")
        >= int(round(COSINE_THRESHOLD * 1_000_000))
    )
    # Both predicates live IN the join condition: evaluated during the
    # merge with the cheap first-hit guard short-circuiting ahead of
    # the 64-dim dot product, so non-surviving candidate rows are never
    # materialized into output rows (the candidate set is T x the edge
    # set on a heavily duplicated corpus).
    edges = a.join(
        b,
        (F.col("a_t") == F.col("b_t"))
        & (F.col("a_sig") == F.col("b_sig"))
        & (F.col("a_id") < F.col("b_id"))
        & first_hit
        & cosine_ok,
    ).select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    nodes = vecs.select(F.col("vec_id").alias("node"))
    labels = connected_components(nodes, edges)
    # members inherit their rep's label; label = min rep_id of the
    # component = min vec_id overall (reps are their groups' minima)
    out = (
        members.join(labels, members.rep_id == labels.node)
        .select("vec_id", F.col("label").alias("cluster_id"))
        .orderBy("vec_id")
        # graph.py convention: materialize, THEN drop the caches the
        # plan referenced -- (vec_id, cluster_id) is two longs per row,
        # bounded at any corpus size
        .localCheckpoint()
    )
    tagged.unpersist()
    buckets.unpersist()
    return out


# Dynamic-plane-count multi-table signature: per-table planes =
# ceil(log2(n*T / target)) is computed IN SQL from the same corpus
# count the Spark side reads; table t uses hyperplane family
# [t*planes, (t+1)*planes) of the same md5('p<plane>:d<dim>')
# construction as _hyperplane_weights -- evaluated per row here (fine
# at oracle scale; the Spark side materializes them as literals). The
# sigs ARRAY rides every bucketed row so the first-colliding-table
# emission rule is the identical per-row array compare as Spark's.
_DUCK_SEM_SIGS = (
    f"list_transform(range(0, {{T}}), t -> "
    "list_sum(list_transform(range(0, p.planes), pl -> "
    "CASE WHEN list_sum(list_transform(range(1, len(emb) + 1), "
    "i -> emb[i] * (CAST(CAST('0x' || substr(md5('p' ||"
    " CAST(t * p.planes + pl AS VARCHAR)"
    " || ':d' || CAST(i - 1 AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)"
    " / 2147483647.5 - 1.0))) > 0 "
    "THEN CAST(power(2, pl) AS BIGINT) ELSE 0 END)))"
).format(T=SEM_TABLES)

SEMANTIC_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE base AS ({_DUCK_VECTORS}),
keyed AS (
  SELECT *, list_transform(range(1, len(emb) + 1),
                           i -> CAST(round(emb[i] / norm * 1000000, 0)
                                     AS BIGINT)) AS dkey
  FROM base
),
dedup AS (
  SELECT dkey,
         min(vec_id) AS rep_id,
         arg_min(emb, vec_id) AS emb,
         arg_min(norm, vec_id) AS norm
  FROM keyed GROUP BY dkey
),
members AS (
  SELECT k.vec_id, d.rep_id
  FROM keyed k JOIN dedup d ON k.dkey = d.dkey
),
params AS (
  SELECT greatest(1, CAST(ceil(log2(greatest(count(*) * {SEM_TABLES}, 2)
                                    / {float(SEM_BUCKET_TARGET)})) AS INT))
           AS planes
  FROM dedup
),
vecs AS (
  SELECT rep_id AS vec_id, emb, norm, {_DUCK_SEM_SIGS} AS sigs
  FROM dedup CROSS JOIN params p
),
bucketed AS (
  SELECT vec_id, emb, norm, sigs, tt.t AS t, sigs[tt.t + 1] AS sig
  FROM vecs
  CROSS JOIN (SELECT unnest(range(0, {SEM_TABLES})) AS t) tt
),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM bucketed a JOIN bucketed b
    ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE len(list_filter(range(1, a.t + 1),
                        u -> a.sigs[u] = b.sigs[u])) = 0
    AND CAST(round({_DUCK_DOT.format(a='a.emb', b='b.emb')}
                   / (a.norm * b.norm) * 1000000, 0) AS BIGINT)
        >= {int(round(COSINE_THRESHOLD * 1_000_000))}
),
edges AS (
  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM vecs
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
rep_labels AS (
  SELECT src AS rep_id, min(dst) AS cluster_id
  FROM reach
  GROUP BY src
)
SELECT m.vec_id, r.cluster_id
FROM members m JOIN rep_labels r USING (rep_id)
ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# Embedding-space outlier pruning: SemDeDup removes what is TOO CLOSE
# together; this flags what is too FAR from the corpus -- the other half
# of embedding-based curation (off-distribution docs, encoder failures,
# wrong-domain shards). Score = cosine to the corpus centroid direction.
OUTLIER_COS_FP = -150_000  # cos < -0.15 (1e6 fixed-point): ~5% here


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cos_centroid, is_outlier): cosine of each vector to the
    corpus centroid direction, outliers below OUTLIER_COS_FP.

    Determinism: the centroid is accumulated in 1e6 FIXED-POINT over
    unit-normalized components (integer sums are order-independent, so
    no float-summation drift across partitionings or engines; cosine is
    invariant to the centroid's positive scale, so the integer vector
    IS the centroid -- no division, no epsilon). The final per-row
    cosine compares through round-to-integer fixed point, the
    boundary-safe idiom.

    Scale shape, both passes whole-stage codegen:
      1. posexplode FIRST, then the fixed-point quantization as
         top-level expressions (the _sig_table explode-then-codegen
         pattern -- quantizing inside a transform() lambda evaluates
         interpreted), reduced by a dims-key groupBy whose map-side
         combine absorbs the explosion;
      2. the dims centroid components -- a BOUNDED driver collect, the
         hyperplane-literal pattern -- are baked into an UNROLLED
         literal dot product, so the scoring pass is one codegen'd
         projection over the scan with no lambda, no join, no shuffle.
         (The first draft's broadcast-1-row-frame + aggregate() fold
         evaluated ~200 interpreted lambda steps per row: 105 s at the
         100x scale test; this shape runs ~3 s.)
    Unrolled left-assoc addition equals the oracle's list_sum fold
    bit-for-bit: the fold's 0.0 init adds exactly. Integer headroom:
    component sums stay < 2^53 up to ~9e9 vectors."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    dims = int(emb.select(F.size("embedding").alias("d")).first()["d"])
    norm_sq = " + ".join(
        f"(CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{i}] AS DOUBLE))"
        for i in range(dims)
    )
    base = emb.selectExpr(
        "vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb",
        f"sqrt({norm_sq}) AS norm",
    )
    comp_sums = {
        int(r["i"]): int(r["s"])
        for r in (
            base.selectExpr("norm", "posexplode(emb) AS (i, x)")
            .selectExpr(
                "i", "CAST(round(x / norm * 1000000, 0) AS BIGINT) AS v"
            )
            .groupBy("i")
            .agg(F.sum("v").alias("s"))
            .collect()  # bounded: dims rows
        )
    }
    c = [float(comp_sums[i]) for i in range(dims)]
    # repr() round-trips doubles exactly; c entries are exact integers
    dot = " + ".join(f"(emb[{i}] * CAST({c[i]!r} AS DOUBLE))"
                     for i in range(dims))
    cden = " + ".join(
        f"(CAST({c[i]!r} AS DOUBLE) * CAST({c[i]!r} AS DOUBLE))"
        for i in range(dims)
    )  # all-literal: constant-folded at plan time, same add order as
    #    the oracle's list_sum
    return base.selectExpr(
        "vec_id",
        f"CAST(round(({dot}) / (norm * sqrt({cden})) * 1000000, 0)"
        " AS BIGINT) AS cos_fp",
    ).selectExpr(
        "vec_id",
        # CAST: a bare 1000000.0 literal parses as DECIMAL in Spark SQL
        # and the quotient would render with trailing zeros
        "cos_fp / CAST(1000000 AS DOUBLE) AS cos_centroid",
        f"cos_fp < {OUTLIER_COS_FP} AS is_outlier",
    ).orderBy("vec_id")


EMBEDDING_OUTLIERS_SQL = f"""
WITH base AS ({_DUCK_VECTORS}),
unit AS (
  SELECT vec_id, norm, emb,
         list_transform(range(1, len(emb) + 1),
                        i -> CAST(round(emb[i] / norm * 1000000, 0)
                                  AS BIGINT)) AS q
  FROM base
),
expl AS (
  SELECT unnest(q) AS v, unnest(range(1, len(q) + 1)) AS i FROM unit
),
cvec AS (
  SELECT list(CAST(s AS DOUBLE) ORDER BY i) AS c
  FROM (SELECT i, sum(v) AS s FROM expl GROUP BY i)
),
scored AS (
  SELECT vec_id,
         CAST(round({_DUCK_DOT.format(a='emb', b='c')}
                    / (norm * sqrt({_DUCK_DOT.format(a='c', b='c')}))
                    * 1000000, 0) AS BIGINT) AS cos_fp
  FROM unit CROSS JOIN cvec
)
SELECT vec_id, cos_fp / 1000000.0 AS cos_centroid,
       cos_fp < {OUTLIER_COS_FP} AS is_outlier
FROM scored
ORDER BY vec_id
"""


# --------------------------------------------------------------------------
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK} of the IVF scale path against the brute-force
    baseline, per query vector: |ivf_topk ∩ exact_topk| / |exact_topk|.
    The quality gate every ANN deployment runs before trusting the
    approximate index -- it turns "cell misses possible" into a
    measured number (and regresses if NPROBE / the centroid rate are
    mistuned). Recall ships in integer ppm: a ratio of two small ints
    can land exactly on a 6-dp half boundary, and round-to-INTEGER is
    the boundary-safe form across engines.

    Scale shape: both sides reuse their own documented plans (exact =
    one broadcast pass over the corpus, IVF = broadcast assignment +
    cell-keyed shuffle); the eval itself joins two {TOPK}x{N_QUERIES}-
    row frames -- driver-trivial at any corpus size. At 100 TB the
    baseline side is the expensive half, which is exactly why it runs
    HERE (a bounded eval set) and not in production queries."""
    exact = ann_cosine_topk(spark, sf_dir).select("q_id", "neighbor_id")
    approx = (
        ann_ivf_topk(spark, sf_dir)
        .select("q_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["q_id", "neighbor_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
        .withColumn(
            "recall_ppm",
            F.expr(
                "CAST(round(n_hits * 1000000.0 / n_exact, 0) AS BIGINT)"
            ),
        )
        .orderBy("q_id")
    )


ANN_RECALL_EVAL_SQL = f"""
WITH exact AS ({ANN_COSINE_TOPK_SQL}),
approx AS ({ANN_IVF_TOPK_SQL})
SELECT e.q_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(round(sum(CASE WHEN a.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) * 1000000.0 / count(*), 0)
            AS BIGINT) AS recall_ppm
FROM exact e
LEFT JOIN approx a
  ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.q_id
ORDER BY e.q_id
"""


# --------------------------------------------------------------------------
def ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index balance diagnostic: the power-of-two occupancy
    histogram of the inverted cells (bucket = floor(log2(members)) via
    binary-string length -- integer-exact on both engines, no float
    log), plus a bucket ``-1`` row counting EMPTY cells. Cell skew is
    shuffle skew in the search join (a hot cell concentrates candidate
    work on one task) and empty cells are wasted probe fan-out --
    this is the check an ANN deployment runs alongside
    ``ann_recall_eval`` before trusting the index. Empty cells are
    real under direction-duplicating corpora: a centroid whose
    direction duplicates a lower-id centroid loses every member to it,
    including itself.

    Scale shape: the kernel assignment pass (shuffle-free scan), one
    K-row occupancy aggregate pinned via localCheckpoint (K ~ sqrt(n)
    rows -- tiny), then O(log n)-row arithmetic."""
    n = load_table(spark, sf_dir, "embeddings").count()
    m = centroid_modulus(n)
    vecs = _vectors(spark, sf_dir)
    cent_ids, cent_embs = _ivf_centroids(vecs, m)
    cells = _nearest_cells_udf(cent_ids, cent_embs, 1)
    occ = (
        vecs.select(F.explode(cells(F.col("emb"))).alias("c_id"))
        .groupBy("c_id")
        .agg(F.count("*").alias("n_members"))
        .localCheckpoint()  # K rows; pin so the two consumers below
        # don't each replay the corpus-wide kernel pass
    )
    buckets = (
        occ.selectExpr(
            "CAST(length(bin(n_members)) - 1 AS BIGINT) AS occupancy_bucket",
            "n_members",
        )
        .groupBy("occupancy_bucket")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("n_members").alias("n_vectors"),
        )
    )
    n_empty = len(cent_ids) - occ.count()
    if n_empty > 0:
        buckets = buckets.unionByName(
            spark.createDataFrame(
                [(-1, n_empty, 0)],
                "occupancy_bucket bigint, n_cells bigint, n_vectors bigint",
            )
        )
    return buckets.orderBy("occupancy_bucket")


# part table -> bucket keys of the persisted IVF index
_INDEX_PARTS = {"members": ["c_id"]}


def _ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The IVF index frames over the embeddings table: the centroid
    frame (c_id, c_emb) of the sqrt(n)-rate sample and the member
    frame (``_ann_members``) that assigns every vector to its nearest
    centroid's cell."""
    # One cheap aggregate (parquet row-count metadata) to size the
    # sampling rate; bounded single-row result, not a data collect.
    n = load_table(spark, sf_dir, "embeddings").count()
    vecs = _vectors(spark, sf_dir)
    cent_ids, cent_embs = _ivf_centroids(vecs, centroid_modulus(n))
    cents = spark.createDataFrame(
        list(zip(cent_ids, [list(e) for e in cent_embs])),
        "c_id bigint, c_emb array<double>",
    )
    return cents, _ann_members(vecs, cent_ids, cent_embs)


def persist_ann_index(
    spark: SparkSession, sf_dir: str, prefix: str = "ann_idx"
) -> tuple[DataFrame, DataFrame]:
    """Materialize the IVF index for repeated searches: a small
    centroid table (K ~ sqrt(n) rows -- plain parquet) and the member
    table (every vector + its norm + assigned cell) hash-clustered by
    c_id. Searches then pay NO assignment pass over the corpus and NO
    member-side shuffle -- the cell-keyed candidate join reads matching
    buckets directly (the dedup persist_dedup_index pattern applied to
    ANN; this is what 'build the index once, query it all day' means
    on an engine with no index structures). Replaces every
    ``{prefix}_*`` table, tombstones included
    (``storage.persist_index``)."""
    from ..storage import persist_index

    cents, members = _ivf_index(spark, sf_dir)
    frames = {"cents": cents, "members": members}
    return tuple(persist_index(prefix, frames, _INDEX_PARTS))


def _ann_members(vecs: DataFrame, cent_ids, cent_embs) -> DataFrame:
    """The (m_id, m_emb, m_norm, c_id) member rows of (vec_id, emb,
    norm) vectors, each in its nearest centroid's cell: what
    persist_ann_index writes and the streaming sink appends."""
    cells = _nearest_cells_udf(cent_ids, cent_embs, 1)
    return vecs.select(
        F.col("vec_id").alias("m_id"),
        F.col("emb").alias("m_emb"),
        F.col("norm").alias("m_norm"),
        F.explode(cells(F.col("emb"))).alias("c_id"),
    )


def tombstone_ann_index(
    spark: SparkSession, removed_ids: DataFrame, prefix: str = "ann_idx"
) -> int:
    """Record removed vec_ids against the persisted IVF index WITHOUT
    rewriting it -- the ANN twin of dedup.tombstone_dedup_index (a
    takedown that deletes a doc must delete its vector too, or
    retrieval keeps surfacing dead content): ``storage.tombstone_ids``
    as m_ids into ``{prefix}_tomb``; ``live_ann_members`` filters at
    search time, ``compact_ann_index`` folds into a rewrite.
    Centroids stay fixed (the ann_index_sink_writer discipline:
    re-train offline when ivf_cell_stats says balance drifted), so
    removal cannot move any surviving vector's cell -- which is why
    the side table is exact."""
    from ..storage import tombstone_ids

    return tombstone_ids(
        spark, removed_ids.selectExpr("vec_id AS m_id"), prefix, "m_id"
    )


def live_ann_members(
    spark: SparkSession, prefix: str = "ann_idx"
) -> DataFrame:
    """The persisted member table MINUS its tombstones
    (``storage.live_index``): the frame to hand ann_search. The member
    side still scans its c_id buckets with zero exchange, so a search
    costs NPROBE cells plus the tombstone count, never the corpus."""
    from ..storage import live_index

    return live_index(spark, prefix, _INDEX_PARTS)[0]


def compact_ann_index(spark: SparkSession, prefix: str = "ann_idx") -> dict:
    """Fold the tombstones into the member table
    (``storage.compact_index``): rewrite without the tombstoned m_ids
    (same c_id clustering, so search plans keep their bucketed-scan
    shape), drop the tombstone table, return the exact row funnel.
    Centroids are untouched -- compaction removes rows, it never
    re-trains."""
    from ..storage import compact_index

    return compact_index(spark, prefix, _INDEX_PARTS)


def ann_search(
    cents: DataFrame, members: DataFrame, queries: DataFrame
) -> DataFrame:
    """Top-{TOPK} search against IVF index frames -- the persisted
    tables of ``persist_ann_index`` (``{prefix}_cents`` and
    ``live_ann_members``) or ann_ivf_topk's fresh ones: queries
    (vec_id, emb array<double>) probe
    their {NPROBE} nearest cells via the same Arrow kernel (centroids
    are a bounded collect off the tiny table), then the candidate join
    touches ONLY the probed cells' buckets -- per-query work is
    NPROBE * cell size regardless of corpus size. The distinct
    guards callers that pass duplicate query ids."""
    cent_rows = cents.orderBy("c_id").collect()
    cent_ids = [r["c_id"] for r in cent_rows]
    cent_embs = [r["c_emb"] for r in cent_rows]
    cells = _nearest_cells_udf(cent_ids, cent_embs, NPROBE)
    q = queries.selectExpr(
        "vec_id AS q_id",
        "transform(emb, x -> CAST(x AS DOUBLE)) AS q_emb",
    ).withColumn(
        "q_norm", F.expr("sqrt(" + _DOT.format(a="q_emb", b="q_emb") + ")")
    )
    probes = q.withColumn("c_id", F.explode(cells(F.col("q_emb"))))
    scored = (
        # broadcast the request-sized PROBES side: left to the planner,
        # an in-memory member frame (ann_ivf_topk) was the build side,
        # a corpus-sized broadcast through the driver
        F.broadcast(probes)
        .join(members, "c_id")
        .filter(F.col("m_id") != F.col("q_id"))
        .withColumn(
            "cosine",
            F.round(
                F.expr(_DOT.format(a="q_emb", b="m_emb"))
                / (F.col("q_norm") * F.col("m_norm")),
                6,
            ),
        )
        .select("q_id", F.col("m_id").alias("neighbor_id"), "cosine")
        .distinct()
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .orderBy("q_id", "rank")
    )


def ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What tombstoning one dump's removed vectors costs the persisted
    IVF index -- the ANN member of the uniform index-lifecycle
    accounting triple (dedup: ``index_tombstone_stats``, text:
    ``text_index_stats``; this is the registry form of
    tombstone_ann_index / live_ann_members / compact_ann_index).
    Treating the embedding corpus as the indexed base and the
    deterministic ~90% md5(vec_id) 'snapB' membership as the next
    dump, every vector NOT in snapB is removed. One row of exact
    BIGINT accounting: vectors and removals, member rows tombstoned
    vs live (each vector carries exactly one member row in its
    assigned cell), centroid count, non-empty cells before removal,
    cells whose occupancy drops to ZERO (probe fan-out wasted until
    compaction -- the ivf_cell_stats empty-cell story created by
    removals instead of direction duplication), and removed_ppm.

    Shape: the kernel assignment pass (shuffle-free scan over the
    corpus, the ann_ivf_topk machinery), one K-row per-cell aggregate
    (K ~ sqrt(n)), then O(1)-row arithmetic. Membership is a pure md5
    expression evaluated in place; removal deletes member rows only
    (centroids stay fixed -- the tombstone_ann_index discipline), so
    the accounting is exact without touching any index table.
    removed_ppm is integer floor-DIV; nothing floats across the
    engine boundary."""
    from .corpusops import _snap_member_spark

    n = load_table(spark, sf_dir, "embeddings").count()
    m = centroid_modulus(n)
    vecs = _vectors(spark, sf_dir)
    cent_ids, cent_embs = _ivf_centroids(vecs, m)
    cells = _nearest_cells_udf(cent_ids, cent_embs, 1)
    rm = f"NOT ({_snap_member_spark('snapB', 'vec_id')})"
    assigned = vecs.select(
        "vec_id", F.explode(cells(F.col("emb"))).alias("c_id")
    )
    per_cell = assigned.groupBy("c_id").agg(
        F.count("*").alias("n_members"),
        F.expr(f"sum(CAST({rm} AS BIGINT))").alias("n_rm"),
    )
    return per_cell.agg(
        F.expr("CAST(sum(n_members) AS BIGINT)").alias("n_vectors"),
        F.expr("CAST(sum(n_rm) AS BIGINT)").alias("n_removed"),
        F.expr("CAST(count(*) AS BIGINT)").alias("n_cells"),
        F.expr(
            "CAST(sum(CASE WHEN n_rm = n_members THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("cells_emptied"),
    ).selectExpr(
        "n_vectors",
        "n_removed",
        "n_vectors - n_removed AS n_live_members",
        f"CAST({len(cent_ids)} AS BIGINT) AS n_centroids",
        "n_cells",
        "cells_emptied",
        "n_cells - cells_emptied AS n_live_cells",
        "n_removed * 1000000 DIV n_vectors AS removed_ppm",
    )


def _ann_index_stats_sql() -> str:
    from .corpusops import _snap_member_duck

    rm = f"NOT ({_snap_member_duck('snapB', 'vec_id')})"
    return f"""
WITH vecs AS ({_DUCK_VECTORS}),
cents AS (
  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
  FROM vecs
  WHERE {_DUCK_ID_HASH.format(id='vec_id')}
        % (SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT))
           FROM vecs) = 0
),
assign_scored AS (
  SELECT v.vec_id, c.c_id,
         row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {_DUCK_DOT.format(a='c.c_emb', b='v.emb')}
                   / (c.c_norm * v.norm) DESC, c.c_id ASC) AS c_rank
  FROM vecs v, cents c
),
cell AS (
  SELECT c_id, count(*) AS n_members,
         sum(CASE WHEN {rm} THEN 1 ELSE 0 END) AS n_rm
  FROM assign_scored WHERE c_rank = 1
  GROUP BY 1
),
agg AS (
  SELECT CAST(sum(n_members) AS BIGINT) AS n_vectors,
         CAST(sum(n_rm) AS BIGINT) AS n_removed,
         CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(CASE WHEN n_rm = n_members THEN 1 ELSE 0 END)
              AS BIGINT) AS cells_emptied
  FROM cell
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_centroids FROM cents)
SELECT n_vectors, n_removed,
       CAST(n_vectors - n_removed AS BIGINT) AS n_live_members,
       n_centroids, n_cells, cells_emptied,
       CAST(n_cells - cells_emptied AS BIGINT) AS n_live_cells,
       CAST(n_removed * 1000000 // n_vectors AS BIGINT) AS removed_ppm
FROM agg, nc
"""


IVF_CELL_STATS_SQL = f"""
WITH vecs AS ({_DUCK_VECTORS}),
cents AS (
  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
  FROM vecs
  WHERE {_DUCK_ID_HASH.format(id='vec_id')}
        % (SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT))
           FROM vecs) = 0
),
assign_scored AS (
  SELECT v.vec_id, c.c_id,
         row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {_DUCK_DOT.format(a='c.c_emb', b='v.emb')}
                   / (c.c_norm * v.norm) DESC, c.c_id ASC) AS c_rank
  FROM vecs v, cents c
),
occ AS (
  SELECT c_id, count(*) AS n_members
  FROM assign_scored WHERE c_rank = 1
  GROUP BY 1
),
buckets AS (
  SELECT CAST(length(bin(n_members)) - 1 AS BIGINT) AS occupancy_bucket,
         CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(n_members) AS BIGINT) AS n_vectors
  FROM occ GROUP BY 1
  UNION ALL
  SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
  FROM cents c
  WHERE NOT EXISTS (SELECT 1 FROM occ o WHERE o.c_id = c.c_id)
  HAVING count(*) > 0
)
SELECT * FROM buckets ORDER BY occupancy_bucket
"""


# --------------------------------------------------------------------------
def dedup_signal_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal dedup QA: the 2x2 crosstab of documents grouped by
    the LEXICAL near-dup clustering (MinHash/Jaccard over shingles)
    vs the SEMANTIC one (embedding cosine over directions) -- the
    testdata aligns doc_id == vec_id 1:1. The off-diagonal cells are
    the operational signal: lexical-only groups are template/boiler-
    plate duplication the embedding model abstracts away, semantic-
    only groups are paraphrase duplication no shingle overlap can see
    -- the report that decides whether a corpus needs BOTH dedup
    passes or one suffices.

    Cost is the two cluster pipelines themselves (each documented) +
    a 1:1 join and a 4-row rollup."""
    from pyspark.sql.window import Window

    from .dedup import dedup_minhash_clusters

    lex = dedup_minhash_clusters(spark, sf_dir).withColumn(
        "lex_grouped",
        F.count("*").over(Window.partitionBy("cluster_id")) > 1,
    )
    sem = semantic_dedup_clusters(spark, sf_dir).withColumn(
        "sem_grouped",
        F.count("*").over(Window.partitionBy("cluster_id")) > 1,
    )
    return (
        lex.select("doc_id", "lex_grouped")
        .join(
            sem.select(F.col("vec_id").alias("doc_id"), "sem_grouped"),
            "doc_id",
        )
        .groupBy("lex_grouped", "sem_grouped")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lex_grouped", "sem_grouped")
    )


def _crosstab_sql() -> str:
    from .dedup import DEDUP_MINHASH_CLUSTERS_SQL

    return f"""
SELECT l.lex_grouped, s.sem_grouped, CAST(count(*) AS BIGINT) AS n_docs
FROM (
  SELECT doc_id,
         count(*) OVER (PARTITION BY cluster_id) > 1 AS lex_grouped
  FROM ({DEDUP_MINHASH_CLUSTERS_SQL})
) l
JOIN (
  SELECT vec_id,
         count(*) OVER (PARTITION BY cluster_id) > 1 AS sem_grouped
  FROM ({SEMANTIC_DEDUP_CLUSTERS_SQL})
) s ON s.vec_id = l.doc_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
def source_semantic_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain similarity map: pairwise cosine between each source's
    SUM embedding vector (cosine is scale-invariant, so the sum IS the
    centroid direction -- no division, no count bookkeeping). This is
    the corpus-curation view of "which domains say the same things":
    near-1 pairs are candidates for cross-source dedup and mixture
    rebalancing, near-0 pairs contribute diversity.

    EXACT arithmetic end to end: per-(source, dim) components are
    integer sums of ppm-quantized values (one shuffle over a
    |sources| x dims key space -- map-side partials collapse the
    corpus before the wire), the dot/norm accumulations run in
    DECIMAL(38,0) / HUGEINT integer space (magnitudes ~1e22, far
    under both ceilings), and the single double division at the end
    starts from identical integers on every engine."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    comp = (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .selectExpr("source", "posexplode(embedding) AS (i, x)")
        .selectExpr(
            "source",
            "i",
            "CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS v",
        )
        .groupBy("source", "i")
        .agg(F.expr("CAST(sum(v) AS DECIMAL(19, 0))").alias("s"))
    )
    a, b = comp.alias("a"), comp.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(
            F.expr("sum(a.s * b.s)").alias("dot"),
            F.expr("sum(a.s * a.s)").alias("na"),
            F.expr("sum(b.s * b.s)").alias("nb"),
        )
    )
    return pair.selectExpr(
        "src_a",
        "src_b",
        "CAST(round(CAST(dot AS DOUBLE)"
        " / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))"
        " * 1000000, 0) AS BIGINT) AS cos_ppm",
    ).orderBy("src_a", "src_b")


SOURCE_SEMANTIC_SIMILARITY_SQL = """
WITH comp AS (
  SELECT d.source, t.i,
         CAST(sum(CAST(round(CAST(e.embedding[t.i] AS DOUBLE) * 1000000,
                             0) AS BIGINT)) AS HUGEINT) AS s
  FROM embeddings e
  JOIN documents d ON d.doc_id = e.vec_id
  CROSS JOIN UNNEST(range(1, len(e.embedding) + 1)) AS t(i)
  GROUP BY 1, 2
),
pair AS (
  SELECT a.source AS src_a, b.source AS src_b,
         sum(a.s * b.s) AS dot,
         sum(a.s * a.s) AS na,
         sum(b.s * b.s) AS nb
  FROM comp a
  JOIN comp b ON a.i = b.i AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b,
       CAST(round(CAST(dot AS DOUBLE)
            / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
            * 1000000, 0) AS BIGINT) AS cos_ppm
FROM pair
ORDER BY src_a, src_b
"""


# --------------------------------------------------------------------------
SWEEP_MAX_PROBE = 4


def ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning table: aggregate recall@{TOPK} (vs the exact
    baseline) at every probe depth 1..{SWEEP_MAX_PROBE}. ann_recall_eval
    reports the shipped NPROBE's quality; THIS is how NPROBE gets
    chosen -- the first depth whose recall clears the deployment bar
    wins, every deeper probe is wasted candidate work.

    One assignment pass at the MAX depth does all the work: each
    candidate pair keeps the smallest probe rank that reaches it
    (min_rank), and the per-depth top-{TOPK} re-ranking then runs over
    the tiny {N_QUERIES}-query candidate frame -- the sweep costs ONE
    IVF search, not {SWEEP_MAX_PROBE}. Per-depth candidate sets are
    nested by construction (depth p = min_rank <= p), exactly how a
    real index evaluates probe depth."""
    n = load_table(spark, sf_dir, "embeddings").count()
    m = centroid_modulus(n)
    vecs = _vectors(spark, sf_dir)
    cent_ids, cent_embs = _ivf_centroids(vecs, m)

    assign1 = _nearest_cells_udf(cent_ids, cent_embs, 1)
    assigned = vecs.withColumn("c_id", F.explode(assign1(F.col("emb")))).select(
        F.col("vec_id").alias("m_id"),
        F.col("emb").alias("m_emb"),
        F.col("norm").alias("m_norm"),
        "c_id",
    )
    probe_k = _nearest_cells_udf(cent_ids, cent_embs, SWEEP_MAX_PROBE)
    probes = (
        vecs.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("cells", probe_k(F.col("emb")))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("emb").alias("q_emb"),
            F.col("norm").alias("q_norm"),
            F.posexplode("cells").alias("pr", "c_id"),
        )
        .withColumn("pr", F.col("pr") + 1)  # probe rank 1-based
    )
    cand = (
        probes.join(assigned, "c_id")
        .filter(F.col("m_id") != F.col("q_id"))
        .groupBy("q_id", F.col("m_id").alias("neighbor_id"))
        .agg(
            F.min("pr").alias("min_rank"),
            F.round(
                F.max(F.expr(_DOT.format(a="q_emb", b="m_emb")))
                / (F.max("q_norm") * F.max("m_norm")),
                6,
            ).alias("cosine"),
        )
    ).cache()
    # cached like cand: the union below re-evaluates each depth's
    # aggregate, and without the cache the brute-force baseline -- the
    # documented dominant cost -- would be recomputed once per depth
    exact = (
        ann_cosine_topk(spark, sf_dir).select("q_id", "neighbor_id").cache()
    )
    out = None
    for p in range(1, SWEEP_MAX_PROBE + 1):
        w = Window.partitionBy("q_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        approx = (
            cand.filter(F.col("min_rank") <= p)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("q_id", "neighbor_id")
            .withColumn("hit", F.lit(1))
        )
        row = (
            exact.join(approx, ["q_id", "neighbor_id"], "left")
            .agg(
                F.lit(p).alias("nprobe"),
                F.count(F.lit(1)).alias("n_exact"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                .cast("long")
                .alias("n_hits"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.selectExpr(
        "nprobe",
        "n_exact",
        "n_hits",
        "CAST(round(n_hits * 1000000.0 / n_exact, 0) AS BIGINT)"
        " AS recall_ppm",
    ).orderBy("nprobe")


def _probe_sweep_sql() -> str:
    per_p = []
    for p in range(1, SWEEP_MAX_PROBE + 1):
        per_p.append(f"""
SELECT {p} AS nprobe,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(round(sum(CASE WHEN a.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) * 1000000.0 / count(*), 0)
            AS BIGINT) AS recall_ppm
FROM exact e
LEFT JOIN (
  SELECT q_id, neighbor_id FROM (
    SELECT q_id, neighbor_id,
           row_number() OVER (PARTITION BY q_id
               ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM cand WHERE min_rank <= {p})
  WHERE rank <= {TOPK}) a
  ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id""")
    body = "\nUNION ALL\n".join(per_p)
    return f"""
WITH vecs AS ({_DUCK_VECTORS}),
cents AS (
  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
  FROM vecs
  WHERE {_DUCK_ID_HASH.format(id='vec_id')}
        % (SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT))
           FROM vecs) = 0
),
assign_scored AS (
  SELECT v.vec_id, v.emb, v.norm, c.c_id,
         row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {_DUCK_DOT.format(a='c.c_emb', b='v.emb')}
                   / (c.c_norm * v.norm) DESC, c.c_id ASC) AS c_rank
  FROM vecs v, cents c
),
assigned AS (
  SELECT vec_id AS m_id, emb AS m_emb, norm AS m_norm, c_id
  FROM assign_scored WHERE c_rank = 1
),
probes AS (
  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm, c_id,
         c_rank AS pr
  FROM assign_scored
  WHERE vec_id < {N_QUERIES} AND c_rank <= {SWEEP_MAX_PROBE}
),
cand AS (
  SELECT p.q_id, a.m_id AS neighbor_id,
         min(p.pr) AS min_rank,
         round(max({_DUCK_DOT.format(a='p.q_emb', b='a.m_emb')})
               / (max(p.q_norm) * max(a.m_norm)), 6) AS cosine
  FROM probes p JOIN assigned a USING (c_id)
  WHERE a.m_id != p.q_id
  GROUP BY 1, 2
),
exact AS ({ANN_COSINE_TOPK_SQL})
{body}
ORDER BY nprobe
"""


IVF_PROBE_SWEEP_SQL = _probe_sweep_sql()


# --------------------------------------------------------------------------
# Fixed-point exact k-means (Lloyd's algorithm, bounded iterations).
KM_K = 10  # matches the generator's label count
KM_ITERS = 2  # full assign+update rounds; reporting assigns once more
KM_FP = 1_000_000  # 6-dp fixed point
KM_OFFSET = 2 * KM_FP  # shifts every quantized component positive

_KM_QUANT = {
    "spark": (
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
        f" * {KM_FP}, 0) AS BIGINT) + {KM_OFFSET})"
    ),
    "duck": (
        "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
        f" * {KM_FP}, 0) AS BIGINT) + {KM_OFFSET})"
    ),
}


def _km_assign_udf(cents):
    """Arrow-batched assignment kernel: nearest centroid by squared L2
    over the int64 fixed-point grid, ties to the smallest cid
    (np.argmin returns the first minimum; the oracle's row_number
    orders by (dist, cid)). Integer arithmetic end to end, so the
    distance is EXACT -- no IEEE fold to replay, unlike the cosine
    kernels above."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    C = np.asarray(cents, dtype=np.int64)  # (K, dims), cid ascending

    @pandas_udf("cid int, dist bigint")
    def assign(q: pd.Series) -> pd.DataFrame:
        import numpy as np

        if len(q) == 0:
            return pd.DataFrame({"cid": [], "dist": []})
        Q = np.stack(q.to_numpy()).astype(np.int64)  # (rows, dims)
        acc = np.zeros((Q.shape[0], C.shape[0]), dtype=np.int64)
        for i in range(Q.shape[1]):
            d = Q[:, i : i + 1] - C[:, i]
            acc += d * d
        cid = np.argmin(acc, axis=1)
        return pd.DataFrame(
            {
                "cid": cid.astype("int32"),
                "dist": acc[np.arange(len(cid)), cid],
            }
        )

    return assign


def kmeans_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embedding table with CROSS-ENGINE EXACT
    semantics: components quantize to a 6-dp integer grid shifted
    positive (translation leaves L2 distances unchanged), distances
    and inertia are int64, and the centroid update is elementwise
    integer floor mean -- so two engines running {KM_ITERS} Lloyd
    iterations from the same deterministic md5-ordered seed produce
    IDENTICAL clusters, not merely similar ones. Output per surviving
    cluster: size, exact inertia, and the majority true label (ties to
    the smallest label) -- the purity report.

    Scale shape (the ann_ivf_topk pattern): centroids live in the
    kernel closure (K x dims ints), assignment is one shuffle-free
    Arrow-batched scan per iteration, and the update is a posexplode +
    (cid, dim)-keyed codegen'd sum whose K*dims-row result is the only
    driver collect. Nothing quadratic, nothing proportional to n on
    the driver. The reference has no clustering surface; this extends
    the brief's embedding family (SURVEY.md par. E2/E7).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        spread(emb, "vec_id")
        .selectExpr("vec_id", "label", f"{_KM_QUANT['spark']} AS q")
        .cache()
    )
    seed = (
        q.select(
            "q",
            F.md5(F.concat(F.lit("km:"), F.col("vec_id").cast("string"))).alias("h"),
        )
        .orderBy("h")
        .limit(KM_K)
        .collect()
    )
    cents = [list(r["q"]) for r in seed]
    for _ in range(KM_ITERS):
        assigned = q.withColumn("ad", _km_assign_udf(cents)(F.col("q")))
        sums = (
            assigned.select(F.col("ad.cid").alias("cid"), F.posexplode("q").alias("i", "qi"))
            .groupBy("cid", "i")
            .agg(F.sum("qi").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        upd: dict[int, list[int]] = {}
        for r in sums:
            upd.setdefault(r["cid"], [0] * len(cents[0]))[r["i"]] = r["s"] // r["n"]
        cents = [upd.get(cid, cents[cid]) for cid in range(KM_K)]
    final = q.withColumn("ad", _km_assign_udf(cents)(F.col("q"))).select(
        "vec_id", "label", F.col("ad.cid").alias("cid"), F.col("ad.dist").alias("dist")
    )
    # One (cid, label) aggregate feeds BOTH the cluster stats and the
    # majority label: the old stats/lab pair each re-evaluated `final`
    # (a full Arrow-kernel assignment pass over every vector), so the
    # reporting stage paid the kernel twice. Rolling the per-(cid,
    # label) int64 partials up per cid via whole-partition windows is
    # exact (integer sums reassociate freely) and keeps a single
    # kernel pass; both window specs share the cid partitioning, so
    # there is no extra exchange.
    base = final.groupBy("cid", "label").agg(
        F.count("*").alias("n"), F.sum("dist").alias("sd")
    )
    cidw = Window.partitionBy("cid")
    out = (
        base.withColumn("n_points", F.sum("n").over(cidw))
        .withColumn("sum_dist", F.sum("sd").over(cidw))
        .withColumn(
            "rn",
            F.row_number().over(cidw.orderBy(F.desc("n"), F.asc("label"))),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cid",
            "n_points",
            "sum_dist",
            F.col("label").alias("top_label"),
            F.col("n").alias("top_label_n"),
        )
        .orderBy("cid")
        .localCheckpoint(eager=True)
    )
    q.unpersist()
    return out.select(
        "cid", "n_points", "sum_dist", "top_label", "top_label_n"
    )


def _km_sql() -> str:
    dims = 64  # the embeddings table's width (TESTDATA.md)
    dist = " + ".join(
        f"(q.q[{i}] - c.cvec[{i}]) * (q.q[{i}] - c.cvec[{i}])"
        for i in range(1, dims + 1)
    )

    def assign_cte(name: str, cents: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, label, q, cid, dist FROM (
    SELECT q.vec_id, q.label, q.q, c.cid, {dist} AS dist,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist}, c.cid) AS rn
    FROM q, {cents} c)
  WHERE rn = 1
)"""

    def update_cte(name: str, prev: str, assigned: str) -> str:
        return f"""{name} AS (
  SELECT {prev}.cid, COALESCE(m.cvec, {prev}.cvec) AS cvec
  FROM {prev} LEFT JOIN (
    SELECT cid, list(sq ORDER BY i) AS cvec FROM (
      SELECT cid, i, CAST(sum(qi) // count(*) AS BIGINT) AS sq
      FROM (SELECT cid, unnest(q) AS qi, generate_subscripts(q, 1) AS i
            FROM {assigned})
      GROUP BY cid, i)
    GROUP BY cid) m USING (cid)
)"""

    iters = []
    prev = "c0"
    for t in range(1, KM_ITERS + 1):
        iters.append(assign_cte(f"a{t}", prev))
        iters.append(update_cte(f"c{t}", prev, f"a{t}"))
        prev = f"c{t}"
    iters.append(assign_cte("af", prev))
    body = ",\n".join(iters)
    return f"""
WITH q AS (
  SELECT vec_id, label, {_KM_QUANT['duck']} AS q FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (
           ORDER BY md5('km:' || CAST(vec_id AS VARCHAR))) AS INTEGER) - 1
           AS cid,
         q AS cvec
  FROM q
  ORDER BY md5('km:' || CAST(vec_id AS VARCHAR))
  LIMIT {KM_K}
),
{body},
stats AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(dist) AS BIGINT) AS sum_dist
  FROM af GROUP BY cid
),
lab AS (
  SELECT cid, label AS top_label, n AS top_label_n FROM (
    SELECT cid, label, count(*) AS n,
           row_number() OVER (PARTITION BY cid
                              ORDER BY count(*) DESC, label) AS rn
    FROM af GROUP BY cid, label)
  WHERE rn = 1
)
SELECT s.cid, s.n_points, s.sum_dist, l.top_label,
       CAST(l.top_label_n AS BIGINT) AS top_label_n
FROM stats s JOIN lab l USING (cid)
ORDER BY s.cid
"""


KMEANS_FIXEDPOINT_SQL = _km_sql()



# --------------------------------------------------------------------------
# Scalar int8 quantization QA: the embedding-compression audit.
QUANT_CELLS = 256  # 8-bit codes; cell midpoint reconstruction


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension scalar quantization report for the embedding
    corpus: each dimension's [min, max] range is cut into
    {QUANT_CELLS} equal cells, every value maps to its cell index (an
    8-bit code) and reconstructs at the cell midpoint; the report is
    the per-dimension range, code diversity, and reconstruction error
    -- the audit a pipeline runs BEFORE committing to int8 storage
    (4x smaller vectors and ~4x faster ANN scans, but only if the
    error is tolerable and no dimension saturates into a handful of
    codes).

    Determinism: codes are ``floor((x - mn)/(mx - mn) * 256)`` clamped
    to 255 -- floor (never round) so no half-boundary class exists;
    reconstruction error is floored to integer nanounits per element
    and summed as BIGINT, so every reported number is bit-identical
    across engines, partitionings, and run orders.

    Scale: two scans of the exploded corpus (stats, then codes) with
    map-side partial aggregation into DIMS-row results -- no window
    over the corpus, no cache of the 64x exploded frame; the stats
    side of the code pass is a DIMS-row broadcast. The reference has
    no vector surface at all; this extends its prediction-store QA
    posture (compute-daily-metrics.py:19-37) to the embedding column."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode("embedding").alias("dim", "xf")
    ).selectExpr("dim", "CAST(xf AS DOUBLE) AS x")
    stats = ex.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    coded = (
        ex.join(F.broadcast(stats), "dim")
        .selectExpr("dim", "mn", "mx", "x", f"{_Q_CODE} AS code")
        .selectExpr("dim", "mn", "mx", "x", "code", f"{_Q_RECON} AS recon")
        .selectExpr("dim", "mn", "mx", "code", f"{_Q_ERRFP} AS err_fp")
    )
    return (
        coded.groupBy("dim", "mn", "mx")
        .agg(
            F.countDistinct("code").alias("n_codes"),
            F.sum("err_fp").alias("sum_abserr_fp"),
            F.max("err_fp").alias("max_abserr_fp"),
        )
        .selectExpr(
            "dim",
            "CAST(floor(mn * 1000000) AS BIGINT) AS mn_fp",
            "CAST(floor(mx * 1000000) AS BIGINT) AS mx_fp",
            "CAST(n_codes AS BIGINT) AS n_codes",
            "sum_abserr_fp",
            "max_abserr_fp",
        )
        .orderBy("dim")
    )


# Shared expression text: identical token stream in both dialects, so
# the IEEE evaluation order (hence every floored integer) matches.
_Q_CODE = (
    f"CASE WHEN mx = mn THEN 0 ELSE LEAST(CAST(floor((x - mn) / (mx - mn)"
    f" * {QUANT_CELLS}) AS INT), {QUANT_CELLS - 1}) END"
)
_Q_RECON = (
    "CASE WHEN mx = mn THEN mn ELSE mn + (CAST(code AS DOUBLE)"
    f" + CAST(0.5 AS DOUBLE)) * (mx - mn) / {QUANT_CELLS} END"
)
_Q_ERRFP = "CAST(floor(abs(x - recon) * 1000000000) AS BIGINT)"

def ann_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval recall@{TOPK} of int8-quantized vectors vs the exact
    float baseline -- the RETRIEVAL side of the compression decision
    emb_quantize_int8 audits by reconstruction error. A store that
    quantizes to int8 gets 4x smaller vectors and ~4x faster scans; the
    number that approves it is "how many true top-{TOPK} neighbors does
    the quantized index still return", and reconstruction error alone
    does not answer that. Same measured-recall contract as
    ann_recall_eval (IVF), minhash_lsh_recall (banding),
    shape_match_recall (SAX): every approximate path ships the gate
    that prices its loss.

    Semantics: per-dimension [min, max] is cut into {QUANT_CELLS}
    cells (exactly emb_quantize_int8's floor-coding); every vector --
    queries included, as a real int8 store quantizes everything --
    reconstructs at cell midpoints, and the quantized ranking is
    cosine over reconstructed vectors with the ann_cosine_topk
    contract (round 6 dp, vec_id tie-break). Truth is the exact float
    top-{TOPK}. Output per query: hits and integer-ppm recall.

    Scale shape: the dims-row stats table collapses to ONE broadcast
    row of [min],[max] arrays (the bounded-collect pattern: dims
    doubles, ~1 KB), reconstruction is a map-only transform, and both
    rankings are broadcast-query scans of the corpus -- two linear
    passes, no corpus self-join anywhere. At 100 TB you persist the
    coded vectors next to the IVF index (persist_ann_index) and re-run
    this gate per corpus snapshot before switching reads to int8."""
    vecs = _vectors(spark, sf_dir)
    # per-dim stats -> one broadcast row of mn/mx arrays (dims-bounded)
    stats = (
        vecs.select(F.posexplode("emb").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, mn))),"
                " s -> s.mn) AS mn_arr"
            ),
            F.expr(
                "transform(array_sort(collect_list(struct(dim, mx))),"
                " s -> s.mx) AS mx_arr"
            ),
        )
        # ONE row (two dims-length arrays, ~1 KB) consumed by both
        # consumers of `recon` (the scored frame and its query slice);
        # uncached, each reference re-ran the full corpus posexplode +
        # per-dim min/max underneath (round-13 optimization, guide §2.4
        # -- the plan scanned embeddings twice just to rebuild this row)
        .cache()
    )
    recon = (
        vecs.crossJoin(F.broadcast(stats))
        .selectExpr("vec_id", f"{_I8_RECON_SPARK} AS remb")
        .withColumn(
            "rnorm", F.expr("sqrt(" + _DOT.format(a="remb", b="remb") + ")")
        )
    )

    def _topk(frame: DataFrame, emb_col: str, norm_col: str) -> DataFrame:
        queries = frame.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col(emb_col).alias("q_emb"),
            F.col(norm_col).alias("q_norm"),
        )
        scored = (
            frame.crossJoin(F.broadcast(queries))
            .filter(F.col("vec_id") != F.col("q_id"))
            .withColumn(
                "cosine",
                F.round(
                    F.expr(_DOT.format(a="q_emb", b=emb_col))
                    / (F.col("q_norm") * F.col(norm_col)),
                    6,
                ),
            )
        )
        w = Window.partitionBy("q_id").orderBy(
            F.desc("cosine"), F.asc("vec_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("q_id", F.col("vec_id").alias("neighbor_id"))
        )

    exact = _topk(vecs, "emb", "norm")
    coded = _topk(recon, "remb", "rnorm").withColumn("hit", F.lit(1))
    return (
        exact.join(coded, ["q_id", "neighbor_id"], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
        .selectExpr(
            "q_id",
            "CAST(n_hit AS BIGINT) AS n_hit",
            f"CAST((n_hit * 1000000L) DIV {TOPK} AS BIGINT) AS recall_ppm",
        )
        .orderBy("q_id")
    )


# Reconstruction expression: identical arithmetic token stream in both
# dialects (Spark lambda index i is 0-based with 0-based brackets; the
# DuckDB twin ranges 1-based), so every floor-coded cell and midpoint
# matches bit-for-bit.
def _i8_recon(x: str, mn: str, mx: str) -> str:
    return (
        f"CASE WHEN {mx} = {mn} THEN {mn} ELSE {mn} + "
        f"(CAST(LEAST(CAST(floor(({x} - {mn}) / ({mx} - {mn})"
        f" * {QUANT_CELLS}) AS INT), {QUANT_CELLS - 1}) AS DOUBLE)"
        f" + CAST(0.5 AS DOUBLE)) * ({mx} - {mn}) / {QUANT_CELLS} END"
    )


_I8_RECON_SPARK = (
    "transform(emb, (x, i) -> "
    + _i8_recon("x", "mn_arr[i]", "mx_arr[i]")
    + ")"
)

_I8_RECON_DUCK = (
    "list_transform(range(1, len(emb) + 1), i -> "
    + _i8_recon("emb[i]", "mn_arr[i]", "mx_arr[i]")
    + ")"
)

ANN_INT8_RECALL_SQL = f"""
WITH vecs AS ({_DUCK_VECTORS}),
ex AS (
  SELECT d.dim, v.emb[d.dim + 1] AS x
  FROM vecs v,
       (SELECT unnest(range((SELECT max(len(emb)) FROM vecs))) AS dim) d
  WHERE d.dim < len(v.emb)
),
stats AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
sarr AS (
  SELECT list(mn ORDER BY dim) AS mn_arr, list(mx ORDER BY dim) AS mx_arr
  FROM stats
),
recon AS (
  SELECT vec_id, {_I8_RECON_DUCK} AS remb
  FROM vecs, sarr
),
rnormed AS (
  SELECT vec_id, remb,
         sqrt({_DUCK_DOT.format(a='remb', b='remb')}) AS rnorm
  FROM recon
),
exact_scored AS (
  SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
         round({_DUCK_DOT.format(a='q.emb', b='v.emb')}
               / (q.norm * v.norm), 6) AS cosine
  FROM vecs q, vecs v
  WHERE q.vec_id < {N_QUERIES} AND v.vec_id != q.vec_id
),
exact_topk AS (
  SELECT q_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, neighbor_id ASC)
           AS rank
    FROM exact_scored
  ) WHERE rank <= {TOPK}
),
coded_scored AS (
  SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
         round({_DUCK_DOT.format(a='q.remb', b='v.remb')}
               / (q.rnorm * v.rnorm), 6) AS cosine
  FROM rnormed q, rnormed v
  WHERE q.vec_id < {N_QUERIES} AND v.vec_id != q.vec_id
),
coded_topk AS (
  SELECT q_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, neighbor_id ASC)
           AS rank
    FROM coded_scored
  ) WHERE rank <= {TOPK}
)
SELECT e.q_id,
       CAST(sum(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       CAST((sum(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1000000) // {TOPK} AS BIGINT) AS recall_ppm
FROM exact_topk e
LEFT JOIN coded_topk c
  ON c.q_id = e.q_id AND c.neighbor_id = e.neighbor_id
GROUP BY e.q_id
ORDER BY e.q_id
"""


EMB_QUANTIZE_INT8_SQL = f"""
WITH ex AS (
  SELECT d.dim, CAST(e.embedding[d.dim + 1] AS DOUBLE) AS x
  FROM embeddings e,
       (SELECT unnest(range((SELECT max(len(embedding)) FROM embeddings)))
        AS dim) d
  WHERE d.dim < len(e.embedding)
),
stats AS (
  SELECT dim, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1
),
coded AS (
  SELECT ex.dim, mn, mx, x, {_Q_CODE} AS code
  FROM ex JOIN stats USING (dim)
),
recon AS (
  SELECT dim, mn, mx, x, code, {_Q_RECON} AS recon FROM coded
),
err AS (
  SELECT dim, mn, mx, code, {_Q_ERRFP} AS err_fp FROM recon
)
SELECT dim,
       CAST(floor(mn * 1000000) AS BIGINT) AS mn_fp,
       CAST(floor(mx * 1000000) AS BIGINT) AS mx_fp,
       CAST(count(DISTINCT code) AS BIGINT) AS n_codes,
       CAST(sum(err_fp) AS BIGINT) AS sum_abserr_fp,
       CAST(max(err_fp) AS BIGINT) AS max_abserr_fp
FROM err
GROUP BY dim, mn, mx
ORDER BY dim
"""


# --------------------------------------------------------------------------
# Incremental kNN join: an arriving shard of vectors queries the
# persisted IVF index -- the similarity-family twin of
# dedup_incremental (dedup.py:792). A real ingest pipeline runs this
# daily: embed the new shard, assign it to the EXISTING cells, and
# find each new vector's neighbors among the indexed corpus without
# re-pairing the corpus against itself.
ANN_SHARD_MOD = 10  # ~1/10 of vectors arrive as "new"


def _ann_shard_spark(col: str) -> str:
    return (
        "CAST(conv(substr(md5(concat('annshard:', CAST("
        f"{col} AS STRING))), 1, 8), 16, 10) AS BIGINT) % {ANN_SHARD_MOD} = 0"
    )


def _ann_shard_duck(col: str) -> str:
    return (
        "CAST('0x' || substr(md5('annshard:' || CAST("
        f"{col} AS VARCHAR)), 1, 8) AS BIGINT) % {ANN_SHARD_MOD} = 0"
    )


def _knn_cell_kernel(key, pq: pd.DataFrame, pm: pd.DataFrame):
    """Cogrouped per-cell scoring: raw cosine of every (probe, member)
    pair of one IVF cell as ONE numpy outer-product fold. The
    ascending-dim accumulation replays the aggregate(zip_with(...)) /
    list_sum IEEE fold bit-for-bit (the _nearest_cells_udf
    construction), and cos = acc / (q_norm * m_norm) applies the same
    two correctly-rounded ops in the oracle's order -- so the raw
    doubles agree and the 6-dp round happens SQL-side on identical
    inputs. Arrow ships each cell's vectors ONCE per side; the
    per-candidate-row pandas UDF this replaces shipped both vectors
    for every pair (9M x 2 KB at the 100x scale test, 339 s; the
    interpreted SQL lambda was 108 s; this kernel is ~30 s)."""
    import numpy as np

    if pq.empty or pm.empty:
        return pd.DataFrame({"new_id": [], "neighbor_id": [], "cos_raw": []})
    Q = np.stack(pq["q_emb"].to_numpy())
    M = np.stack(pm["m_emb"].to_numpy())
    acc = np.zeros((len(pq), len(pm)))
    # in-place += (bit-identical elementwise adds, no per-dim
    # temporaries) -- see _nearest_cells_udf
    tmp = np.empty_like(acc)
    for i in range(Q.shape[1]):  # ascending dims = the fold order
        np.multiply(Q[:, i : i + 1], M[:, i][None, :], out=tmp)
        acc += tmp
    cos = acc / (
        pq["q_norm"].to_numpy()[:, None] * pm["m_norm"].to_numpy()[None, :]
    )
    return pd.DataFrame(
        {
            "new_id": np.repeat(pq["new_id"].to_numpy(), len(pm)),
            "neighbor_id": np.tile(pm["m_id"].to_numpy(), len(pq)),
            "cos_raw": cos.ravel(),
        }
    )


def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN join, incremental form: every vector in the arriving
    ~1/{ANN_SHARD_MOD} md5 shard finds its {TOPK} nearest-cosine
    neighbors among the remaining (indexed) vectors. Unlike
    ann_ivf_topk's {N_QUERIES}-query probe, the query side here is a
    full shard -- the workload shape of daily near-neighbor enrichment
    at ingest, and Spark's missing "kNN join" operator.

    Index discipline: centroids are the sqrt(n_index)-rate md5 sample
    OF THE INDEX ONLY (the persisted side), so a shard's arrival never
    moves the cells -- assignments of previously indexed vectors stay
    valid, which is what makes the index incremental. Shard vectors
    probe {NPROBE} cells through the same Arrow kernel
    (_nearest_cells_udf), so cell ranking is bit-exact vs the oracle.

    Scale shape: two shuffle-free kernel scans (index -> 1 cell,
    shard -> {NPROBE} cells) + ONE cell-keyed equi-join whose probe
    side scales with the SHARD, not the corpus; the per-query top-k
    window is shard-sized, and the kernel's candidate rows flow into
    it directly (the former distinct() moved the full candidate set to
    remove provably-zero duplicates -- see the comment below).
    Measured at the 100x scale test: 18.9 -> 10.5 s best-of-2 for a
    20k-vector shard against a 180k index after dropping that shuffle
    and buffering the kernel loops in place."""
    vecs = _vectors(spark, sf_dir).withColumn(
        "is_new", F.expr(_ann_shard_spark("vec_id"))
    )
    index = vecs.filter(~F.col("is_new")).drop("is_new")
    shard = vecs.filter(F.col("is_new")).drop("is_new")
    n_index = index.count()
    m = centroid_modulus(n_index)
    cent_ids, cent_embs = _ivf_centroids(index, m)

    one_cell = _nearest_cells_udf(cent_ids, cent_embs, 1)
    probe_cells = _nearest_cells_udf(cent_ids, cent_embs, NPROBE)
    assigned = index.select(
        F.col("vec_id").alias("m_id"),
        F.col("emb").alias("m_emb"),
        F.col("norm").alias("m_norm"),
        F.explode(one_cell(F.col("emb"))).alias("c_id"),
    )
    probes = shard.select(
        F.col("vec_id").alias("new_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.explode(probe_cells(F.col("emb"))).alias("c_id"),
    )
    scored = (
        probes.groupBy("c_id")
        .cogroup(assigned.groupBy("c_id"))
        .applyInPandas(
            _knn_cell_kernel,
            "new_id long, neighbor_id long, cos_raw double",
        )
        .withColumn("cosine", F.round(F.col("cos_raw"), 6))
        .select("new_id", "neighbor_id", "cosine")
        # NO distinct: every index vector is assigned to EXACTLY one
        # cell (explode of a 1-element array), and a probe's NPROBE
        # cell ids are distinct, so a (new_id, neighbor_id) pair can
        # only arise in the single cell holding the neighbor -- the
        # dedup shuffle moved the full candidate set (27M rows at the
        # 100x replica) to remove provably-zero duplicates. The oracle
        # keeps its DISTINCT and the gate pins row counts, so a
        # violation of this invariant cannot pass silently.
    )
    w = Window.partitionBy("new_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .orderBy("new_id", "rank")
    )


ANN_KNN_JOIN_SQL = f"""
WITH vecs AS ({_DUCK_VECTORS}),
shard AS (SELECT * FROM vecs WHERE {_ann_shard_duck('vec_id')}),
idx AS (SELECT * FROM vecs WHERE NOT ({_ann_shard_duck('vec_id')})),
cents AS (
  SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
  FROM idx
  WHERE {_DUCK_ID_HASH.format(id='vec_id')}
        % (SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT))
           FROM idx) = 0
),
assign_scored AS (
  -- RAW cosine in the cell ranking (no round): the Spark kernel
  -- replays this exact fold bit-for-bit (see ann_ivf_topk)
  SELECT v.vec_id, v.emb, v.norm, c.c_id,
         row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {_DUCK_DOT.format(a='c.c_emb', b='v.emb')}
                   / (c.c_norm * v.norm) DESC, c.c_id ASC) AS c_rank
  FROM idx v, cents c
),
assigned AS (
  SELECT vec_id AS m_id, emb AS m_emb, norm AS m_norm, c_id
  FROM assign_scored WHERE c_rank = 1
),
probe_scored AS (
  SELECT s.vec_id, s.emb, s.norm, c.c_id,
         row_number() OVER (PARTITION BY s.vec_id ORDER BY
             {_DUCK_DOT.format(a='c.c_emb', b='s.emb')}
                   / (c.c_norm * s.norm) DESC, c.c_id ASC) AS c_rank
  FROM shard s, cents c
),
probes AS (
  SELECT vec_id AS new_id, emb AS q_emb, norm AS q_norm, c_id
  FROM probe_scored WHERE c_rank <= {NPROBE}
),
cand AS (
  SELECT DISTINCT p.new_id, a.m_id AS neighbor_id,
         round({_DUCK_DOT.format(a='p.q_emb', b='a.m_emb')}
               / (p.q_norm * a.m_norm), 6) AS cosine
  FROM probes p JOIN assigned a USING (c_id)
),
ranked AS (
  SELECT new_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY new_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT new_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOPK}
ORDER BY new_id, rank
"""


# --------------------------------------------------------------------------
def label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class separability of the embedding space: for every label pair,
    the cosine between the two label centroids (inter-class) next to
    each side's mean vector-to-own-centroid cosine (intra-class
    cohesion), and a separable verdict (inter < both intras). The gate
    run before trusting the label column for classifier training or
    stratified eval splits -- labels whose centroids cosine higher
    than their own cohesion are not linearly distinguishable in this
    space, and a drop in this table after an embedding-model swap is
    the regression signal.

    EXACT arithmetic end to end (the source_semantic_similarity
    discipline): vector components quantize to 1e-6 integers, every
    dot/norm accumulates in DECIMAL/HUGEINT integer space in ANY
    order, and the single double division + ppm round at the end
    starts from identical integers on both engines. Scale shape: one
    posexplode (shuffle-free on the spread partitioning), a
    (label, dim) keyed centroid agg bounded by |labels| x dims, the
    per-vector rejoin against that bounded table, and a final
    |labels|^2 pair join -- nothing corpus-sized ever broadcasts or
    re-shuffles wider than (vec_id, dim) rows."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    v = emb.selectExpr(
        "vec_id", "label", "posexplode(embedding) AS (i, x)"
    ).selectExpr(
        "vec_id", "label", "i",
        "CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS v",
    )
    # cache() the centroid table: it is BOUNDED at |labels| x dims rows
    # (tens of KB at any corpus size) but was consumed FIVE times
    # (per_vec join, ns twice via intra's two references, both sides of
    # the pair self-join), and every uncached reference re-evaluated
    # the full corpus posexplode + aggregate underneath it -- the plan
    # scanned embeddings 10 times (round-13 optimization, guide §2.4 /
    # §5 -- cache only what is reused AND provably small).
    cent = v.groupBy("label", "i").agg(
        F.expr("CAST(sum(v) AS DECIMAL(19, 0))").alias("s"),
        F.count("*").alias("n"),
    ).cache()
    # per-vector cosine to OWN centroid, all-integer accumulations
    per_vec = (
        v.join(cent.select("label", "i", "s"), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.expr("sum(CAST(v AS DECIMAL(19,0)) * s)").alias("dot"),
            F.expr(
                "sum(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)))"
            ).alias("nv"),
        )
    )
    ns = cent.groupBy("label").agg(
        F.expr("sum(s * s)").alias("ns2"),
        F.max("n").alias("n_vecs"),
    )
    intra = (
        per_vec.join(ns, "label")
        .selectExpr(
            "label",
            "CAST(round(CAST(dot AS DOUBLE)"
            " / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(ns2 AS DOUBLE)))"
            " * 1000000, 0) AS BIGINT) AS cos_ppm",
        )
        .groupBy("label")
        .agg(
            F.expr(
                "CAST(round(avg(cos_ppm), 0) AS BIGINT) AS intra_ppm"
            )
        )
        .join(ns.select("label", "n_vecs"), "label")
        # O(labels) rows consumed by BOTH sides of the final pair join;
        # uncached, each side re-ran the per-vector cosine pass (a full
        # corpus-sized join + aggregate) -- same round-13 bounded-cache
        # rationale as `cent` above
        .cache()
    )
    a, b = cent.alias("a"), cent.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.expr("sum(a.s * b.s)").alias("dot"),
            F.expr("sum(a.s * a.s)").alias("na"),
            F.expr("sum(b.s * b.s)").alias("nb"),
        )
        .selectExpr(
            "label_a",
            "label_b",
            "CAST(round(CAST(dot AS DOUBLE)"
            " / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))"
            " * 1000000, 0) AS BIGINT) AS centroid_cos_ppm",
        )
    )
    ia = intra.selectExpr(
        "label AS label_a", "intra_ppm AS intra_a_ppm",
        "n_vecs AS n_a",
    )
    ib = intra.selectExpr(
        "label AS label_b", "intra_ppm AS intra_b_ppm",
        "n_vecs AS n_b",
    )
    return (
        pair.join(ia, "label_a")
        .join(ib, "label_b")
        .selectExpr(
            "label_a", "label_b", "n_a", "n_b", "centroid_cos_ppm",
            "intra_a_ppm", "intra_b_ppm",
            "CAST(centroid_cos_ppm < least(intra_a_ppm, intra_b_ppm)"
            " AS INT) AS separable",
        )
        .orderBy("label_a", "label_b")
    )


LABEL_CENTROID_SEPARATION_SQL = """
WITH v AS (
  SELECT vec_id, label, i - 1 AS i,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT)
           AS v
  FROM (SELECT vec_id, label, embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
),
cent AS (
  SELECT label, i, CAST(sum(v) AS HUGEINT) AS s, count(*) AS n
  FROM v GROUP BY label, i
),
per_vec AS (
  SELECT vec_id, a.label,
         sum(CAST(a.v AS HUGEINT) * c.s) AS dot,
         sum(CAST(a.v AS HUGEINT) * CAST(a.v AS HUGEINT)) AS nv
  FROM v a JOIN cent c ON a.label = c.label AND a.i = c.i
  GROUP BY vec_id, a.label
),
ns AS (
  SELECT label, sum(s * s) AS ns2, max(n) AS n_vecs
  FROM cent GROUP BY label
),
intra AS (
  SELECT p.label,
         CAST(round(avg(CAST(round(CAST(dot AS DOUBLE)
              / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(ns2 AS DOUBLE)))
              * 1000000, 0) AS BIGINT)), 0) AS BIGINT) AS intra_ppm,
         max(n_vecs) AS n_vecs
  FROM per_vec p JOIN ns USING (label)
  GROUP BY p.label
),
pair AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(round(CAST(sum(a.s * b.s) AS DOUBLE)
              / (sqrt(CAST(sum(a.s * a.s) AS DOUBLE))
                 * sqrt(CAST(sum(b.s * b.s) AS DOUBLE)))
              * 1000000, 0) AS BIGINT) AS centroid_cos_ppm
  FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT p.label_a, p.label_b,
       CAST(ia.n_vecs AS BIGINT) AS n_a,
       CAST(ib.n_vecs AS BIGINT) AS n_b,
       p.centroid_cos_ppm,
       ia.intra_ppm AS intra_a_ppm,
       ib.intra_ppm AS intra_b_ppm,
       CAST(p.centroid_cos_ppm < least(ia.intra_ppm, ib.intra_ppm) AS INT)
         AS separable
FROM pair p
JOIN intra ia ON ia.label = p.label_a
JOIN intra ib ON ib.label = p.label_b
ORDER BY p.label_a, p.label_b
"""


# --------------------------------------------------------------------------
TWONN_SAMPLE = 64  # constant-size anchor set at ANY corpus scale


def intrinsic_dim_twonn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of the embedding manifold
    (Facco et al. 2017): for each of {TWONN_SAMPLE} md5-ranked sample
    points, the ratio mu = r2/r1 of its two nearest-neighbor distances;
    the MLE is d = n / sum(ln mu). The number an embedding pipeline
    reads before choosing index parameters and quantization budgets --
    a 64-dim column whose data lives on a ~9-dim manifold prunes very
    differently from one that fills the space (IVF cell balance,
    int8 clipping, and SemDeDup radius all track intrinsic, not
    ambient, dimension.)

    Scale shape: the sample is a CONSTANT {TWONN_SAMPLE} rows at any
    corpus size (md5-ranked TakeOrdered -- deterministic, engine-
    agnostic), so the distance pass is a broadcast-anchor linear scan
    of the corpus (the ann_cosine_topk pattern). Squared distances
    come from the bit-exact norm/dot fold (d2 = qn^2 + n^2 - 2*dot,
    rounded 6dp like every cross-engine cosine here); ln(mu) is
    summed in 1e-6 fixed point (the dsir/bigram_lm convention), so
    the estimate is integer-exact across engines. Zero-distance
    neighbors (exact duplicate vectors) are excluded, per the
    estimator's definition.

    Round-13 optimization (guide §4.2, the _nearest_cells_udf
    pattern): the corpus x {TWONN_SAMPLE} distance pass runs as an
    Arrow-batched numpy kernel -- one vectorized add per dimension in
    ascending order replays the identical left-to-right IEEE fold as
    the SQL aggregate(), and BOTH norms are recomputed from the same
    fold inside the kernel, so every raw d2 double is bit-equal to
    the old crossJoin expression's. The kernel pre-prunes to a PROVED
    SUPERSET of each anchor's top-2: per (anchor, batch) it keeps
    rows with raw d2 <= (2nd-smallest surely-surviving d2) + 2e-6 --
    round(x, 6) moves a value by at most 5e-7, so a dropped row's
    ROUNDED d2 is strictly above two surviving rows' and it can never
    rank top-2; "surely surviving" means raw d2 >= 6e-7 (rounds to
    >= 1e-6), and rows below 4e-7 round to 0 and are dropped by the
    same d2 > 0 filter both engines apply. The exact round + rank
    then happen JVM-side on the tiny survivor frame, byte-identical
    to before (7.6 -> 2.6 s best-of-2 at the 100x scale test: the
    64x interpreted-fold row blowup and the corpus-sized shuffle into
    the 64-partition ranking window are both gone)."""
    import numpy as np

    vecs = _vectors(spark, sf_dir)
    sample_rows = (
        vecs.withColumn(
            "sk", F.expr("md5(concat('twonn:', CAST(vec_id AS STRING)))")
        )
        .orderBy("sk", "vec_id")
        .limit(TWONN_SAMPLE)
        .select("vec_id", "emb")
        .collect()
    )
    qid = np.asarray([r["vec_id"] for r in sample_rows], dtype=np.int64)
    Q = np.asarray([r["emb"] for r in sample_rows], dtype=np.float64)
    accq = np.zeros(Q.shape[0])
    for i in range(Q.shape[1]):  # ascending dims = the fold order
        accq = accq + Q[:, i] * Q[:, i]
    qn2 = np.sqrt(accq) * np.sqrt(accq)
    ZKEEP = 4e-7   # below this, round(d2, 6) <= 0 for sure
    ZSURE = 6e-7   # above this, round(d2, 6) >= 1e-6 for sure
    MARGIN = 2e-6  # 2x the 5e-7 max rounding shift, doubled for slack

    def _cand_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf["emb"].to_numpy())
            vid = pdf["vec_id"].to_numpy()
            acc = np.zeros((E.shape[0], Q.shape[0]))
            accn = np.zeros(E.shape[0])
            for i in range(E.shape[1]):  # ascending dims: fold order
                acc = acc + E[:, i : i + 1] * Q[:, i]
                accn = accn + E[:, i] * E[:, i]
            n = np.sqrt(accn)
            # elementwise IEEE ops in the JVM expression's tree order:
            # (qn*qn + n*n) - (2*dot)
            d2m = (qn2[None, :] + (n * n)[:, None]) - 2.0 * acc
            out_q, out_v, out_d = [], [], []
            for j in range(Q.shape[0]):
                col = d2m[:, j]
                sure = col[col >= ZSURE]
                if sure.size >= 2:
                    thr = np.partition(sure, 1)[1] + MARGIN
                    keep = (col > ZKEEP) & (col <= thr)
                else:
                    keep = col > ZKEEP
                nk = int(keep.sum())
                if not nk:
                    continue
                out_q.append(np.full(nk, qid[j]))
                out_v.append(vid[keep])
                out_d.append(col[keep])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "d2r": np.concatenate(out_d),
                }
            )

    cand = vecs.select("vec_id", "emb").mapInPandas(
        _cand_batches, "q_id long, vec_id long, d2r double"
    )
    scored = (
        cand.withColumn("d2", F.round(F.col("d2r"), 6))
        .filter(F.col("d2") > 0)
        .select("q_id", "d2", "vec_id")
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    two = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("q_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("d2"))).alias("r1s"),
            F.min(F.when(F.col("rn") == 2, F.col("d2"))).alias("r2s"),
        )
        .filter(F.col("r2s").isNotNull())
    )
    return two.select(
        F.expr(
            "CAST(round(0.5 * ln(r2s / r1s) * 1000000, 0) AS BIGINT)"
        ).alias("lnmu_fp")
    ).agg(
        F.count("*").alias("n_points"),
        F.sum("lnmu_fp").alias("sum_log_mu_fp"),
        F.expr(
            "CAST(CASE WHEN sum(lnmu_fp) <= 0 THEN 0"
            " ELSE count(*) * 1000000000 DIV sum(lnmu_fp) END AS BIGINT)"
        ).alias("id_milli"),
    )


INTRINSIC_DIM_TWONN_SQL = f"""
WITH vecs AS ({_DUCK_VECTORS}),
sample AS (
  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm
  FROM vecs
  ORDER BY md5('twonn:' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {TWONN_SAMPLE}
),
scored AS (
  SELECT s.q_id, v.vec_id,
         round(s.q_norm * s.q_norm + v.norm * v.norm
               - 2 * ({_DUCK_DOT.format(a='s.q_emb', b='v.emb')}), 6) AS d2
  FROM sample s, vecs v
),
ranked AS (
  SELECT q_id, d2,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY d2 ASC, vec_id ASC) AS rn
  FROM scored WHERE d2 > 0
),
two AS (
  SELECT q_id,
         min(CASE WHEN rn = 1 THEN d2 END) AS r1s,
         min(CASE WHEN rn = 2 THEN d2 END) AS r2s
  FROM ranked WHERE rn <= 2
  GROUP BY q_id
  HAVING min(CASE WHEN rn = 2 THEN d2 END) IS NOT NULL
),
fp AS (
  SELECT CAST(round(0.5 * ln(r2s / r1s) * 1000000, 0) AS BIGINT) AS lnmu_fp
  FROM two
)
SELECT CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(lnmu_fp) AS BIGINT) AS sum_log_mu_fp,
       CAST(CASE WHEN sum(lnmu_fp) <= 0 THEN 0
            ELSE count(*) * 1000000000 // sum(lnmu_fp) END AS BIGINT)
         AS id_milli
FROM fp
"""


# --------------------------------------------------------------------------
HYBRID_RRF_K = 60  # the standard RRF damping constant (Cormack et al.)
HYBRID_QVEC = 0  # the query vector fused with the BM25 term query
HYBRID_TOPK = 20


def hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion -- the canonical
    way an LLM-data pipeline combines its two retrieval primitives
    for targeted corpus audits: the LEXICAL ranking (textops.bm25_topk
    -- Okapi BM25 over the fixed term query, postings-filtered at the
    scan) and the SEMANTIC ranking (ann_ivf_topk's IVF-probed cosine
    top-{TOPK} for query vector {HYBRID_QVEC}, riding the 1:1
    doc_id==vec_id alignment fk_integrity_check audits). Fusion is
    INTEGER-EXACT RRF: each ranking contributes
    1000000 DIV ({HYBRID_RRF_K} + rank) and a doc absent from one
    ranking contributes 0 from it -- no doubles cross the engine
    boundary, and ties break by doc_id.

    Scale shape: both input rankings are already top-K frames (the
    BM25 scorer's and the IVF probe's per-query top-k), so the fusion
    (``_rrf_fuse``) is a full-outer join of two constant-size frames --
    free at any corpus size. The corpus-sized work is
    exactly the two components' own audited plans; in production the
    semantic side swaps for ann_search over the persisted IVF index
    (persist_ann_index) and pays no assignment pass at all."""
    from .textops import _bm25_fresh

    lex_r = _bm25_fresh(spark, sf_dir).selectExpr(
        "q_id", "doc_id", "rank AS lex_rank"
    )
    sem_r = ann_ivf_topk(spark, sf_dir).filter(
        F.col("q_id") == HYBRID_QVEC
    ).selectExpr("0 AS q_id", "neighbor_id AS doc_id", "rank AS sem_rank")
    return _rrf_fuse(lex_r, sem_r, HYBRID_TOPK).drop("q_id")


def _hybrid_topk_sql() -> str:
    from .textops import BM25_TOPK_SQL

    return f"""
WITH lex AS ({BM25_TOPK_SQL}),
sem AS ({ANN_IVF_TOPK_SQL}),
lex_r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_fp DESC, doc_id ASC)
           AS lex_rank
  FROM lex
),
sem_r AS (
  SELECT neighbor_id AS doc_id, rank AS sem_rank
  FROM sem WHERE q_id = {HYBRID_QVEC}
),
fused AS (
  SELECT doc_id,
         COALESCE(l.lex_rank, 0) AS lex_rank,
         COALESCE(s.sem_rank, 0) AS sem_rank,
         (CASE WHEN l.lex_rank IS NULL THEN 0
               ELSE 1000000 // ({HYBRID_RRF_K} + l.lex_rank) END
          + CASE WHEN s.sem_rank IS NULL THEN 0
                 ELSE 1000000 // ({HYBRID_RRF_K} + s.sem_rank) END)
           AS rrf_fp
  FROM lex_r l FULL OUTER JOIN sem_r s USING (doc_id)
)
SELECT doc_id,
       CAST(lex_rank AS INT) AS lex_rank,
       CAST(sem_rank AS INT) AS sem_rank,
       CAST(rrf_fp AS BIGINT) AS rrf_fp
FROM fused
ORDER BY rrf_fp DESC, doc_id ASC
LIMIT {HYBRID_TOPK}
"""


def _rrf_fuse(lex_r: DataFrame, sem_r: DataFrame, k: int) -> DataFrame:
    """Integer-exact reciprocal-rank fusion, per q_id, of a lexical
    (q_id, doc_id, lex_rank) and a semantic (q_id, doc_id, sem_rank)
    ranking: each ranking contributes 1000000 DIV ({HYBRID_RRF_K} +
    rank) and a doc absent from one contributes 0 from it. Returns the
    top-k (q_id, doc_id, lex_rank, sem_rank, rrf_fp) rows per q_id
    (absent ranks read 0), ties broken by doc_id."""
    rrf = (
        f"CASE WHEN lex_rank IS NULL THEN 0"
        f" ELSE 1000000 DIV ({HYBRID_RRF_K} + lex_rank) END"
        f" + CASE WHEN sem_rank IS NULL THEN 0"
        f" ELSE 1000000 DIV ({HYBRID_RRF_K} + sem_rank) END"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("rrf_fp"), F.asc("doc_id"))
    return (
        lex_r.join(sem_r, ["q_id", "doc_id"], "full_outer")
        .selectExpr(
            "q_id",
            "doc_id",
            "CAST(COALESCE(lex_rank, 0) AS INT) AS lex_rank",
            "CAST(COALESCE(sem_rank, 0) AS INT) AS sem_rank",
            f"CAST({rrf} AS BIGINT) AS rrf_fp",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .orderBy("q_id", F.desc("rrf_fp"), F.asc("doc_id"))
    )


def hybrid_search(
    spark: SparkSession,
    terms: tuple[str, ...] | list[str],
    query_emb: list[float],
    k: int = HYBRID_TOPK,
    text_prefix: str = "text_idx",
    ann_prefix: str = "ann_idx",
) -> DataFrame:
    """hybrid_topk's PRODUCTION form: reciprocal-rank fusion of an
    arbitrary term query against the persisted lexical index
    (persist_text_index) and an arbitrary query vector against the
    persisted IVF index (persist_ann_index's live members) -- both
    sides zero-rescan probes, both sides tombstone-aware, so a
    takedown disappears from hybrid retrieval within one tombstone
    append on each index. It is ``hybrid_search_batch`` on a one-row
    request (q_id 0), returned without the q_id column."""
    q = spark.createDataFrame(
        [(0, list(terms), [float(x) for x in query_emb])],
        "q_id bigint, terms array<string>, emb array<double>",
    )
    return hybrid_search_batch(
        spark, q, k, text_prefix=text_prefix, ann_prefix=ann_prefix
    ).drop("q_id")


def hybrid_search_batch(
    spark: SparkSession,
    queries: DataFrame,
    k: int = HYBRID_TOPK,
    text_prefix: str = "text_idx",
    ann_prefix: str = "ann_idx",
) -> DataFrame:
    """Hybrid retrieval for a REQUEST FRAME of queries -- (q_id BIGINT,
    terms ARRAY<STRING>, emb ARRAY<DOUBLE>) -- answered in ONE pass
    over each persisted index instead of one probe pair per query:
    the lexical side scores the live postings once for the UNION of
    all query terms with the BM25 scorer (``textops._bm25_rank``,
    tombstone-aware stats included), the semantic side hands
    ann_search ALL query vectors at once (one kernel cell-assignment
    pass, one bucketed candidate join), and ``_rrf_fuse`` fuses per
    (q_id, doc_id).

    Scale shape: the term union and the query vectors are
    request-sized (they ride broadcasts), both index probes stay
    zero-rescan/bucket-pruned, and every per-query stage is a q_id-
    partitioned window over O(matching postings / probed cells) rows
    -- Q queries cost one shared probe pass + O(Q x top-K)
    arithmetic, never Q corpus passes. q_ids must be >= 0 (vectors
    probe the index under the reserved negative range -1-q_id, so a
    query can never be mistaken for an indexed member and
    self-excluded)."""
    from ..storage import index_table
    from .textops import (
        BM25_TOPK,
        _bm25_rank,
        _live_text_stats,
        live_text_index,
    )

    qterms = queries.select("q_id", F.explode("terms").alias("t")).distinct()
    terms = [r["t"] for r in qterms.select("t").distinct().collect()]
    post_t, _doc_t = live_text_index(spark, text_prefix)
    lex_r = _bm25_rank(
        post_t.filter(F.col("t").isin(terms)),
        qterms,
        _live_text_stats(spark, text_prefix),
        BM25_TOPK,
    ).selectExpr("q_id", "doc_id", "rank AS lex_rank")
    sem_r = ann_search(
        index_table(spark, f"{ann_prefix}_cents"),
        live_ann_members(spark, ann_prefix),
        queries.selectExpr("-1 - q_id AS vec_id", "emb"),
    ).selectExpr(
        "-1 - q_id AS q_id", "neighbor_id AS doc_id", "rank AS sem_rank"
    )
    return _rrf_fuse(lex_r, sem_r, k)


QUERIES = {
    "hybrid_topk": hybrid_topk,
    "intrinsic_dim_twonn": intrinsic_dim_twonn,
    "label_centroid_separation": label_centroid_separation,
    "emb_quantize_int8": emb_quantize_int8,
    "ann_int8_recall": ann_int8_recall,
    "ann_knn_join": ann_knn_join,
    "ann_cosine_topk": ann_cosine_topk,
    "embedding_near_dup": embedding_near_dup,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_ivf_topk": ann_ivf_topk,
    "semantic_dedup_clusters": semantic_dedup_clusters,
    "embedding_outliers": embedding_outliers,
    "ann_recall_eval": ann_recall_eval,
    "ivf_cell_stats": ivf_cell_stats,
    "ann_index_stats": ann_index_stats,
    "dedup_signal_crosstab": dedup_signal_crosstab,
    "source_semantic_similarity": source_semantic_similarity,
    "kmeans_fixedpoint": kmeans_fixedpoint,
    "ivf_probe_sweep": ivf_probe_sweep,
}

ORACLE = {
    "hybrid_topk": _hybrid_topk_sql(),
    "intrinsic_dim_twonn": INTRINSIC_DIM_TWONN_SQL,
    "label_centroid_separation": LABEL_CENTROID_SEPARATION_SQL,
    "emb_quantize_int8": EMB_QUANTIZE_INT8_SQL,
    "ann_int8_recall": ANN_INT8_RECALL_SQL,
    "ann_knn_join": ANN_KNN_JOIN_SQL,
    "ann_cosine_topk": ANN_COSINE_TOPK_SQL,
    "embedding_near_dup": EMBEDDING_NEAR_DUP_SQL,
    "ann_lsh_bucketed": ANN_LSH_BUCKETED_SQL,
    "ann_ivf_topk": ANN_IVF_TOPK_SQL,
    "semantic_dedup_clusters": SEMANTIC_DEDUP_CLUSTERS_SQL,
    "embedding_outliers": EMBEDDING_OUTLIERS_SQL,
    "ann_recall_eval": ANN_RECALL_EVAL_SQL,
    "ivf_cell_stats": IVF_CELL_STATS_SQL,
    "ann_index_stats": _ann_index_stats_sql(),
    "dedup_signal_crosstab": _crosstab_sql(),
    "source_semantic_similarity": SOURCE_SEMANTIC_SIMILARITY_SQL,
    "kmeans_fixedpoint": KMEANS_FIXEDPOINT_SQL,
    "ivf_probe_sweep": IVF_PROBE_SWEEP_SQL,
}
