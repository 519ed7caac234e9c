"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k, Arrow-vectorized — the whole embedding
matrix streams through a pandas UDF in Arrow batches, each batch scored with
one BLAS matvec (`M @ q`). This is embarrassingly parallel (no shuffle until
the final top-k, which is a TakeOrderedAndProject — per-partition heaps then
a k-row merge on the driver), so it scales linearly with executors.

Scale path: ``knn_cosine_lsh`` buckets vectors with MLlib's
BucketedRandomProjectionLSH (random hyperplanes) and only scores the probe's
buckets — sublinear candidate sets at the cost of recall (tested >= 0.9
against brute force in tests/test_similarity.py).

``label_centroids`` computes per-label mean embeddings JVM-side with
``posexplode`` + hash aggregation — no Python in the loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Tile edge of the per-bucket pairwise pass in embedding_candidates_lsh:
# O(block^2) float64 intermediates per tile (32 MB at 2048). Read at call
# time, so a test can shrink it to force the tiled path.
_GRAM_BLOCK = 2048

__all__ = [
    "cosine_scores",
    "knn_cosine",
    "knn_cosine_lsh",
    "knn_cosine_ivf",
    "label_centroids",
    "embedding_candidates_lsh",
    "build_ivf_index",
    "assign_to_frozen_cells",
    "append_ivf_index",
    "compact_ivf_cells",
    "knn_cosine_ivf_indexed",
    "srp_hyperplanes",
    "srp_key_exprs",
    "srp_query_keys",
    "knn_cosine_srp",
]


def cosine_scores(df: DataFrame, query_vec: list[float], emb_col: str = "embedding") -> DataFrame:
    """Add a ``sim`` column: cosine similarity of ``emb_col`` to ``query_vec``.

    float64 math (matches DuckDB's LIST_COSINE_SIMILARITY bit-for-bit on the
    fixture vectors after ROUND(.,4) — verified in the t2 harness).
    """
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    @pandas_udf("double")
    def _cos(batch: pd.Series) -> pd.Series:
        m = np.stack(batch.to_numpy()).astype(np.float64)
        sims = (m @ q) / (np.linalg.norm(m, axis=1) * qn)
        return pd.Series(sims)

    return df.withColumn("sim", _cos(F.col(emb_col)))


def knn_cosine(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    round_to: int | None = 4,
) -> DataFrame:
    """Brute-force top-k by cosine similarity; ties broken by ``id_col``.

    The ``orderBy().limit(k)`` plans as TakeOrderedAndProject: each
    partition keeps a k-row heap, the driver merges heaps — no global sort,
    no full shuffle, O(k) driver memory.
    """
    scored = cosine_scores(df, query_vec, emb_col)
    sim = F.round(F.col("sim"), round_to) if round_to is not None else F.col("sim")
    return (
        scored.select(F.col(id_col), sim.cast("double").alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def knn_cosine_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via random-hyperplane bucketing (MLlib LSH).

    For unit-normalised vectors, Euclidean NN order == cosine NN order
    (||a-b||^2 = 2 - 2cos), so BucketedRandomProjectionLSH's
    approxNearestNeighbors gives cosine neighbours. Returns the same schema
    as :func:`knn_cosine` (id, sim) for drop-in comparison.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    vecs = df.select(id_col, array_to_vector(F.col(emb_col)).alias("features"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(vecs)
    q = Vectors.dense([float(x) for x in query_vec])
    qn = float(np.linalg.norm(np.asarray(query_vec, dtype=np.float64)))
    nn = model.approxNearestNeighbors(vecs, q, k)
    # distCol is Euclidean; convert back to cosine for a comparable score.
    sim = (F.lit(1.0) - F.col("distCol") * F.col("distCol") / (2.0 * qn * qn))
    return nn.select(F.col(id_col), F.round(sim, 4).cast("double").alias("sim")).orderBy(
        F.col("sim").desc(), F.col(id_col)
    )


# -- portable sign-random-projection LSH -------------------------------------
#
# MLlib's BucketedRandomProjectionLSH draws its hyperplanes from a JVM-
# private seeded RNG, so no other engine can reproduce its buckets — the
# reason llm_knn_lsh was a rows-only check through round 5. This variant
# derives every hyperplane component from md5 (Charikar STOC'02 sign-
# random-projection, the cosine LSH family), so ANY md5-capable engine
# rebuilds the identical index: the DuckDB oracle twin executes the same
# key computation as literal SQL and the whole approximate result set is
# hash-verified. The per-vector keys are STATIC codegen expressions
# (sum of sign bits of md5-derived dot products, left-to-right fp order
# pinned by expression shape on both engines) — no HOF interpretation,
# no RNG, no Python in the scan.


def srp_hyperplanes(
    n_tables: int, n_bits: int, dims: int, tag: str = "nyuki-srp"
) -> list[list[list[float]]]:
    """``n_tables x n_bits`` unit-norm hyperplanes, each component derived
    from md5(tag-plane-dim) — deterministic, engine-independent, no RNG.
    Returned as [table][bit][dim] float64s; every consumer embeds these
    as literals, so both engines compute with bit-identical constants."""
    import hashlib
    import math

    planes: list[list[list[float]]] = []
    for t in range(n_tables):
        tbl: list[list[float]] = []
        for b in range(n_bits):
            comps = [
                2.0
                * (
                    int(
                        hashlib.md5(
                            f"{tag}-{t * n_bits + b}-{d}".encode()
                        ).hexdigest()[:12],
                        16,
                    )
                    / float(16**12)
                )
                - 1.0
                for d in range(dims)
            ]
            norm = math.sqrt(sum(c * c for c in comps))
            tbl.append([c / norm for c in comps])
        planes.append(tbl)
    return planes


def _srp_dot_text(vec: str, plane: list[float], dialect: str) -> str:
    """The dot product of ``vec`` (an array column) with a literal
    hyperplane as SQL text. Both dialects emit the same left-associative
    ``+`` chain over the same ``repr`` constants, so the float64 result
    is bit-identical — the property the sign comparison needs."""
    if dialect == "spark":
        terms = [
            f"(CAST({vec}[{d}] AS DOUBLE) * {c!r})"
            for d, c in enumerate(plane)
        ]
    else:  # duckdb: 1-based list indexing
        terms = [
            f"({vec}[{d + 1}]::DOUBLE * {c!r})" for d, c in enumerate(plane)
        ]
    return " + ".join(terms)


def srp_key_exprs(
    vec: str,
    planes: list[list[list[float]]],
    dialect: str,
) -> list[str]:
    """Per-table integer key expressions: key_t = sum over bits of
    2^b * (dot(vec, plane_tb) >= 0). Pure static projection — at 100 TB
    this is a map-only stage inside whole-stage codegen (Spark) / a
    vectorized projection (DuckDB)."""
    exprs = []
    for tbl in planes:
        bits = [
            f"(CASE WHEN ({_srp_dot_text(vec, plane, dialect)}) >= 0"
            f" THEN {1 << b} ELSE 0 END)"
            for b, plane in enumerate(tbl)
        ]
        exprs.append("(" + " + ".join(bits) + ")")
    return exprs


def srp_query_keys(
    query_vec: list[float],
    planes: list[list[list[float]]],
    hamming: int = 1,
) -> list[tuple[int, int]]:
    """(table, key) probe pairs for ``query_vec``: the exact key plus all
    keys within the given Hamming radius (single-bit flips for radius 1).
    The dots run as plain left-to-right float64 Python sums — the same
    operation sequence as the SQL ``+`` chains, so the signs (and hence
    the keys) agree with both engines exactly."""
    probes: list[tuple[int, int]] = []
    for t, tbl in enumerate(planes):
        key = 0
        for b, plane in enumerate(tbl):
            dot = 0.0
            for x, c in zip(query_vec, plane):
                dot += float(x) * c
            if dot >= 0:
                key |= 1 << b
        probes.append((t, key))
        if hamming >= 1:
            for b in range(len(tbl)):
                probes.append((t, key ^ (1 << b)))
    return probes


def knn_cosine_srp(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_tables: int = 4,
    n_bits: int = 8,
    hamming: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by cosine via portable sign-random-projection
    LSH: per-vector table keys (static codegen projection) -> posexplode
    to (table, key) rows -> equi-join with the broadcast probe-key list
    (n_tables * (1 + n_bits) rows for Hamming<=1) -> distinct candidate
    ids -> exact rerank via :func:`knn_cosine`. The only shuffle is the
    candidate distinct; at scale the (table, key) pairs are a bucket
    layout and the probe join is partition pruning.
    """
    dims = len(query_vec)
    planes = srp_hyperplanes(n_tables, n_bits, dims)
    # Key computation runs as an Arrow-batched mapInPandas, NOT the static
    # SQL chains the oracle uses: 32 dot products x 64 terms in one
    # codegen stage is ~2048 expression terms in a single Janino consume
    # method — "Code grows beyond 64 KB" and a 10x interpreted fallback.
    # Parity with the oracle's left-to-right `+` chains is preserved
    # bit-for-bit because np.cumsum is a strictly sequential prefix sum
    # (unlike np.sum/matmul's pairwise order): per-element products are
    # exact in float64 regardless of order, and the summation order is
    # the same left-to-right chain.
    parr = np.asarray(planes, dtype=np.float64).reshape(
        n_tables * n_bits, dims
    )

    def _keys(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            keys = np.zeros((len(m), n_tables), dtype=np.int32)
            for t in range(n_tables):
                for b in range(n_bits):
                    dots = np.cumsum(m * parr[t * n_bits + b], axis=1)[:, -1]
                    keys[:, t] |= (dots >= 0).astype(np.int32) << b
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, n_tables),
                    "t": np.tile(
                        np.arange(n_tables, dtype=np.int32), len(m)
                    ),
                    "key": keys.ravel(),
                }
            )

    pool_keys = df.select(id_col, emb_col).mapInPandas(
        _keys, f"{id_col} long, t int, key int"
    )
    probes = df.sparkSession.createDataFrame(
        srp_query_keys(query_vec, planes, hamming), "t int, key int"
    )
    cand = (
        pool_keys.join(F.broadcast(probes), ["t", "key"])
        .select(id_col)
        .distinct()
    )
    return knn_cosine(
        df.join(cand, id_col, "semi"), query_vec, k=k,
        id_col=id_col, emb_col=emb_col,
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    emb_col: str = "embedding",
    dims: list[int] | None = None,
    round_to: int = 4,
) -> DataFrame:
    """Per-label centroid components, entirely JVM-side (no UDF).

    ``dims=None`` averages every component via posexplode (one shuffle,
    partial aggregation map-side); an explicit ``dims`` list averages only
    those components with plain column arithmetic.
    """
    if dims is not None:
        aggs = [F.count(F.lit(1)).alias("n")] + [
            F.round(F.avg(F.col(emb_col)[d]), round_to).cast("double").alias(f"c{d}")
            for d in dims
        ]
        return df.groupBy(label_col).agg(*aggs).orderBy(label_col)
    exploded = df.select(label_col, F.posexplode(F.col(emb_col)).alias("dim", "v"))
    return (
        exploded.groupBy(label_col, "dim")
        .agg(F.round(F.avg("v"), round_to).cast("double").alias("c"))
        .groupBy(label_col)
        .agg(F.map_from_entries(F.sort_array(F.collect_list(F.struct("dim", "c")))).alias("centroid"))
        .orderBy(label_col)
    )


# In-session memo of MLlib's seeded BRP projection vectors, keyed on the
# pure inputs that determine them (dim, table count, seed). These are
# RANDOM CONSTANTS, not data: memoizing them skips a JVM model fit per
# call, never a byte of query input.
_BRP_VECTOR_CACHE: dict[tuple[int, int, int], np.ndarray] = {}


def _brp_unit_vectors(spark, dim: int, num_hash_tables: int, seed: int) -> np.ndarray:
    """The exact ``randUnitVectors`` MLlib's BucketedRandomProjectionLSH
    draws for (dim, numHashTables, seed) — obtained by fitting the model on
    a one-row dummy of the right dimension (the fit reads nothing but the
    input dimension), so native hashing below buckets identically to a
    model fitted on the real data."""
    key = (dim, num_hash_tables, seed)
    got = _BRP_VECTOR_CACHE.get(key)
    if got is None:
        from pyspark.ml.feature import BucketedRandomProjectionLSH
        from pyspark.ml.linalg import Vectors

        dummy = spark.createDataFrame([(Vectors.dense([0.0] * dim),)], ["features"])
        model = BucketedRandomProjectionLSH(
            inputCol="features",
            outputCol="hashes",
            bucketLength=1.0,
            numHashTables=num_hash_tables,
            seed=seed,
        ).fit(dummy)
        got = np.array(
            [list(v.toArray()) for v in model._java_obj.randUnitVectors()],
            dtype=np.float64,
        )
        _BRP_VECTOR_CACHE[key] = got
    return got


def embedding_candidates_lsh(
    df: DataFrame,
    sim_floor: float = 0.3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs with cosine >= ``sim_floor``, via LSH.

    The scale path for pair search: random-projection bucketing turns the
    all-pairs problem into per-bucket groups — candidate volume scales
    with bucket collisions, not |corpus|^2. For unit-normalised embeddings
    ``d^2 = 2 - 2*cos``, so a cosine floor maps exactly to a Euclidean
    radius; the TRUE distance is verified on every collision pair,
    discarding false positives.

    Implementation (r12): the same hash family as MLlib's
    ``BucketedRandomProjectionLSH`` — ``floor(dot(v, u_i)/bucketLength)``
    over the model's seeded ``randUnitVectors`` (extracted via a dummy
    fit, bit-identical to fitting on the data) — but hashing runs as one
    BLAS matmul per Arrow batch and the per-bucket distance filter as one
    Gram-matrix pass per (table, bucket) group, instead of
    ``approxSimilarityJoin``'s per-pair JVM vector UDF. The emitted pair
    set equals the former ``approxSimilarityJoin`` output (same buckets,
    same strict ``dist < radius`` predicate, float64 both sides);
    measured 5.5 s -> 1.1 s on the sf0.1 funnel with an identical
    4136-pair set.

    Recall is probabilistic (seeded, hence deterministic per run): a true
    pair is missed only if it collides in none of ``num_hash_tables``
    tables. At the defaults the fixture corpora lose no pair above the
    floor (asserted against brute force in tests/test_similarity.py); on a
    real near-dup corpus the interesting pairs sit far above any sane
    floor, where collision probability is highest.
    """
    spark = df.sparkSession
    # Cosine floor -> squared Euclidean radius on the unit sphere.
    r2 = float(max(2.0 - 2.0 * sim_floor, 0.0))
    dim = int(df.select(F.size(F.col(emb_col))).limit(1).collect()[0][0])
    proj_t = _brp_unit_vectors(spark, dim, num_hash_tables, seed).T.copy()
    blen = float(bucket_length)

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    id_type = df.schema[id_col].dataType

    @pandas_udf(ArrayType(LongType()))
    def _buckets(e: pd.Series) -> pd.Series:
        if e.empty:
            return pd.Series([], dtype=object)
        m = np.vstack(e.to_numpy()).astype(np.float64)
        h = np.floor(m @ proj_t / blen).astype(np.int64)
        return pd.Series(list(h))

    # Tile size for the per-bucket pairwise pass (r13, VERDICT #2): a
    # degenerate bucketLength on unit vectors can put ~the whole corpus in
    # one (table, bucket) group, and the former single `m @ m.T` Gram pass
    # allocated O(n^2) doubles (plus an O(n^2) bool triu) in one Python
    # worker — an OOM at scale even though the group's O(n*d) embeddings
    # fit. Tiling bounds the pairwise intermediates to O(block^2) per tile
    # (_GRAM_BLOCK) regardless of bucket size; the emitted pair set is
    # bit-identical (same strict d2 < r2 on the same float64 operands,
    # same upper-triangle enumeration).
    gram_block = _GRAM_BLOCK

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.vstack(pdf["_e"].to_numpy()).astype(np.float64)
        ids = pdf["_id"].to_numpy()
        sq = np.einsum("ij,ij->i", m, m)
        n = m.shape[0]
        bs = max(gram_block, 1)
        out_a, out_b = [], []
        for s in range(0, n, bs):
            mb, sqb = m[s : s + bs], sq[s : s + bs]
            for t in range(s, n, bs):
                d2 = (
                    sqb[:, None]
                    + sq[None, t : t + bs]
                    - 2.0 * (mb @ m[t : t + bs].T)
                )
                ii, jj = np.where(d2 < r2)
                gi, gj = ii + s, jj + t
                close = gj > gi  # upper triangle, == the old triu(k=1)
                if not close.any():
                    continue
                out_a.append(ids[gi[close]])
                out_b.append(ids[gj[close]])
        if not out_a:
            return pd.DataFrame(
                {"id_a": ids[:0], "id_b": ids[:0]}
            )
        id_a = np.concatenate(out_a)
        id_b = np.concatenate(out_b)
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        keep = lo < hi  # mirror approxSimilarityJoin's strict id_a < id_b
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    out_schema = StructType(
        [StructField("id_a", id_type), StructField("id_b", id_type)]
    )
    hashed = df.select(
        F.col(id_col).alias("_id"),
        F.col(emb_col).alias("_e"),
        F.posexplode(_buckets(F.col(emb_col))).alias("_t", "_b"),
    )
    return (
        hashed.groupBy("_t", "_b")
        .applyInPandas(_bucket_pairs, out_schema)
        .distinct()
    )


def cell_cosine_pairs(
    df: DataFrame,
    cell_col: str,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "e",
) -> DataFrame:
    """(id_a, id_b) pairs within each ``cell_col`` group whose cosine,
    HALF_UP-rounded to 4 dp, is >= ``threshold`` — id_a < id_b.

    The SemDeDup pair stage (guide §4.2): the former shape joined the cell
    table to itself and ran an interpreted zip_with/aggregate fold PER
    PAIR (Spark never codegens HOF lambdas; an element_at chain A/B'd even
    worse — BASELINE.md r8). Here each cell's members arrive as ONE Arrow
    batch and the full pairwise cosine block is a single float64 BLAS Gram
    pass, exactly the per-bucket filter embedding_candidates_lsh ships.
    Rounding uses the HALF_UP formula of Spark's ROUND (floor(x*1e4+0.5)
    for the non-negative cosines a >=0.42-style threshold can admit), so
    the keep/drop decision matches the JVM fold away from sub-ulp
    boundaries — the same 4-dp contract the oracles verify.

    Scale: cell sizes are bounded by the quantizer's rows-per-cell target,
    so each Gram block is k_cell^2 doubles, never corpus^2; the only
    shuffle is the groupBy on the cell key.
    """
    from pyspark.sql.types import StructField, StructType

    id_type = df.schema[id_col].dataType

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.vstack(pdf["_e"].to_numpy()).astype(np.float64)
        ids = pdf["_id"].to_numpy()
        nrm = np.sqrt(np.einsum("ij,ij->i", m, m))
        sim = (m @ m.T) / np.outer(nrm, nrm)
        simr = np.floor(sim * 1e4 + 0.5) / 1e4
        ia, ib = np.where(np.triu(simr >= threshold, k=1))
        id_a, id_b = ids[ia], ids[ib]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    out_schema = StructType(
        [StructField("id_a", id_type), StructField("id_b", id_type)]
    )
    src = df.select(
        F.col(cell_col).alias("_c"),
        F.col(id_col).alias("_id"),
        F.col(emb_col).alias("_e"),
    )
    return src.groupBy("_c").applyInPandas(_pairs, out_schema)


def knn_cosine_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization.

    Classic IVF-flat (Jegou et al., public): k-means learns ``n_cells``
    coarse centroids; every vector is assigned to its nearest cell (one
    narrow pass); a query scores only the ``n_probe`` cells whose
    centroids are most similar — at scale the cell id becomes a partition
    key, so a probe touches n_probe/n_cells of the data and the rest is
    never read (partition pruning on the parquet layout).

    Deterministic for a fixed seed. Same output schema as
    :func:`knn_cosine` for drop-in recall comparison.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = df.select(id_col, F.col(emb_col), array_to_vector(F.col(emb_col)).alias("features"))
    km = KMeans(k=n_cells, seed=seed, featuresCol="features", predictionCol="cell")
    model = km.fit(vecs)
    assigned = model.transform(vecs)

    q = np.asarray(query_vec, dtype=np.float64)
    centroids = [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]
    by_sim = sorted(
        range(len(centroids)),
        key=lambda i: -(
            float(np.dot(centroids[i], q))
            / ((np.linalg.norm(centroids[i]) * np.linalg.norm(q)) or 1.0)
        ),
    )
    probe_cells = by_sim[:n_probe]
    # Cell-pruned exact scoring: only n_probe cells cross the Arrow boundary.
    pool = assigned.where(F.col("cell").isin(probe_cells)).drop("features", "cell")
    return knn_cosine(pool, query_vec, k=k, id_col=id_col, emb_col=emb_col)


def _probe_cells(centroids: list[tuple[int, list[float]]], query_vec: list[float], n_probe: int) -> list[int]:
    """The ``n_probe`` cell ids whose centroids are most cosine-similar,
    ties by cell id. Plain sequential float64 Python arithmetic, NOT
    numpy: left-to-right sums are the operation sequence DuckDB's
    LIST_REDUCE folds execute, so the similarities — and hence the probe
    set — are bit-identical on both engines (the property that lets
    llm_knn_ivf be hash-verified instead of rows-only)."""
    import math

    qn = 0.0
    for x in query_vec:
        qn += float(x) * float(x)
    qn = math.sqrt(qn) or 1.0
    scored = []
    for cell, c in centroids:
        dot = 0.0
        cn = 0.0
        for ci, qi in zip(c, query_vec):
            dot += float(ci) * float(qi)
        for ci in c:
            cn += float(ci) * float(ci)
        sim = dot / ((math.sqrt(cn) or 1.0) * qn)
        scored.append((sim, cell))
    scored.sort(key=lambda s: (-s[0], s[1]))
    return [cell for _, cell in scored[:n_probe]]


def build_ivf_index(
    df: DataFrame,
    index_dir: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Fit-once IVF index build: the expensive step, run once and persisted.

    The coarse quantizer is the repo's DETERMINISTIC k-means
    (operators/kmeans.py: id-ordered seed, 2 Lloyd iterations, 6-dp
    centroid handoff) — not MLlib's seeded k-means|| (r6): any engine can
    re-derive the identical cells, which is what lets the llm_knn_ivf
    DuckDB twin reproduce assignment + probe + rerank exactly
    (hash-verified instead of rows-only). Every vector is written to
    ``{index_dir}/vectors`` **partitioned by its cell id**, centroids to
    ``{index_dir}/centroids``. Queries then read only their probed cells'
    directories — real partition pruning at the parquet layout level, so a
    probe touches ~n_probe/n_cells of a 100 TB corpus and the rest is never
    scanned. (Round-1 version re-fit KMeans inside every query call — the
    classic IVF anti-pattern this split removes.)
    """
    from nyuki_spark.operators.kmeans import assign_with_centroids, kmeans_fit

    _assigned, cent = kmeans_fit(
        df, k=n_cells, iters=2, id_col=id_col, vec_col=emb_col
    )
    # r12: the final assignment is a pure-map literal-centroid argmin
    # (identical math/tie-break — see operators/kmeans.py), so the write
    # computes its cell inline instead of equi-joining the data back onto
    # a separately materialised assignment: one scan, zero joins, and the
    # only exchange left in the build is the partitioned write itself.
    cent_rows = [(int(r["cid"]), list(r["c"])) for r in cent.collect()]
    data = df.select(
        id_col,
        emb_col,
        assign_with_centroids(
            F.col(emb_col).cast("array<double>"), cent_rows
        ).alias("cell"),
    )
    data.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_dir}/vectors"
    )
    cent.select(
        F.col("cid").alias("cell"), F.col("c").alias("centroid")
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids")


def assign_to_frozen_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(id, embedding, cell) against a FROZEN centroid table — the
    assignment step of daily index maintenance, with the quantizer held
    fixed (the FAISS ``train()``-then-``add()`` contract: appends never
    retrain). Identical math to the fit's assignment (operators/
    kmeans.py, r12 literal form): the bounded centroid table collects to
    k rows and the argmin runs as a pure-map
    ``array_min(array(struct(dist, cell)..))`` — the same left-to-right
    squared-distance fold and the same ``min(struct(dist, cell))``
    cell-id tie-break the pre-r12 crossJoin+groupBy computed, WITHOUT
    re-shuffling the N-row side keyed on (id, embedding) — so an
    appended vector lands in exactly the cell a bulk build with the
    same quantizer would put it in, and the DuckDB oracle twin
    re-derives it with a ROW_NUMBER-over-distance CTE.

    ``centroids`` is the persisted ``{index_dir}/centroids`` table:
    (cell int, centroid array<double>).
    """
    from nyuki_spark.operators.kmeans import assign_with_centroids

    cent_rows = [
        (int(r["cell"]), list(r["centroid"])) for r in centroids.collect()
    ]
    return df.select(
        F.col(id_col),
        F.col(emb_col),
        assign_with_centroids(
            F.col(emb_col).cast("array<double>"), cent_rows
        ).alias("cell"),
    )


def append_ivf_index(
    df_new: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Append new vectors to a prebuilt IVF index WITHOUT a rebuild —
    the operation a growing corpus performs daily (r6 next-round #6).

    New vectors are assigned against the index's frozen centroids
    (:func:`assign_to_frozen_cells`) and appended to the cell-partitioned
    parquet layout (``mode("append")`` adds files inside each touched
    cell directory; existing files are never touched, so a crashed
    append never corrupts served data). Search needs no change: the
    probe's directory pruning sees the new files immediately. The cost
    is one map-side assignment pass over ONLY the new vectors — no
    k-means refit, no rewrite of the existing corpus. Each append adds
    >= 1 file per touched cell; run :func:`compact_ivf_cells` when the
    per-cell file count crosses the compaction threshold.
    """
    spark = df_new.sparkSession
    centroids = spark.read.parquet(f"{index_dir}/centroids")
    assigned = assign_to_frozen_cells(
        df_new, centroids, id_col=id_col, emb_col=emb_col
    )
    assigned.select(id_col, emb_col, "cell").write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{index_dir}/vectors")


def compact_ivf_cells(
    spark,
    index_dir: str,
    max_files_per_cell: int = 8,
) -> dict:
    """Rewrite cells whose file count exceeds the threshold — the
    compaction half of daily maintenance (many small append files kill
    scan throughput: each parquet footer is a round trip, and row
    groups shrink toward row-at-a-time).

    Only oversized cells are rewritten (dynamic partition overwrite —
    untouched cells keep their files byte-identical), each coalesced to
    ceil(rows-proportional) files via a single narrow coalesce(1) per
    cell at test scale; a real deployment sizes it to target-file-size.
    Returns ``{"cells_compacted": n, "files_before": b, "files_after":
    a}`` so callers can log the reclaim.

    The file census goes through the Hadoop FileSystem API (r7 advice:
    ``os.listdir`` silently required a driver-local index_dir; the rest
    of the index code already worked on hdfs://|s3a:// URIs). Listings
    stay bounded — one status call per cell directory.
    """
    from nyuki_spark.functions.fsutil import list_cell_file_counts

    vec_dir = f"{index_dir}/vectors"
    counts = list_cell_file_counts(spark, vec_dir)
    over = sorted(
        int(c.split("=", 1)[1]) for c, n in counts.items() if n > max_files_per_cell
    )
    files_before = sum(counts.values())
    if over:
        df = spark.read.parquet(vec_dir).where(F.col("cell").isin(over))
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell")
            .parquet(vec_dir)
        )
    files_after = sum(list_cell_file_counts(spark, vec_dir).values())
    return {
        "cells_compacted": len(over),
        "files_before": files_before,
        "files_after": files_after,
    }


def knn_cosine_ivf_indexed(
    spark,
    index_dir: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Query a prebuilt IVF index (:func:`build_ivf_index`) — no fitting.

    Reads the (tiny) centroid table, picks ``n_probe`` cells driver-side,
    then scans only those cells' partitions: the ``cell IN (...)`` filter
    prunes at the directory level (`PartitionFilters` in the plan), so
    unprobed cells cost zero I/O. Exact scoring on the pool via
    :func:`knn_cosine`.
    """
    centroids = [
        (int(r["cell"]), list(r["centroid"]))
        for r in spark.read.parquet(f"{index_dir}/centroids").collect()
    ]
    cells = _probe_cells(centroids, query_vec, n_probe)
    pool = (
        spark.read.parquet(f"{index_dir}/vectors")
        .where(F.col("cell").isin(cells))
        .drop("cell")
    )
    return knn_cosine(pool, query_vec, k=k, id_col=id_col, emb_col=emb_col)
