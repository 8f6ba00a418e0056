"""Similarity search over embedding columns — brute-force and LSH-blocked.

North-star extension (SURVEY.md §2.C): the reference has no vector search;
these operators add cosine top-k over ``array<float>`` embeddings the
Spark-first way — JVM higher-order functions for the math
(``functions/vector.py``), broadcast joins for the small query side, and
sign-random-projection LSH banding as the scale path so no unblocked
cartesian product ever appears.

Determinism: similarities are computed on DOUBLE-cast arrays and rounded to
6 decimals before ranking, with neighbor-id tie-breaks — identical output
across engines and runs.

100 TB posture:
- ``brute_force_topk``: query side broadcasts (it is k user queries, not the
  corpus); the corpus streams once; the only shuffle is the per-query top-k
  window over |queries| x |corpus| similarity rows — linear in corpus size,
  never quadratic.
- ``lsh_topk``: each corpus vector lands in ``n_tables`` hash buckets; joins
  are equi-joins on (table, bucket-signature), so candidate generation is
  hash-partitioned and the quadratic blow-up is bounded per bucket.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from datafusion_flight_sql_server_spark.engine.cache import BoundedCache
from datafusion_flight_sql_server_spark.functions.vector import (
    cosine,
    dot,
    norm,
)


def _as_double(col):
    return col.cast("array<double>")


def round_cosine(a, b, digits: int = 6):
    """Cosine on DOUBLE arrays, rounded for engine-portable comparisons."""
    return F.round(cosine(_as_double(a), _as_double(b)), digits)


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_margin: int = 64,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim, rank).

    ``queries`` is a small DataFrame with the same (id, vector) columns —
    a handful of user query vectors, never the corpus; it is collected and
    shipped in the UDF closure. ``max_query_rows`` guards that contract:
    collecting more than that many query vectors raises instead of silently
    OOMing the driver (round-2 review item — a caller passing the corpus as
    ``queries`` gets a ValueError pointing at the LSH/IVF variants, not a
    dead driver). Self-matches are excluded. Ranking is over the ROUNDED
    similarity with neighbor-id tie-break, total-ordered.

    Two-stage exact evaluation:

    1. **Candidate selection** (Arrow-vectorized): ``mapInPandas`` over the
       corpus — each Arrow batch is one numpy matrix multiply against the
       query matrix, keeping the ``k + candidate_margin`` best neighbors per
       query per batch. Shuffle volume is ``n_batches x |Q| x (k+margin)``
       rows, not ``|corpus| x |Q|``.
    2. **Exact re-rank** (JVM): survivors get the same ``round_cosine``
       column expression as the all-pairs form, so scores, tie-breaks, and
       the driver's value hash are identical to computing every pair.

    Stage 1 ranks candidates by the SAME total order as stage 2 —
    similarity quantized to 6 digits descending, neighbor id ascending, as
    one int64 composite key — so rounded-similarity TIES (duplicate or
    near-duplicate embeddings, however many) select exactly the ids the
    final ranking wants. The margin then only absorbs quantization-boundary
    noise: a true top-k neighbor is lost only if numpy's rint of the
    pairwise-summed similarity and the JVM's ROUND of the sequential-fold
    similarity land in different 1e-6 quanta across ``candidate_margin``
    batch-local ranks.

    100 TB posture: the corpus streams once with NO per-pair row explosion;
    per-batch work is one BLAS matmul; the only shuffle is the tiny
    candidate set through one per-query window.
    """
    m = k + candidate_margin
    # Guarded collect: LIMIT max+1 bounds what can ever land on the driver
    # (no extra count job); the sentinel row turns an oversized query side
    # into a fast error instead of an OOM.
    q_rows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"brute_force_topk collects the query side to the driver; got "
            f"> max_query_rows={max_query_rows} query rows. For corpus-sized "
            f"query sets use lsh_topk/ivf_topk (bucketed join, nothing "
            f"driver-side) or raise max_query_rows explicitly."
        )
    spark = emb.sparkSession
    out_cols = "query_id bigint, neighbor_id bigint, sim double, rank bigint"
    if not q_rows:
        return spark.createDataFrame([], out_cols)

    import numpy as np

    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.stack(
        [np.asarray(r[1], dtype=np.float64) for r in q_rows]
    )
    q_norms = np.linalg.norm(q_mat, axis=1)
    q_norms[q_norms == 0] = 1.0
    q_unit = q_mat / q_norms[:, None]

    def _candidates(batches):
        # mapInArrow, not mapInPandas: the list<float> column decodes to a
        # contiguous values buffer we reshape into the matmul operand
        # directly — no pandas object-array of per-row numpy arrays on
        # either side (A/B at sf0.1: the pandas framing dominated the
        # per-batch cost ~5x over the matmul itself).
        import numpy as np  # noqa: F811 - worker-local import
        import pyarrow as pa  # noqa: F811 - worker-local import

        out_type = pa.list_(pa.float64())
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            vec = batch.column(1)
            if isinstance(vec, pa.ChunkedArray):  # pragma: no cover
                vec = vec.combine_chunks()
            # ListArray.flatten() silently drops null entries, so a null or
            # ragged-length embedding would misalign every vector after it
            # while len(flat) can still happen to divide n — validate before
            # the reshape instead of producing wrong similarities.
            dim = q_unit.shape[1]
            if vec.null_count:
                raise ValueError(
                    f"brute_force_topk: embedding column contains "
                    f"{vec.null_count} null vector(s); drop or impute them "
                    f"before the search."
                )
            flat = vec.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            if len(flat) != n * dim:
                raise ValueError(
                    f"brute_force_topk: ragged embeddings — batch of {n} "
                    f"rows flattened to {len(flat)} values, expected "
                    f"{n}*{dim} (query dimension {dim})."
                )
            c_mat = flat.reshape(n, dim)
            c_norms = np.linalg.norm(c_mat, axis=1)
            c_norms[c_norms == 0] = 1.0
            sims = (c_mat / c_norms[:, None]) @ q_unit.T  # (n, |Q|)
            # Candidate ranking uses the SAME total order as the stage-2
            # re-rank — (similarity rounded to 6 digits DESC, id ASC) — as
            # one int64 composite key. Raw-float ranking loses true
            # neighbors whenever more than `margin` candidates tie on the
            # ROUNDED similarity (e.g. duplicate embeddings): the float
            # order cuts an arbitrary subset, while the final order wants
            # the lowest ids. The margin now only absorbs quantization-
            # boundary noise (numpy rint vs JVM ROUND at .5-ulp), not ties.
            order = np.argsort(ids, kind="stable")
            id_rank = np.empty(n, dtype=np.int64)
            id_rank[order] = np.arange(n, dtype=np.int64)
            key_min = np.iinfo(np.int64).min
            # NaN similarities (NaN-valued embeddings) must never become
            # candidates: NaN→int64 is undefined and Spark's descending
            # sort ranks NaN first (the old isfinite guard, kept here)
            nan_mask = np.isnan(sims)
            keys = np.rint(np.where(nan_mask, 0.0, sims) * 1e6).astype(
                np.int64
            ) * (1 << 24) - id_rank[:, None]
            keys[nan_mask] = key_min
            sel_q, sel_n, sel_v = [], [], []
            for j in range(len(q_ids)):
                kcol = keys[:, j].copy()
                kcol[ids == q_ids[j]] = key_min
                if m < n:
                    # Partition for the m LARGEST keys WITHOUT negating:
                    # masked entries hold int64.min, and -int64.min wraps
                    # back to int64.min, which would rank every masked row
                    # as a best candidate and evict true neighbors whenever
                    # masked rows exceed the margin.
                    idx = np.argpartition(kcol, n - m)[n - m :]
                else:
                    idx = np.arange(n)
                idx = idx[kcol[idx] != key_min]
                sel_q.append(np.full(len(idx), q_ids[j]))
                sel_n.append(ids[idx])
                sel_v.extend(c_mat[i].tolist() for i in idx)
            yield pa.record_batch(
                [
                    pa.array(np.concatenate(sel_q), type=pa.int64()),
                    pa.array(np.concatenate(sel_n), type=pa.int64()),
                    pa.array(sel_v, type=out_type),
                ],
                names=["query_id", "neighbor_id", "c_vec"],
            )

    cand = emb.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        _candidates, "query_id bigint, neighbor_id bigint, c_vec array<double>"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    pairs = cand.join(F.broadcast(q), "query_id").select(
        "query_id",
        "neighbor_id",
        round_cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def self_knn_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_margin: int = 8,
    max_corpus_rows: int = 100_000,
) -> DataFrame:
    """Exact corpus-self cosine top-k: (query_id, neighbor_id, sim, rank).

    The k-NN-graph specialization of :func:`brute_force_topk`. When the
    query set IS the corpus, the generic shape is wasteful: it keeps
    ``k + margin`` candidates per query PER CORPUS BATCH and merges across
    batches through the window (``n_batches × n × (k+margin)`` shuffled
    rows). Here each batch row is a query scored against the ENTIRE
    broadcast corpus matrix, so its per-row top-``k + margin`` is already
    final — candidates shrink to ``n × (k+margin)`` with no cross-batch
    merge. Candidates rank by the stage-2 total order (rounded sim DESC,
    id ASC) as a composite integer key, so rounded-similarity ties pick
    the final ranking's ids; the margin only absorbs numpy-rint-vs-JVM-
    ROUND quantization-boundary noise, not batch-boundary effects.

    Stage 2 re-ranks the survivors with the exact JVM ``round_cosine``
    (identical scores/tie-breaks to the all-pairs form). Both vector
    lookups are broadcast joins on the corpus — the corpus must fit the
    driver/broadcast guard (``max_corpus_rows``), the same contract as the
    generic brute force; past it, cell-blocked candidates (IVF / LSH) are
    the scale path.
    """
    m = k + candidate_margin
    c_rows = (
        emb.select(F.col(id_col), F.col(vec_col))
        .limit(max_corpus_rows + 1)
        .collect()
    )
    if len(c_rows) > max_corpus_rows:
        raise ValueError(
            f"self_knn_topk broadcasts the corpus matrix; got > "
            f"max_corpus_rows={max_corpus_rows} rows. Use the IVF/LSH "
            f"cell-blocked pair generation for corpus-scale k-NN graphs."
        )
    spark = emb.sparkSession
    if not c_rows:
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, sim double, rank bigint"
        )

    import numpy as np

    c_ids = np.array([r[0] for r in c_rows], dtype=np.int64)
    # Validate at the driver (this is where the corpus is first realized):
    # np.stack over nulls/ragged rows would raise an opaque shape error.
    vecs = []
    dim = None
    for r in c_rows:
        if r[1] is None:
            raise ValueError(
                "self_knn_topk: embedding column contains null vector(s); "
                "drop or impute them before the search."
            )
        a = np.asarray(r[1], dtype=np.float64)
        if dim is None:
            dim = a.shape[0]
        elif a.shape != (dim,):
            raise ValueError(
                f"self_knn_topk: ragged embeddings — vector of length "
                f"{a.shape[0]} for id {r[0]}, expected {dim}."
            )
        vecs.append(a)
    c_mat = np.stack(vecs)
    c_norms = np.linalg.norm(c_mat, axis=1)
    c_norms[c_norms == 0] = 1.0
    c_unit = c_mat / c_norms[:, None]
    # id rank (order-isomorphic to ids) for the composite candidate key
    c_order = np.argsort(c_ids, kind="stable")
    c_rank = np.empty(len(c_ids), dtype=np.int64)
    c_rank[c_order] = np.arange(len(c_ids), dtype=np.int64)

    def _candidates(batches):
        import numpy as np  # noqa: F811 - worker-local import
        import pyarrow as pa  # noqa: F811 - worker-local import

        dim = c_unit.shape[1]
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            vec = batch.column(1)
            if isinstance(vec, pa.ChunkedArray):  # pragma: no cover
                vec = vec.combine_chunks()
            if vec.null_count:
                raise ValueError(
                    f"self_knn_topk: embedding column contains "
                    f"{vec.null_count} null vector(s); drop or impute them "
                    f"before the search."
                )
            flat = vec.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            if len(flat) != n * dim:
                raise ValueError(
                    f"self_knn_topk: ragged embeddings — batch of {n} rows "
                    f"flattened to {len(flat)} values, expected {n}*{dim}."
                )
            q_mat = flat.reshape(n, dim)
            q_norms = np.linalg.norm(q_mat, axis=1)
            q_norms[q_norms == 0] = 1.0
            sims = (q_mat / q_norms[:, None]) @ c_unit.T  # (n, |corpus|)
            # Composite candidate key = the stage-2 total order (rounded
            # sim DESC, neighbor id ASC) — see brute_force_topk: raw-float
            # ranking drops true neighbors under rounded-similarity ties
            # (duplicate embeddings), which this corpus type is full of.
            key_min = np.iinfo(np.int64).min
            nan_mask = np.isnan(sims)  # see brute_force_topk: NaN guard
            keys = np.rint(np.where(nan_mask, 0.0, sims) * 1e6).astype(
                np.int64
            ) * (1 << 24) - c_rank[None, :]
            keys[nan_mask] = key_min
            keys[ids[:, None] == c_ids[None, :]] = key_min  # self matches
            width = keys.shape[1]
            if m < width:
                # m LARGEST without negation — see brute_force_topk: the
                # int64.min mask sentinel negates to itself and would
                # occupy the top-m slots, evicting true neighbors.
                top = np.argpartition(keys, width - m, axis=1)[:, width - m :]
            else:
                top = np.broadcast_to(np.arange(width), (n, width))
            row_q, row_n = [], []
            for i in range(n):
                idx = top[i][keys[i, top[i]] != key_min]
                row_q.append(np.full(len(idx), ids[i]))
                row_n.append(c_ids[idx])
            yield pa.record_batch(
                [
                    pa.array(np.concatenate(row_q), type=pa.int64()),
                    pa.array(np.concatenate(row_n), type=pa.int64()),
                ],
                names=["query_id", "neighbor_id"],
            )

    # Rebalance the query side before the CPU-bound scoring pass (round
    # 14, guide §2.6/§1.2): the embeddings scan is a single parquet
    # partition at fixture sizes, so the whole corpus-matrix matmul ran
    # in ONE Python worker (stage metrics: 1 task, ~2-3.5 s wall, the
    # bench's entire query cost). Cores-wide batches score the same
    # corpus in parallel; each worker holds one ~|corpus|x dim float64
    # closure copy (bounded by the max_corpus_rows guard above).
    from datafusion_flight_sql_server_spark.operators.dedup import (
        rebalance_for_compute,
    )

    cand = rebalance_for_compute(
        emb.select(F.col(id_col), F.col(vec_col)), id_col
    ).mapInArrow(_candidates, "query_id bigint, neighbor_id bigint")
    corpus_q = emb.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    corpus_n = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    pairs = (
        cand.join(F.broadcast(corpus_q), "query_id")
        .join(F.broadcast(corpus_n), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            round_cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# -- LSH (sign random projection) -------------------------------------------


def projection_tables(
    dim: int, n_tables: int = 8, n_bits: int = 4, seed: int = 42
) -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes: tables x bits x dim.

    Components derive from md5 of (seed, table, bit, dim-index) mapped into
    [-0.5, 0.5) — reproducible across runs/processes with no RNG state.
    """
    tables = []
    for t in range(n_tables):
        planes = []
        for b in range(n_bits):
            plane = []
            for d in range(dim):
                h = hashlib.md5(f"{seed}:{t}:{b}:{d}".encode()).hexdigest()
                plane.append(int(h[:12], 16) / float(1 << 48) - 0.5)
            planes.append(plane)
        tables.append(planes)
    return tables


def _signature(vec_col, planes: list[list[float]]):
    """Bit-string signature: one sign bit per hyperplane (JVM-side)."""
    bits = []
    for plane in planes:
        lit = F.array(*[F.lit(x) for x in plane])
        d = F.aggregate(
            F.zip_with(_as_double(vec_col), lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int = 8,
    n_bits: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via sign-random-projection banding.

    Candidates = corpus vectors sharing any (table, signature) bucket with
    the query; exact cosine re-ranks candidates. Join is an equi-join on the
    bucket key — no cartesian product at any scale (the scale path the
    brute-force operator documents).
    """
    tables = projection_tables(dim, n_tables, n_bits, seed)

    def with_buckets(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        sigs = F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"), _signature(F.col(vec_alias), tables[t]).alias("sig")
                )
                for t in range(len(tables))
            ]
        )
        return df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
        ).select(id_alias, vec_alias, F.explode(sigs).alias("b"))

    qb = with_buckets(queries, "query_id", "q_vec")
    cb = with_buckets(emb, "neighbor_id", "c_vec")
    cand = (
        cb.join(F.broadcast(qb), ["b"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        round_cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


#: Session-scoped LRU of TRAINED coarse quantizers. Five registered queries
#: (sim_topk_ivf, embed_ivf_recall, embed_cluster_quality, dedup_semantic,
#: embed_coreset_sample) each re-ran the identical deterministic Lloyd
#: steps per invocation (~3.4 s of embed_coreset_sample's 4.25 s at sf0.1;
#: at 100 TB that is 2 extra corpus passes per consumer per sweep) —
#: round 6, VERDICT r5 #2. Entries are localCheckpointed 16-row
#: DataFrames; holding the reference keeps their blocks alive, eviction
#: just drops it (ContextCleaner reclaims the blocks).
_CENTROIDS = BoundedCache(4)


def clear_centroid_cache() -> None:
    """Drop every trained quantizer (in-flight trainings finish and stay)."""
    _CENTROIDS.clear()


def train_cells(
    emb: DataFrame,
    n_cells: int = 16,
    train_iters: int = 0,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key=None,
) -> DataFrame:
    """Deterministic spherical-k-means coarse quantizer → (cent_id, cent_vec).

    Seeds = the ``n_cells`` lowest-id vectors; each Lloyd step is an
    aggregation-only argmax assignment followed by element-wise means
    quantized to micros via ``floor(x*1e6+0.5)/1e6``. The quantization is
    what keeps a *trained* quantizer engine-reproducible: partial-agg
    summation order drifts means by ~1e-15, far below the 5e-7 step, and
    the floor form (unlike ``ROUND(double, 6)``, which Spark evaluates on
    the shortest decimal repr and DuckDB on the binary value) is IEEE-exact
    on bit-identical inputs — so both engines see bit-identical centroids
    and therefore identical discrete assignments. Shared by ``ivf_topk``
    (ANN) and ``semantic_dedup`` (SemDeDup-style cluster-blocked dedup).

    ``cache_key`` (an engine-chosen corpus identity, e.g. the fixture dir)
    opts a TRAINED quantizer into the session-scoped LRU: train-once
    semantics across every consumer passing the same key. Training is
    deterministic, so sharing cannot change any result; the untrained
    (``train_iters=0``) seed path is one cheap filter and is never cached.
    """
    if cache_key is not None and train_iters > 0:
        from datafusion_flight_sql_server_spark.engine.cleanup import (
            corpus_fingerprint,
        )

        key = (
            emb.sparkSession,
            cache_key,
            corpus_fingerprint(cache_key),
            n_cells,
            train_iters,
            dim,
            id_col,
            vec_col,
        )
        return _CENTROIDS.get_or_build(
            key,
            lambda: _train_cells_build(
                emb, n_cells, train_iters, dim, id_col, vec_col
            ),
        )
    return _train_cells_build(emb, n_cells, train_iters, dim, id_col, vec_col)


def _train_cells_build(
    emb: DataFrame,
    n_cells: int,
    train_iters: int,
    dim: int | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    cents = emb.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).cast("array<double>").alias("cent_vec")
    )
    if train_iters > 0:
        if dim is None:
            row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
            dim = int(row["d"]) if row is not None else 0
        train = emb.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("tv")
        )
        for _ in range(train_iters):
            best = (
                train.join(F.broadcast(cents))
                .select(
                    "vid",
                    F.struct(
                        round_cosine(F.col("tv"), F.col("cent_vec")).alias("cs"),
                        (-F.col("cent_id")).alias("neg_cent"),
                        F.col("tv").alias("v"),
                    ).alias("s"),
                )
                .groupBy("vid")
                .agg(F.max("s").alias("s"))
                .select((-F.col("s.neg_cent")).alias("cell"), F.col("s.v").alias("tv"))
            )
            means = best.groupBy("cell").agg(
                *[
                    (
                        F.floor(F.avg(F.element_at("tv", i + 1)) * 1000000.0 + 0.5)
                        / 1000000.0
                    ).alias(f"m{i}")
                    for i in range(dim)
                ]
            )
            cents = means.select(
                F.col("cell").alias("cent_id"),
                F.array(*[F.col(f"m{i}") for i in range(dim)]).alias("cent_vec"),
            ).localCheckpoint(eager=True)
    return cents


def assign_cells(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment → (out_id, cell, v, cs).

    Aggregation-only argmax: ``max(struct(cos, -cent_id, vec))`` picks the
    highest round-6 cosine with a lowest-cent_id tie-break — partial-
    aggregatable map-side, no window sort over the corpus; the per-vector
    cost is |cents| dot products against the broadcast centroid table.
    ``cs`` (the winning centroid cosine) rides along for consumers that
    rank within a cell (semantic_dedup's keep rule).
    """
    # Hoisted-cast/norm form (round 9, sf1 audit): the naive
    # round_cosine(c_vec, cent_vec) per pair re-CASTS both arrays and
    # re-computes BOTH norms |cents| times per vector — higher-order
    # array expressions are interpreted (no codegen), so those passes
    # dominated the whole coreset query (~5.2 s of 6.5 s at sf1).
    # Casting once per row and per centroid and hoisting each side's
    # norm leaves ONE zip_with+aggregate dot per pair. Values are
    # BIT-IDENTICAL to round_cosine: float→double casts are exact, the
    # hoisted norm is the same expression over the same doubles, and
    # the division/guard/round structure is unchanged — so every
    # oracle-parity hash over cs (and everything downstream) is
    # untouched. ``v`` is now the double-cast vector; every consumer
    # re-casts through _as_double, a no-op on doubles.
    # The per-pair dots are CPU-bound interpreted work; a single-row-group
    # parquet corpus would run them on one core (same rationale as the
    # dedup shingling rebalance — no-op when the scan is already split,
    # i.e. always at real scale).
    from datafusion_flight_sql_server_spark.operators.dedup import (
        rebalance_for_compute,
    )

    corpus = rebalance_for_compute(
        emb.select(
            F.col(id_col).alias(out_id),
            _as_double(F.col(vec_col)).alias("c_vec"),
        ),
        out_id,
    ).withColumn("a_norm", norm(F.col("c_vec")))
    cent_side = cents.select(
        "cent_id", _as_double(F.col("cent_vec")).alias("cent_d")
    ).withColumn("b_norm", norm(F.col("cent_d")))
    pair_cs = F.round(
        F.when(
            (F.col("a_norm") > 0) & (F.col("b_norm") > 0),
            dot(F.col("c_vec"), F.col("cent_d"))
            / (F.col("a_norm") * F.col("b_norm")),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return (
        corpus.join(F.broadcast(cent_side))
        .select(
            out_id,
            F.struct(
                pair_cs.alias("cs"),
                (-F.col("cent_id")).alias("neg_cent"),
                F.col("c_vec").alias("v"),
            ).alias("s"),
        )
        .groupBy(out_id)
        .agg(F.max("s").alias("s"))
        .select(
            out_id,
            (-F.col("s.neg_cent")).alias("cell"),
            F.col("s.v").alias("v"),
            F.col("s.cs").alias("cs"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    eps: float = 0.3,
    n_cells: int = 16,
    train_iters: int = 0,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key=None,
) -> DataFrame:
    """SemDeDup-style cluster-blocked semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the trained coarse
    quantizer, call two items duplicates when their within-cell cosine is
    >= ``eps``, and keep ONE representative per duplicate group — the item
    LEAST similar to its cluster centroid (the paper's keep rule: retain
    the edge of the semantic region, drop the redundant interior), with an
    id tie-break for a total order.

    Keep rule without iteration: drop x iff some same-cell y with
    (cs_y, id_y) < (cs_x, id_x) has cosine(x, y) >= eps. On a duplicate
    CHAIN this is the transitive-free approximation the paper itself uses
    (pairs are checked against the group's ranked order, not via connected
    components — dedup_near_clusters is the components path).

    Returns (vec_id, cell, cs_micros, kept) for every corpus vector —
    the audit-friendly form (downstream filters kept = true).

    100 TB posture: candidate pairs are a CELL-blocked equi-join (the
    SemDeDup trick — |cell| ~ corpus/n_cells bounds the quadratic term and
    n_cells scales with corpus size); the witness set collapses to a
    distinct id list; no window over the corpus, no cross join. Training
    and assignment cost are the IVF path's (see train_cells/assign_cells).
    """
    cents = train_cells(
        emb,
        n_cells=n_cells,
        train_iters=train_iters,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        cache_key=cache_key,
    )
    asg = assign_cells(emb, cents, id_col=id_col, vec_col=vec_col, out_id="vec_id")
    x = asg.select(
        F.col("cell").alias("cell_x"),
        F.col("vec_id").alias("id_x"),
        F.col("v").alias("vx"),
        F.col("cs").alias("cs_x"),
    )
    y = asg.select(
        F.col("cell").alias("cell_y"),
        F.col("vec_id").alias("id_y"),
        F.col("v").alias("vy"),
        F.col("cs").alias("cs_y"),
    )
    ranked_before = (F.col("cs_y") < F.col("cs_x")) | (
        (F.col("cs_y") == F.col("cs_x")) & (F.col("id_y") < F.col("id_x"))
    )
    witnesses = (
        x.join(y, (F.col("cell_x") == F.col("cell_y")) & ranked_before)
        .filter(round_cosine(F.col("vx"), F.col("vy")) >= eps)
        .select(F.col("id_x").alias("dup_id"))
        .distinct()
    )
    return asg.join(
        witnesses, asg["vec_id"] == witnesses["dup_id"], "left"
    ).select(
        "vec_id",
        F.col("cell").cast("bigint").alias("cell"),
        F.floor(F.col("cs") * 1000000 + F.lit(0.5)).cast("bigint").alias("cs_micros"),
        F.col("dup_id").isNull().alias("kept"),
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
    dim: int | None = None,
    cache_key=None,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into ``n_cells`` cells, probe
    the ``n_probe`` best cells per query, exact-cosine re-rank.

    The coarse quantizer initializes DETERMINISTICALLY (the ``n_cells``
    lowest-id vectors seed the centroids) and, with ``train_iters > 0``,
    refines them with that many spherical k-means (Lloyd) steps: assign
    every corpus vector to its nearest centroid by cosine, recompute each
    cell's element-wise mean, quantize each mean to micros via
    ``floor(x*1e6+0.5)/1e6``. The quantization is what keeps a *trained*
    quantizer engine-reproducible: partial-agg summation order drifts means
    by ~1e-15, far below the 5e-7 step, and the floor form (unlike
    ``ROUND(double, 6)``, which Spark evaluates on the shortest decimal
    repr and DuckDB on the binary value) is IEEE-exact on bit-identical
    inputs — so both engines see bit-identical centroids and therefore
    identical discrete assignments, and the driver can hash-check
    trained-IVF output against an ANSI oracle that unrolls the same steps.

    100 TB posture:
    - assignment is an aggregation-only argmax (``max(struct(...))`` —
      partial-aggregatable, no window sort over the corpus); the per-vector
      cost is ``n_cells`` dot products, the IVF standard;
    - each training step is one scan + one tiny (n_cells × dim) aggregate;
      centroids localCheckpoint eagerly per step (16-row materialization)
      so lineage stays bounded for deep training runs;
    - centroids and the probed query cells broadcast (both tiny);
    - candidate generation is an equi-join on the cell id — the scanned
      fraction is ~``n_probe/n_cells`` of the corpus, never a cross join.
    """
    cents = train_cells(
        emb,
        n_cells=n_cells,
        train_iters=train_iters,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        cache_key=cache_key,
    )
    assigned = assign_cells(
        emb, cents, id_col=id_col, vec_col=vec_col, out_id="neighbor_id"
    ).select("neighbor_id", "cell", F.col("v").alias("c_vec"))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    wq = W.partitionBy("query_id").orderBy(
        F.col("qs").desc(), F.col("cent_id")
    )
    probed = (
        q.join(F.broadcast(cents))
        .select(
            "query_id",
            "q_vec",
            "cent_id",
            round_cosine(F.col("q_vec"), F.col("cent_vec")).alias("qs"),
        )
        .withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= n_probe)
        .select("query_id", "q_vec", F.col("cent_id").alias("cell"))
    )
    pairs = (
        assigned.join(F.broadcast(probed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            round_cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 8,
    n_candidates: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    train_iters: int = 1,
) -> DataFrame:
    """Product-quantization ANN: train per-subspace codebooks, encode the
    corpus to ``m`` small codes per vector, rank by asymmetric distance
    computation (ADC) over the codes, exact-cosine re-rank the best
    ``n_candidates``.

    PQ is the memory-compression leg of the ANN triad (alongside the
    LSH-bucketing and IVF-partitioning legs already implemented): a
    ``dim``-float vector collapses to ``m`` sub-byte codes, so the scan
    that ranks candidates touches ~``m`` bytes per vector instead of
    ``4*dim`` — at 100 TB of embeddings that is the difference between
    scanning the corpus and scanning a 3% sidecar. This operator
    implements the ADC kernel over the full corpus for a bounded query
    batch (an EVAL/rerank harness); the production composition at scale is
    IVF-PQ — route queries through ``ivf_topk``'s cell assignment first
    and run this same ADC over the probed cells only.

    Determinism contract (the same discipline as trained IVF):

    - codebooks seed from the ``n_codes`` lowest-id vectors' subvectors and
      refine with ``train_iters`` Lloyd steps; per-dimension means quantize
      to micros via ``floor(x*1e6+0.5)/1e6`` (IEEE-exact both engines, and
      the 5e-7 step absorbs partial-agg summation-order drift);
    - ALL distance comparisons (assignment argmin, ADC ranking) use
      micro-quantized squared-L2 BIGINTs (``floor(d2*1e6+0.5)``), computed
      from the dot-product identity ``d(a,a) - 2*d(a,b) + d(b,b)`` whose
      fold order matches DuckDB's ``list_dot_product``; integer sums are
      order-free, so the ADC total is engine-identical;
    - every ranking tie-breaks on the id.

    The result therefore hash-matches an ANSI oracle that unrolls the same
    training, encoding and ADC steps.
    """
    sub_w = dim // m
    if sub_w * m != dim:
        raise ValueError(f"pq_topk: dim {dim} not divisible by m {m}")

    def d2u(a, b):
        # micro-quantized squared L2 via the dot identity (see docstring)
        d2 = dot(a, a) - 2 * dot(a, b) + dot(b, b)
        return F.floor(d2 * 1000000.0 + 0.5).cast("bigint")

    e = emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # long-form subvectors: (vid, m, sub)
    subs = e.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("sub_m"),
                        F.slice("v", i * sub_w + 1, sub_w).alias("sv"),
                    )
                    for i in range(m)
                ]
            )
        ).alias("s"),
    ).select("vid", F.col("s.sub_m").alias("sub_m"), F.col("s.sv").alias("sv"))

    # seed codebooks: subvectors of the n_codes lowest-id vectors
    cb = subs.filter(F.col("vid") < n_codes).select(
        "sub_m", F.col("vid").alias("code"), F.col("sv").alias("cv")
    )
    for _ in range(train_iters):
        best = (
            subs.join(F.broadcast(cb), "sub_m")
            .select(
                "vid",
                "sub_m",
                F.struct(
                    (-d2u(F.col("sv"), F.col("cv"))).alias("neg_du"),
                    (-F.col("code")).alias("neg_code"),
                    F.col("sv").alias("sv"),
                ).alias("s"),
            )
            .groupBy("vid", "sub_m")
            .agg(F.max("s").alias("s"))
            .select("sub_m", (-F.col("s.neg_code")).alias("code"), F.col("s.sv").alias("sv"))
        )
        means = best.groupBy("sub_m", "code").agg(
            *[
                (
                    F.floor(F.avg(F.element_at("sv", i + 1)) * 1000000.0 + 0.5)
                    / 1000000.0
                ).alias(f"m{i}")
                for i in range(sub_w)
            ]
        )
        cb = means.select(
            "sub_m",
            "code",
            F.array(*[F.col(f"m{i}") for i in range(sub_w)]).alias("cv"),
        ).localCheckpoint(eager=True)

    # encode: nearest code per (vector, subspace) — partial-agg argmin
    codes = (
        subs.join(F.broadcast(cb), "sub_m")
        .select(
            "vid",
            "sub_m",
            F.struct(
                (-d2u(F.col("sv"), F.col("cv"))).alias("neg_du"),
                (-F.col("code")).alias("neg_code"),
            ).alias("s"),
        )
        .groupBy("vid", "sub_m")
        .agg(F.max("s").alias("s"))
        .select("vid", "sub_m", (-F.col("s.neg_code")).alias("code"))
    )

    # per-query ADC tables: du to every codeword (|Q| x m x n_codes rows)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    qsubs = q.select(
        "query_id",
        "qv",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("sub_m"),
                        F.slice("qv", i * sub_w + 1, sub_w).alias("qsv"),
                    )
                    for i in range(m)
                ]
            )
        ).alias("s"),
    ).select("query_id", F.col("s.sub_m").alias("sub_m"), F.col("s.qsv").alias("qsv"))
    dt = qsubs.join(F.broadcast(cb), "sub_m").select(
        "query_id", "sub_m", "code", d2u(F.col("qsv"), F.col("cv")).alias("du")
    )

    # ADC scan: codes ⋈ dist-table → integer sum over subspaces (order-free)
    adc = (
        codes.join(F.broadcast(dt), ["sub_m", "code"])
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum("du").alias("adc"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    wc = W.partitionBy("query_id").orderBy(F.col("adc"), F.col("neighbor_id"))
    cand = adc.withColumn("crnk", F.row_number().over(wc)).filter(
        F.col("crnk") <= n_candidates
    )

    # exact re-rank of the candidate pool
    rer = (
        cand.join(e.select(F.col("vid").alias("neighbor_id"), F.col("v").alias("nv")), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            round_cosine(F.col("qv"), F.col("nv")).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("bigint").alias("rank"))
    )
