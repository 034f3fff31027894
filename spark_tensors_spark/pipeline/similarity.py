"""Similarity search over embedding columns (north-star M4).

Two tiers, same API:
  - :func:`cosine_topk` — exact brute-force top-k (baseline + oracle).
    The candidate side is broadcast when small; Spark plans the scored
    cross join + per-query rank without materializing beyond the shuffle
    of the top rows.
  - :func:`lsh_bucketed_topk` — the scale path: random-hyperplane LSH
    buckets (deterministic planes from the hash-init), candidates meet
    only within a bucket (plus optional multiprobe neighbors), exact
    cosine re-rank inside the bucket.  Recall is tunable via
    n_planes/probes; probes=0 with few planes degrades gracefully to
    near-exact.

Vector math is JVM column expressions (``functions.columns``) — no
Python in the scoring loop; the LSH projection is one Arrow batch pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_tensors_spark.functions.columns import cosine_col
from spark_tensors_spark.functions.init import _hash_uniform

# Hard cap on the query matrix collected into the task closure — at
# d=64 float64 this is ~50 MB, the sensible broadcast ceiling.  The
# exact-topk shape is "few queries × huge corpus"; beyond the cap the
# caller must use the bucketed paths (lsh_bucketed_topk / ivf_topk),
# whose cost does not grow with a driver-side collect.
MAX_DRIVER_QUERY_ROWS = 100_000


def _group_spread(df: DataFrame, key: str) -> DataFrame:
    """AQE-exempt hash repartition on the group key, placed immediately
    before a grouped-Python stage (``groupBy(key).applyInPandas``).

    The per-group kernels here are CPU-dense Python over rows of tens
    of bytes, so AQE's byte-based partition coalescing collapses the
    groupBy exchange to 1-2 tasks and serializes every group (profiled
    at sf0.1: single-task 0.5-1.2 s Python stages with 31 cores idle —
    the queries/mlops._kernel_parts failure mode; guide §2.5, bytes
    misrepresent compute).  A user-numbered hash repartition is exempt
    from AQE coalescing and already satisfies the groupBy's required
    ClusteredDistribution, so no second exchange appears; sized by
    defaultParallelism it scales with the cluster, never a constant.
    Per-group results are partitioning-invariant, so output values are
    unchanged."""
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, key
    )


# --------------------------------------------------------------- pseudo
# Deterministic INTEGER geometry for oracle-exact ANN (the r4
# kg_distmult doctrine): planes/centroids/codebooks whose entries are
# small-integer affine-mod formulas a DuckDB oracle recomputes
# symbolically.  Fed through the UNCHANGED float execution paths these
# make every projection/L2²/ADC value an exact integer (integers of
# this size are exact in float64 and associative), so the declared ANN
# queries hash-match a SQL oracle while exercising the production
# bucketing/probing/ADC plans.

def pseudo_planes(n_planes: int, dim: int) -> np.ndarray:
    """plane[p][j] = ((p·31 + j·17 + 7) mod 97) − 48 ∈ [−48, 48]."""
    p = np.arange(n_planes)[:, None]
    j = np.arange(dim)[None, :]
    return ((p * 31 + j * 17 + 7) % 97 - 48).astype(np.float64)


def pseudo_centroids(n_cells: int, dim: int) -> np.ndarray:
    """cent[c][j] = ((c·37 + j·13 + 11) mod 161) − 80 ∈ [−80, 80]."""
    c = np.arange(n_cells)[:, None]
    j = np.arange(dim)[None, :]
    return ((c * 37 + j * 13 + 11) % 161 - 80).astype(np.float64)


def pseudo_codebooks(m: int, n_codes: int, dsub: int, mod: int = 161,
                     shift: int = 80) -> np.ndarray:
    """cb[s][c][j] = ((s·59 + c·31 + j·17 + 3) mod ``mod``) − ``shift``."""
    s = np.arange(m)[:, None, None]
    c = np.arange(n_codes)[None, :, None]
    j = np.arange(dsub)[None, None, :]
    return ((s * 59 + c * 31 + j * 17 + 3) % mod - shift).astype(np.float64)


def _collect_queries_guarded(
    queries: DataFrame, query_id_col: str, query_vec_col: str
):
    """Collect query rows with a bounded limit — fails fast (before any
    OOM) if the query set exceeds MAX_DRIVER_QUERY_ROWS."""
    rows = (
        queries.select(F.col(query_id_col), F.col(query_vec_col))
        .limit(MAX_DRIVER_QUERY_ROWS + 1)
        .collect()
    )
    if len(rows) > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"query set exceeds {MAX_DRIVER_QUERY_ROWS} rows; use "
            "lsh_bucketed_topk or ivf_topk for large query sets "
            "(exact_topk collects queries into the task closure)"
        )
    return rows


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Distributed brute-force kNN shape: the query matrix (the small side
    by construction) is collected once and ships in the task closure;
    each candidate partition scores all queries with ONE numpy matmul
    and emits only its per-partition top-k per query — the |Q|×|C| score
    matrix never shuffles, only ≤ k·partitions rows per query do.  The
    global window then finalizes exact ranks (per-partition truncation
    cannot evict a global top-k row: its ≥k better rows travel too).
    """
    qrows = _collect_queries_guarded(
        queries, query_id_col, query_vec_col
    )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)

    def partition_topk(it):
        for pdf in it:
            if pdf.empty:
                continue
            c_ids = pdf[id_col].to_numpy()
            cm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cn = cm / np.maximum(
                np.linalg.norm(cm, axis=1, keepdims=True), 1e-12
            )
            sims = np.round(qn @ cn.T, 6)  # (nq, nc)
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids)):
                row = sims[qi]
                mask = (
                    np.ones(len(c_ids), dtype=bool)
                    if include_self
                    else c_ids != q_ids[qi]
                )
                ids_m, row_m = c_ids[mask], row[mask]
                order = np.lexsort((ids_m, -row_m))[:k]
                out_q.extend([q_ids[qi]] * len(order))
                out_n.extend(ids_m[order].tolist())
                out_s.extend(row_m[order].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "nn_id": out_n, "sim": out_s}
            )

    scored = emb.select(id_col, vec_col).mapInPandas(
        partition_topk, "query_id long, nn_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("nn_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def hard_negative_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Hard-negative mining for contrastive/metric training: each
    anchor's top-k most-similar candidates with a DIFFERENT label —
    the pairs that carry the most gradient signal.  Identical scale
    shape to :func:`cosine_topk` (anchors in the task closure, one
    matmul + top-k truncation per partition, |Q|×|C| never shuffles);
    the label mask is applied inside the partition scan, so same-label
    rows never leave their partition either."""
    qrows = (
        queries.select(
            F.col(query_id_col), F.col(query_vec_col), F.col(query_label_col)
        )
        .limit(MAX_DRIVER_QUERY_ROWS + 1)
        .collect()
    )
    if len(qrows) > MAX_DRIVER_QUERY_ROWS:
        raise ValueError(
            f"query set exceeds {MAX_DRIVER_QUERY_ROWS} rows; bucket the "
            "anchors (lsh/ivf) before mining hard negatives"
        )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    q_labels = np.array([r[2] for r in qrows], dtype=np.int64)
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)

    def partition_topk(it):
        for pdf in it:
            if pdf.empty:
                continue
            c_ids = pdf[id_col].to_numpy()
            c_labels = pdf[label_col].to_numpy()
            cm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cn = cm / np.maximum(
                np.linalg.norm(cm, axis=1, keepdims=True), 1e-12
            )
            sims = np.round(qn @ cn.T, 6)
            out_q, out_n, out_l, out_s = [], [], [], []
            for qi in range(len(q_ids)):
                mask = (c_labels != q_labels[qi]) & (c_ids != q_ids[qi])
                ids_m = c_ids[mask]
                if not len(ids_m):
                    continue
                row_m = sims[qi][mask]
                lab_m = c_labels[mask]
                order = np.lexsort((ids_m, -row_m))[:k]
                out_q.extend([q_ids[qi]] * len(order))
                out_n.extend(ids_m[order].tolist())
                out_l.extend(lab_m[order].tolist())
                out_s.extend(row_m[order].tolist())
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "nn_id": out_n,
                    "nn_label": out_l,
                    "sim": out_s,
                }
            )

    scored = emb.select(id_col, vec_col, label_col).mapInPandas(
        partition_topk,
        "query_id long, nn_id long, nn_label long, sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("nn_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def l2_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k Euclidean neighbors — same broadcast-queries +
    per-partition matmul shape as :func:`cosine_topk` (‖q−c‖² =
    ‖q‖² − 2q·c + ‖c‖², one GEMM per partition), ranked by distance
    ascending with nn_id tie-break."""
    qrows = _collect_queries_guarded(
        queries, query_id_col, query_vec_col
    )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    q_sq = (qm * qm).sum(axis=1)

    def partition_topk(it):
        for pdf in it:
            if pdf.empty:
                continue
            c_ids = pdf[id_col].to_numpy()
            cm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            c_sq = (cm * cm).sum(axis=1)
            d2 = np.maximum(
                q_sq[:, None] - 2.0 * (qm @ cm.T) + c_sq[None, :], 0.0
            )
            dists = np.round(np.sqrt(d2), 6)
            out_q, out_n, out_d = [], [], []
            for qi in range(len(q_ids)):
                row = dists[qi]
                mask = (
                    np.ones(len(c_ids), dtype=bool)
                    if include_self
                    else c_ids != q_ids[qi]
                )
                ids_m, row_m = c_ids[mask], row[mask]
                order = np.lexsort((ids_m, row_m))[:k]
                out_q.extend([q_ids[qi]] * len(order))
                out_n.extend(ids_m[order].tolist())
                out_d.extend(row_m[order].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "nn_id": out_n, "dist": out_d}
            )

    scored = emb.select(id_col, vec_col).mapInPandas(
        partition_topk, "query_id long, nn_id long, dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("nn_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def ivf_index(
    emb: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
):
    """IVF coarse quantizer: deterministic hash-sampled seed centroids +
    `lloyd_iters` distributed Lloyd iterations (assign = per-partition
    argmax matmul; update = groupBy mean — one shuffle of (cell, sum)
    partials per iteration, map-side combined).

    Returns (assignments DataFrame(id, cell), centroids ndarray).  The
    centroid table is O(n_cells × d) — driver/broadcast scale at any N.
    Pass ``centroids`` to skip training and assign against a fixed
    quantizer (e.g. the integer :func:`pseudo_centroids`).
    """
    first = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = int(first["d"])
    if centroids is not None:
        lloyd_iters = 0
    else:
        # deterministic seeds: the n_cells vectors with smallest
        # xxhash(id)
        seeds = (
            emb.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
            .limit(n_cells)
            .collect()
        )
        centroids = np.stack(
            [np.asarray(r[vec_col], dtype=np.float64) for r in seeds]
        )

    def assign(cents: np.ndarray):
        c_sq = (cents * cents).sum(axis=1)

        def f(it):
            for pdf in it:
                if pdf.empty:
                    continue
                m = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
                d2 = (
                    (m * m).sum(axis=1)[:, None]
                    - 2.0 * (m @ cents.T)
                    + c_sq[None, :]
                )
                out = pd.DataFrame(
                    {"_id": pdf["_id"], "cell": d2.argmin(axis=1)}
                )
                # partial centroid sums ride along → update shuffles
                # (cell, partial-sum) rows, not vectors per point
                yield out

        return f

    pts = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    for _ in range(lloyd_iters):
        a = pts.mapInPandas(assign(centroids), "_id long, cell long")
        means = (
            emb.join(a, emb[id_col] == a["_id"])
            .select("cell", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_c = centroids.copy()
        acc: dict[int, np.ndarray] = {}
        cnt: dict[int, int] = {}
        for r in means:
            acc.setdefault(r["cell"], np.zeros(dim))[r["pos"]] = r["s"]
            cnt[r["cell"]] = r["n"]
        for cell, v in acc.items():
            new_c[cell] = v / max(cnt[cell], 1)
        centroids = new_c

    final = pts.mapInPandas(assign(centroids), "_id long, cell long")
    return final.select(F.col("_id").alias(id_col), "cell"), centroids


def ivf_topk(
    emb: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """ANN self-top-k via IVF: each vector probes its `nprobe` nearest
    cells; exact re-rank only within probed cells (one numpy matmul per
    cell — same bucket-local shape as the LSH path).  Candidate space is
    Σ cell·nprobe ≪ N².

    ``metric="cosine"`` (default) probes by centroid cosine and ranks
    by cosine descending (column ``sim``).  ``metric="l2"`` probes by
    the assignment metric itself (L2² to the centroid) and ranks by
    Euclidean distance ascending (column ``dist``) — with
    integer-valued vectors and :func:`pseudo_centroids` every distance
    is exact, the oracle-exact configuration."""
    if metric not in ("cosine", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    assignments, centroids = ivf_index(
        emb, n_cells=n_cells, seed=seed, id_col=id_col, vec_col=vec_col,
        centroids=centroids,
    )
    with_cell = emb.join(assignments, id_col)

    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    c_sq = (centroids * centroids).sum(axis=1)

    def probes(it):
        for pdf in it:
            if pdf.empty:
                continue
            m = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            if metric == "cosine":
                mn = m / np.maximum(
                    np.linalg.norm(m, axis=1, keepdims=True), 1e-12
                )
                key = -(mn @ cn.T)
            else:
                key = (
                    (m * m).sum(axis=1)[:, None]
                    - 2.0 * (m @ centroids.T)
                    + c_sq[None, :]
                )
            # stable argsort: equal keys resolve to the lower cell id on
            # any engine
            top = np.argsort(key, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    "_id": np.repeat(pdf["_id"].to_numpy(), nprobe),
                    "cell": top.reshape(-1),
                }
            )

    q_probe = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(probes, "_id long, cell long")

    cands = with_cell.select(
        "cell", F.lit(False).alias("is_q"),
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
    )
    qrys = (
        q_probe.join(emb, q_probe["_id"] == emb[id_col])
        .select(
            "cell", F.lit(True).alias("is_q"),
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        )
    )
    score_col = "sim" if metric == "cosine" else "dist"

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qm = pdf[pdf["is_q"]]
        cm = pdf[~pdf["is_q"]]
        if qm.empty or cm.empty:
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int64"),
                 "nn_id": pd.Series(dtype="int64"),
                 score_col: pd.Series(dtype="float64")}
            )
        Q = np.stack(qm["vec"].to_numpy()).astype(np.float64)
        C = np.stack(cm["vec"].to_numpy()).astype(np.float64)
        if metric == "cosine":
            Qn = Q / np.maximum(
                np.linalg.norm(Q, axis=1, keepdims=True), 1e-12
            )
            Cn = C / np.maximum(
                np.linalg.norm(C, axis=1, keepdims=True), 1e-12
            )
            scores = np.round(Qn @ Cn.T, 6)
        else:
            d2 = np.maximum(
                (Q * Q).sum(axis=1)[:, None]
                - 2.0 * (Q @ C.T)
                + (C * C).sum(axis=1)[None, :],
                0.0,
            )
            scores = np.round(np.sqrt(d2), 6)
        q_ids = qm["vid"].to_numpy()
        c_ids = cm["vid"].to_numpy()
        out_q, out_n, out_s = [], [], []
        for i in range(len(q_ids)):
            mask = c_ids != q_ids[i]
            ids_m, row_m = c_ids[mask], scores[i][mask]
            order = np.lexsort(
                (ids_m, -row_m if metric == "cosine" else row_m)
            )[:k]
            out_q.extend([q_ids[i]] * len(order))
            out_n.extend(ids_m[order].tolist())
            out_s.extend(row_m[order].tolist())
        return pd.DataFrame(
            {"query_id": out_q, "nn_id": out_n, score_col: out_s}
        )

    scored = (
        cands.unionByName(qrys)
        .groupBy("cell")
        .applyInPandas(
            cell_topk, f"query_id long, nn_id long, {score_col} double"
        )
        .dropDuplicates(["query_id", "nn_id"])
    )
    order = (
        F.col("sim").desc() if metric == "cosine" else F.col("dist").asc()
    )
    w = Window.partitionBy("query_id").orderBy(order, F.col("nn_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def lsh_buckets(
    emb: DataFrame,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Sign-of-projection bucket id per vector (random hyperplanes drawn
    from the deterministic hash init — same buckets on any cluster).
    Pass ``planes`` (n_planes, dim) to use fixed hyperplanes (e.g. the
    integer :func:`pseudo_planes` for oracle-exact bucketing)."""
    if planes is None:
        first = emb.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:  # empty input: nothing to bucket
            return emb.select(
                F.col(id_col), F.lit(0).cast("long").alias("bucket")
            )
        dim = int(first["d"])
        planes = (
            _hash_uniform(seed, np.arange(n_planes), dim) * 2 - 1
        )  # (n_planes, dim)
    else:
        n_planes = planes.shape[0]

    def project(batches):
        for pdf in batches:
            mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            signs = (mat @ planes.T) > 0  # (n, n_planes)
            bucket = (
                signs.astype(np.int64)
                * (1 << np.arange(n_planes, dtype=np.int64))
            ).sum(axis=1)
            yield pd.DataFrame({"_id": pdf["_id"], "bucket": bucket})

    out = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(project, "_id long, bucket long")
    return out.select(F.col("_id").alias(id_col), "bucket")


def lsh_bucketed_topk(
    emb: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: np.ndarray | None = None,
    metric: str = "cosine",
    query_filter: Column | None = None,
) -> DataFrame:
    """ANN self-top-k: bucket every vector, exact cosine within bucket.

    ``query_filter`` restricts the QUERY side only (candidates stay the
    full corpus): the probe explode and per-bucket score rows shrink by
    the filter's selectivity while results for the kept queries are
    identical — push it down here instead of filtering the output.

    The join key is the bucket id, so comparisons (and the shuffle) scale
    with Σ bucket² rather than N² — the IVF/LSH scale path.

    ``probes=1`` additionally probes every bucket at Hamming distance 1
    from the query's bucket (multiprobe LSH): recall rises from
    ~|bucket|/N to ~(1+n_planes)·|bucket|/N for a proportional cost
    increase, still far below N².

    ``metric="dot"`` ranks by the raw (un-normalized) inner product —
    with integer-valued vectors and :func:`pseudo_planes` this makes
    every score an exact integer, the oracle-exact configuration.
    """
    if metric not in ("cosine", "dot"):
        raise ValueError(f"unknown metric {metric!r}")
    b = lsh_buckets(emb, n_planes=n_planes, seed=seed, id_col=id_col,
                    vec_col=vec_col, planes=planes)
    if planes is not None:
        n_planes = planes.shape[0]
    with_b = emb.join(b, id_col)
    probe_buckets = F.array(
        F.col("bucket"),
        *(
            [
                F.col("bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(n_planes)
            ]
            if probes >= 1
            else []
        ),
    )
    # candidates sit in their own bucket once; queries are exploded into
    # their probe buckets.  One shuffle on bucket id, then each bucket is
    # a single Arrow batch → one numpy matmul (BLAS) scores the whole
    # bucket.  The per-pair higher-order-function form is interpreted
    # expression evaluation per element — measured ~10× slower.
    cands = with_b.select(
        "bucket",
        F.lit(False).alias("is_q"),
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
    )
    q_src = (
        with_b.filter(query_filter) if query_filter is not None else with_b
    )
    qrys = q_src.select(
        F.explode(probe_buckets).alias("bucket"),
        F.lit(True).alias("is_q"),
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
    )

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qm = pdf[pdf["is_q"]]
        cm = pdf[~pdf["is_q"]]
        if qm.empty or cm.empty:
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int64"),
                 "nn_id": pd.Series(dtype="int64"),
                 "sim": pd.Series(dtype="float64")}
            )
        Q = np.stack(qm["vec"].to_numpy()).astype(np.float64)
        C = np.stack(cm["vec"].to_numpy()).astype(np.float64)
        if metric == "cosine":
            Q = Q / np.maximum(
                np.linalg.norm(Q, axis=1, keepdims=True), 1e-12
            )
            C = C / np.maximum(
                np.linalg.norm(C, axis=1, keepdims=True), 1e-12
            )
        sims = np.round(Q @ C.T, 6)  # (nq, nc); no-op on integer dots
        q_ids = qm["vid"].to_numpy()
        c_ids = cm["vid"].to_numpy()
        out_q, out_n, out_s = [], [], []
        for i in range(len(q_ids)):
            row = sims[i]
            mask = c_ids != q_ids[i]
            ids_m, row_m = c_ids[mask], row[mask]
            # per-bucket partial top-k (global top-k ⊆ union of these);
            # ties after 6-dp rounding break by candidate id
            order = np.lexsort((ids_m, -row_m))[:k]
            out_q.extend([q_ids[i]] * len(order))
            out_n.extend(ids_m[order].tolist())
            out_s.extend(row_m[order].tolist())
        return pd.DataFrame(
            {"query_id": out_q, "nn_id": out_n, "sim": out_s}
        )

    scored = (
        _group_spread(cands.unionByName(qrys), "bucket")
        .groupBy("bucket")
        .applyInPandas(
            bucket_topk, "query_id long, nn_id long, sim double"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("nn_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def mmr_rerank(
    scored: DataFrame,
    emb: DataFrame,
    n: int = 5,
    lambda_: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell &
    Goldstein 1998) over a top-k candidate table: greedily pick the
    candidate maximizing λ·sim(query) − (1−λ)·max cosine to already
    selected — the standard retrieval post-processor that stops near-
    duplicate results crowding the list.

    ``scored`` is (query_id, nn_id, sim) — e.g. the output of
    :func:`cosine_topk`.  Scale shape: candidates join their vectors
    (equi-join on the id), then ONE applyInPandas keyed by query_id;
    each group is ≤ k rows, so the greedy O(n·k) loop is per-group
    local work.  Ties break by nn_id.  Returns (query_id, nn_id,
    mmr_rank 1..n).

    ``normalize=False`` uses raw dot products as the redundancy term
    (instead of cosine) — with integer vectors and integer sims every
    selection score is an exact expression over integers, which is how
    the declared `emb_mmr_rerank` query is DuckDB-oracled; keep the
    default for float embeddings.
    """
    cand = scored.join(
        emb.select(
            F.col(id_col).alias("nn_id"), F.col(vec_col).alias("_v")
        ),
        "nn_id",
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sim", "nn_id"], ascending=[False, True])
        vecs = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
        )
        if normalize:
            norms = np.maximum(
                np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12
            )
            vn = vecs / norms
        else:
            vn = vecs
        sims = pdf["sim"].to_numpy()
        ids = pdf["nn_id"].to_numpy()
        chosen: list[int] = []
        remaining = list(range(len(ids)))
        while remaining and len(chosen) < n:
            if not chosen:
                best = remaining[0]  # already sorted by (sim, id)
            else:
                sel = vn[chosen]
                red = (vn[remaining] @ sel.T).max(axis=1)
                score = lambda_ * sims[remaining] - (1 - lambda_) * red
                # argmax with (score desc, id asc) tie-break
                order = np.lexsort((ids[remaining], -score))
                best = remaining[int(order[0])]
            chosen.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "nn_id": ids[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1),
            }
        )

    return _group_spread(cand, "query_id").groupBy("query_id").applyInPandas(
        pick, "query_id long, nn_id long, mmr_rank long"
    )


def kmeans_assign(
    codes_df: DataFrame,
    centroids,
    codes_col: str = "codes",
    out_col: str = "cluster_id",
) -> DataFrame:
    """Assign every integer code vector to its nearest centroid by
    EXACT integer squared-L2 (ties break to the smaller cluster id via
    lexicographic struct-least).  ``centroids`` is a K×d integer array
    embedded as literals, so the assignment is pure scan-side
    whole-stage codegen — K×d arithmetic per row, no Python, no
    shuffle, no broadcast join: the centroid table rides inside the
    task binary exactly the way a production Lloyd iteration ships its
    (tiny) centroids to every executor.
    """
    n_cents = len(centroids)
    if n_cents <= 64:
        # unrolled literal form: fastest at small K (measured ~2×
        # the transform form), plan size K·d literals — fine here
        dist_structs = []
        for k in range(n_cents):
            arr = F.array(*[F.lit(int(v)) for v in centroids[k]])
            d2 = F.aggregate(
                F.zip_with(
                    F.col(codes_col), arr, lambda x, c: (x - c) * (x - c)
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            )
            dist_structs.append(
                F.struct(d2.alias("d2"), F.lit(k).cast("long").alias("k"))
            )
        best = F.least(*dist_structs)
        return codes_df.withColumn(out_col, best["k"])
    # large-K form (corpus-scaled K, e.g. semantic dedup's
    # clamp(⌈n/512⌉, 16, 4096)): ONE 2-D centroid literal + a
    # symbolic transform over k — expression size O(1) instead of
    # O(K·d) (the unrolled form at K=4096 is ~262k plan nodes, which
    # stalls analysis long before execution).  array_min over
    # (d2, k) structs is the same lexicographic smaller-id tie rule;
    # values are identical (equality pinned in tests).
    cent_lit = F.lit([[int(v) for v in row] for row in centroids])
    structs = F.transform(
        F.sequence(F.lit(0), F.lit(n_cents - 1)),
        lambda k: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col(codes_col),
                    F.element_at(cent_lit, (k + 1).cast("int")),
                    lambda x, c: (x - c) * (x - c),
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias("d2"),
            k.cast("long").alias("k"),
        ),
    )
    return codes_df.withColumn(out_col, F.array_min(structs)["k"])


def kmeans_lloyd_step(
    codes_df: DataFrame,
    n_clusters: int,
    dim: int,
    codes_col: str = "codes",
    centroids=None,
) -> DataFrame:
    """One Lloyd iteration of k-means over integer code vectors against
    integer centroids (default: the deterministic `pseudo_centroids`):
    assign every vector to its nearest centroid by EXACT integer
    squared-L2 (ties break to the smaller cluster id via lexicographic
    struct-least), then emit the per-(cluster, dim) member count /
    code sum / mean — the updated centroid, with the mean as the only
    float (one BIGINT/BIGINT IEEE division, identical cross-engine).

    Scale shape: the assignment is pure scan-side whole-stage codegen
    (K×d literal arithmetic per row, no Python, no shuffle); the update
    is one posexplode + hash aggregate whose map-side combine bounds
    the shuffle at K·d rows per partition regardless of corpus size.
    Iterating = re-calling with the emitted means re-quantized
    (:func:`kmeans_lloyd_iters`); the declared `emb_kmeans_step` query
    gates one step exactly.
    """
    if centroids is None:
        centroids = pseudo_centroids(n_clusters, dim).astype(int)
    assigned = kmeans_assign(codes_df, centroids, codes_col=codes_col)
    ex = assigned.select(
        "cluster_id", F.posexplode(codes_col).alias("dim", "code")
    )
    return (
        ex.groupBy("cluster_id", F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("code").alias("sum_code"),
        )
        .select(
            "cluster_id",
            "dim",
            "n",
            "sum_code",
            (F.col("sum_code") / F.col("n")).alias("mean_code"),
        )
    )


def kmeans_lloyd_iters(
    codes_df: DataFrame,
    n_clusters: int,
    dim: int,
    iters: int = 2,
    codes_col: str = "codes",
) -> DataFrame:
    """Multiple Lloyd iterations with the centroid means RE-QUANTIZED
    to integers between rounds — the iterative-DataFrame checkpoint
    discipline under a full value oracle: each round is one
    :func:`kmeans_lloyd_step` job whose K·d-row result is collected to
    the driver (bounded: 8×64 rows, the same class as the 36-row
    moment table), re-quantized as ``floor(mean + 0.5)`` — written
    EXACTLY this way, not banker's/half-away ``round()``, so Python,
    Spark and any SQL oracle agree on .5 ties — and re-embedded as
    next-round literals.  That collect-and-rebroadcast loop is the
    production shape of distributed k-means (MLlib does the same:
    centroids are driver state, data never re-shuffles), so unlike a
    join-against-centroids plan nothing here grows with the corpus.

    Empty clusters keep their previous centroid (no members → no mean
    → carry forward), the standard Lloyd convention.

    Returns the FINAL iteration's (cluster_id, dim, n, sum_code,
    mean_code) update table; only that last emission is float.
    """
    import math

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    cents = [
        [int(v) for v in row]
        for row in pseudo_centroids(n_clusters, dim).astype(int)
    ]
    codes_df = codes_df.persist()
    try:
        for it in range(iters):
            step = kmeans_lloyd_step(
                codes_df, n_clusters, dim,
                codes_col=codes_col, centroids=cents,
            )
            if it == iters - 1:
                # materialize the final K·d-row update while the codes
                # are still cached; the caller's later actions read the
                # checkpoint instead of re-running every iteration
                return step.localCheckpoint()
            rows = step.collect()  # bounded: K·d rows (the barrier)
            nxt = [list(c) for c in cents]
            for r in rows:
                nxt[r["cluster_id"]][r["dim"]] = int(
                    math.floor(r["mean_code"] + 0.5)
                )
            cents = nxt
    finally:
        codes_df.unpersist()


def matryoshka_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    prefix_dim: int = 16,
    k_coarse: int = 64,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    query_id_col: str = "query_id",
    query_codes_col: str = "qcodes",
) -> DataFrame:
    """Matryoshka / adaptive two-stage retrieval (Kusupati et al. 2022,
    "Matryoshka Representation Learning" §4.2): stage 1 scores every
    candidate with only the PREFIX ``prefix_dim`` dimensions (MRL
    embeddings front-load information, so a short prefix is a faithful
    coarse ranker at a fraction of the dot-product cost); stage 2
    re-ranks just the ``k_coarse`` survivors with the exact full-dim
    cosine.

    Exactness: on integer codes both the coarse prefix dot and the
    full-dim dot are exact BIGINTs, ranks break ties on (score desc,
    id), and the final cosine dot/√(n²·n²) is the bit-identical
    unrounded-double doctrine — the whole cascade sits under the value
    oracle.

    Scale shape: the coarse pass is a broadcast of the bounded query
    frame onto one candidate scan (prefix slice → the scan reads and
    multiplies dim/prefix_dim× less per row); only |Q|·k_coarse rows
    reach the full-dim stage, so the expensive scoring never touches
    the corpus.  The per-query rank window shuffles |Q|·|C| coarse
    rows here — at production scale swap the window for the
    partition-local top-k + final window that :func:`cosine_topk`
    uses (truncation-safe, the score matrix never shuffles).

    Returns (query_id, rk, vec_id, coarse_dot, cos), rk = 1..k.
    """
    from pyspark.sql.window import Window

    from spark_tensors_spark.functions.columns import cosine_col

    def _prefix_dot(a, b):
        return F.aggregate(
            F.zip_with(
                F.slice(a, 1, prefix_dim),
                F.slice(b, 1, prefix_dim),
                # cast BEFORE multiplying: int*int products can wrap for
                # general integer codes even though the int8-range
                # declared query never does
                lambda x, y: x.cast("long") * y.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x.cast("long"),
        )

    qf = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_codes_col).alias("_qc"),
    )
    coarse = (
        codes_df.select(F.col(id_col).alias("vec_id"), F.col(codes_col))
        .crossJoin(F.broadcast(qf))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _prefix_dot(F.col(codes_col), F.col("_qc")).alias(
                "coarse_dot"
            ),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("coarse_dot"), F.asc("vec_id")
    )
    survivors = coarse.withColumn(
        "_r1", F.row_number().over(w1)
    ).filter(F.col("_r1") <= k_coarse)
    rer = (
        survivors.join(
            codes_df.select(
                F.col(id_col).alias("vec_id"), F.col(codes_col)
            ),
            "vec_id",
        )
        .join(F.broadcast(qf), "query_id")
        .select(
            "query_id",
            "vec_id",
            "coarse_dot",
            cosine_col(codes_col, "_qc").alias("cos"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    return (
        rer.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "vec_id", "coarse_dot", "cos")
    )
