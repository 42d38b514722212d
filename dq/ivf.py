"""IVF (inverted-file) ANN over embedding columns — the k-means
alternative to the hyperplane-LSH index in :mod:`dq.similarity`.

Why a second bucketing: hyperplane LSH is data-oblivious — bucket
shapes ignore the corpus distribution, so clustered corpora waste
candidate work on half-empty buckets while dense regions overflow.
IVF buckets ARE the distribution (Lloyd centroids), which is why it is
the standard scale path for embedding search (FAISS IVF family,
Johnson et al., "Billion-scale similarity search with GPUs", 2017 —
public). Recall is tunable per query via ``nprobe`` without rebuilding
the index, and storage is 1× the corpus (each vector lives in exactly
one list) vs the LSH index's bands× replication.

Scale shape (the 100-TB story):

- **Train on a bounded sample, not the corpus.** Lloyd runs in numpy
  on an id-ordered sample capped at ``max_train`` rows (FAISS trains
  IVF quantizers on samples for the same reason). The sample collect
  is the ONLY driver-side data movement, bounded and documented; the
  corpus itself never leaves the executors.
- **Assignment is one broadcast-matmul map pass.** Centroids broadcast
  once per executor; each Arrow batch takes one ``X @ C.T`` argmax.
  No shuffle.
- **The index write is one exchange** (repartition by list_id before
  ``partitionBy`` — one file per list, not one per task×list).
- **Queries prune I/O to ~nprobe/k of the corpus** via partition
  pruning on ``list_id`` directories, then score map-side against the
  broadcast query matrix — the same zero-corpus-shuffle scorer shape
  as ``similarity._lsh_topk_broadcast``.

Determinism contract: ``lloyd`` is a pure function of (matrix, k,
n_iter, seed) using unbuffered ``np.add.at`` accumulation in row
order, and the training sample is id-ordered — so the Spark-collected
path and a pyarrow-read path (used to generate the DuckDB oracle's
centroid literals, dq/queries.py) produce bit-identical centroids.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dq.session import local_frame
from dq.similarity import (
    _collect_queries,
    _emit,
    _out_schema,
    _select_topk,
    _stack,
    _valid_rows,
)

CENTROID_SIDECAR = "_centroids.json"   # leading '_' → invisible to scans


def lloyd(mat: np.ndarray, k: int, n_iter: int = 8,
          seed: int = 7) -> np.ndarray:
    """Spherical k-means over a float64 (n, dim) matrix → unit-norm
    (k, dim) centroids. Pure and deterministic: seeded Generator init
    (sample rows without replacement), argmax assignment with numpy's
    lowest-index tie-break, per-cluster sums via unbuffered
    ``np.add.at`` in row order (a fixed summation order — BLAS-summed
    means would vary by build), empty clusters keep their previous
    centroid. Degenerate rows (zero/non-finite norm) are excluded."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    mat = np.asarray(mat, dtype=np.float64)
    mat = mat[_valid_rows(mat)]
    if len(mat) < k:
        raise ValueError(f"need >= {k} valid training vectors, "
                         f"got {len(mat)}")
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    cents = unit[rng.choice(len(unit), size=k, replace=False)].copy()
    for _ in range(n_iter):
        assign = np.argmax(unit @ cents.T, axis=1)
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, unit)
        norms = np.linalg.norm(sums, axis=1)
        ok = norms > 0
        cents[ok] = sums[ok] / norms[ok, None]
    return cents


def train_centroids(df: DataFrame, n_centroids: int,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    max_train: int = 262_144, n_iter: int = 8,
                    seed: int = 7) -> np.ndarray:
    """Fit centroids on the id-ordered head of the corpus (bounded,
    deterministic sample — the FAISS-style train-on-a-sample step).
    Driver memory is ``max_train × dim × 8`` bytes, explicit and
    bounded; everything after training stays distributed."""
    pdf = (df.select(F.col(id_col).alias("_id"),
                     F.col(vec_col).alias("_v"))
           .orderBy("_id").limit(max_train).toPandas())
    if len(pdf) == 0:
        raise ValueError("train_centroids: empty corpus")
    pdf = pdf.sort_values("_id", kind="mergesort").reset_index(drop=True)
    return lloyd(_stack(pdf["_v"]), n_centroids, n_iter, seed)


def train_centroids_from_parquet(path: str, n_centroids: int,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 max_train: int = 262_144,
                                 n_iter: int = 8,
                                 seed: int = 7) -> np.ndarray:
    """Spark-free twin of :func:`train_centroids` (pyarrow read) for
    oracle generation — same id-ordered sample, same ``lloyd``, so the
    centroid literals embedded in the DuckDB oracle are bit-identical
    to what the Spark query trains."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[id_col, vec_col]).to_pandas()
    t = t.sort_values(id_col, kind="mergesort").head(max_train)
    return lloyd(_stack(t[vec_col].reset_index(drop=True)),
                 n_centroids, n_iter, seed)


def make_assign_udf(spark, centroids: np.ndarray):
    """int list_id pandas UDF: nearest centroid by raw-dot argmax
    (centroids are unit-norm, so dot ≡ cosine ordering per vector;
    scoring the RAW vector keeps the float path identical to the SQL
    oracle's fold). Ties break to the lowest centroid id (argmax
    semantics). Degenerate vectors get list −1 — never candidates, same
    convention as the LSH scorers."""
    bc = spark.sparkContext.broadcast(
        np.ascontiguousarray(centroids, dtype=np.float64))

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m = _stack(vecs)
        out = np.argmax(m @ bc.value.T, axis=1).astype(np.int32)
        out[~_valid_rows(m)] = -1
        return pd.Series(out)

    return assign


def build_ivf_index(df: DataFrame, path: str, n_centroids: int = 16,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    max_train: int = 262_144, n_iter: int = 8,
                    seed: int = 7) -> np.ndarray:
    """Train centroids, assign every row to its inverted list, write
    parquet partitioned by ``list_id`` (one exchange: repartition by
    list before ``partitionBy`` — one file per list directory, not one
    per task×list). Centroids are persisted beside the data as a
    ``_centroids.json`` sidecar (underscore-prefixed → ignored by
    parquet directory scans) so queries reopen the index without
    retraining; JSON floats round-trip exactly (shortest-repr)."""
    spark = df.sparkSession
    cents = train_centroids(df, n_centroids, id_col, vec_col,
                            max_train, n_iter, seed)
    assign = make_assign_udf(spark, cents)
    (df.select(F.col(id_col).alias("x_id"),
               F.col(vec_col).alias("x_v"),
               assign(F.col(vec_col)).alias("list_id"))
     .repartition(F.col("list_id"))
     .write.mode("overwrite").partitionBy("list_id").parquet(path))
    with open(os.path.join(path, CENTROID_SIDECAR), "w") as fh:
        json.dump({"centroids": cents.tolist()}, fh)
    return cents


def load_centroids(path: str) -> np.ndarray:
    with open(os.path.join(path, CENTROID_SIDECAR)) as fh:
        return np.asarray(json.load(fh)["centroids"], dtype=np.float64)


def probe_lists(qmat: np.ndarray, centroids: np.ndarray,
                nprobe: int) -> np.ndarray:
    """(Q, nprobe) int32 — each query's nearest ``nprobe`` centroid ids
    by raw dot, ties to the lower centroid id (lexsort mirrors the SQL
    oracle's ORDER BY dot DESC, cid)."""
    nprobe = min(nprobe, len(centroids))
    dots = qmat @ centroids.T                          # (Q, k)
    cid = np.arange(centroids.shape[0])
    order = np.lexsort((np.broadcast_to(cid, dots.shape), -dots), axis=1)
    return order[:, :nprobe].astype(np.int32)


def ivf_topk(spark, path: str, queries: DataFrame, k: int = 5,
             nprobe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", query_id_col: str = "query_id",
             max_queries: int = 100_000) -> DataFrame:
    """Approximate cosine top-k over a :func:`build_ivf_index` index.

    Probe lists are computed driver-side (one tiny matmul) and become a
    partition-pruning ``list_id IN (...)`` predicate — only the probed
    list directories are read (~nprobe/k_centroids of the corpus).
    Candidates are then scored map-side against the broadcast query
    matrix: a corpus row is a candidate for query q iff its list is in
    q's probe set (and ids differ); each Arrow batch scores its
    colliding subset with one matmul and emits batch-local top-k under
    the same global total order (desc score, asc id) the final window
    uses — the lossless partial-top-k shape shared with
    ``brute_force_topk``. Output: (query_id, vec_id, cos_sim, rank).
    Recall loss is exactly the neighbors whose list was not probed;
    raise ``nprobe`` to buy recall per query, no rebuild."""
    cents = load_centroids(path)
    idx = spark.read.parquet(path)
    out_schema = _out_schema(queries, query_id_col,
                             idx.schema["x_id"].dataType.simpleString())
    q_pdf = _collect_queries(queries, query_id_col, vec_col,
                             max_queries, "ivf_topk")
    if len(q_pdf) == 0:
        return local_frame(spark, [], out_schema + ", rank int")
    qids = q_pdf["qid"].to_numpy()
    qmat = _stack(q_pdf["qv"])
    qnorm = np.linalg.norm(qmat, axis=1)
    probes = probe_lists(qmat, cents, nprobe)          # (Q, nprobe)
    member = np.zeros((len(qids), cents.shape[0]), dtype=bool)
    np.put_along_axis(member, probes, True, axis=1)    # (Q, k_cent)
    wanted = sorted({int(v) for v in probes.ravel()})
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm, member))

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_qmat, b_qnorm, b_member = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = _stack(pdf["x_v"])
            cids = pdf["x_id"].to_numpy()
            lists = pdf["list_id"].to_numpy()
            # (B, Q): query probes this row's list
            cand = b_member[:, lists].T
            cand &= cids[:, None] != b_qids[None, :]
            cand &= _valid_rows(cmat)[:, None]
            rows = np.nonzero(cand.any(axis=1))[0]
            if rows.size == 0:
                continue
            sub, sub_ids, sub_cand = cmat[rows], cids[rows], cand[rows]
            sub_norm = np.linalg.norm(sub, axis=1)
            scores = (sub @ b_qmat.T) / (sub_norm[:, None] * b_qnorm[None, :])
            out_q, out_c, out_s = [], [], []
            for j in range(len(b_qids)):
                sel = _select_topk(scores[:, j],
                                   np.nonzero(sub_cand[:, j])[0],
                                   sub_ids, k)
                if sel.size:
                    out_q.append(np.full(sel.size, b_qids[j]))
                    out_c.append(sub_ids[sel])
                    out_s.append(scores[sel, j])
            if out_q:
                yield _emit(out_q, out_c, out_s)

    pruned = (idx.filter(F.col("list_id").isin(wanted))
              .select("x_id", "x_v", "list_id"))
    partial = pruned.mapInPandas(score_batches, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "cos_sim", "rank"))
