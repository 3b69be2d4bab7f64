"""Streaming SemDeDup: online semantic near-duplicate flagging.

Batch (`pipelines/semdedup.py`) assigns vectors to centroids and
pair-scans within each cluster.  The streaming twin keeps per-cluster
state instead of self-joining: vectors stream in, a closure-broadcast
centroid matrix assigns each to its cluster map-side (same argmax
kernel as `ivf_assign_fast` — one matmul per Arrow batch, no window,
stream-safe), and a stateful operator keyed by `cent_id` compares each
arrival against the cluster members already seen, emitting
(vec_id, cent_id, max_sim, is_dup) append-only.

Parity contract with batch `semantic_dup_flags` (its per-cluster NumPy
kernel; tau and round_digits identical):
- batch defines max_sim against LOWER-ID members of the cluster;
  the stream compares against lower-id members SEEN SO FAR.  When ids
  arrive in nondecreasing order (the ingest-with-monotonic-ids case)
  the two are equal — the parity test feeds exactly that; under
  out-of-order arrival a late low id cannot retro-update rows already
  emitted (append-only), the same horizon trade-off `neardup.py`
  documents for LSH buckets.
- state per cluster is the member list (id + vector): the same
  Σ|cluster| memory the batch pair scan needs live per task.  Keep k
  high enough that clusters stay bounded (the batch SemDeDup skew rule)
  and evict with `idle_timeout_ms` when dedup only needs a rolling
  horizon.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "vec_id long, cent_id long, max_sim double, is_dup boolean"
STATE_SCHEMA = "ids array<long>, vecs array<array<double>>"


def _cluster_fn(tau: float, round_digits: int, idle_timeout_ms: int):
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (cent_id,) = key
        cols = ["vec_id", "cent_id", "max_sim", "is_dup"]
        if state.hasTimedOut:
            # eviction: drop the cluster's state and emit nothing. The
            # empty frame must carry OUT_SCHEMA-compatible dtypes — an
            # all-object empty frame trips Arrow conversion on some
            # pyspark versions in the applyInPandasWithState path.
            state.remove()
            yield pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "cent_id": pd.Series(dtype="int64"),
                    "max_sim": pd.Series(dtype="float64"),
                    "is_dup": pd.Series(dtype="bool"),
                }
            )
            return
        ids, vecs = (state.get if state.exists else ([], []))
        ids = [int(i) for i in ids]
        mat = (
            np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            if vecs
            else np.zeros((0, 0))
        )
        incoming: list[tuple[int, np.ndarray]] = []
        for pdf in pdfs:
            for vid, vec in zip(pdf["vec_id"], pdf["_v"]):
                incoming.append((int(vid), np.asarray(vec, dtype=np.float64)))
        incoming.sort(key=lambda t: t[0])
        rows = []
        for vid, vec in incoming:
            lower = [i for i, sid in enumerate(ids) if sid < vid]
            if lower and mat.size:
                m = mat[lower]
                sims = (m @ vec) / (
                    np.linalg.norm(m, axis=1) * np.linalg.norm(vec)
                )
                mx = round(float(sims.max()), round_digits)
                rows.append((vid, cent_id, mx, mx >= tau))
            else:
                rows.append((vid, cent_id, None, False))
            ids.append(vid)
            mat = (
                np.vstack([mat, vec[None, :]])
                if mat.size
                else vec[None, :].copy()
            )
        state.update((ids, [list(map(float, r)) for r in mat]))
        if idle_timeout_ms > 0:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(rows, columns=cols)

    return fn


def semantic_dup_flags_stream(
    vecs: DataFrame,
    centroids: DataFrame,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    idle_timeout_ms: int = 0,
) -> DataFrame:
    """Streaming twin of `semantic_dup_flags`; `centroids` is a BATCH
    (cent_id, centroid) table, collected once into the task closure
    (k rows, a few KB — the broadcast centroid table of the batch
    path)."""
    crows = centroids.select("cent_id", "centroid").collect()
    crows.sort(key=lambda r: r[0])
    cids = np.array([r[0] for r in crows], dtype=np.int64)
    cmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in crows])
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            s = (v @ cmat.T) / np.outer(np.sqrt((v * v).sum(axis=1)), cnorm)
            j = s.argmax(axis=1)  # first max -> lowest cent_id on ties
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col],
                    "cent_id": cids[j],
                    "_v": pdf[vec_col],
                }
            )

    assigned = vecs.select(id_col, vec_col).mapInPandas(
        assign, "vec_id long, cent_id long, _v array<double>"
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return assigned.groupBy("cent_id").applyInPandasWithState(
        _cluster_fn(tau, round_digits, idle_timeout_ms),
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        timeout,
    )


def density_sample_stream_writer(
    sink,
    cap: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 4,
    dim: int = 64,
    seed: str = "density",
):
    """foreachBatch twin of pipelines/semdedup.density_sample. The
    hyperplane buckets and the seeded md5 order key are pure functions
    of the data (no trained state), so the stream can maintain EXACT
    batch parity with bounded driver state: per bucket, the running
    population count plus the current top-`cap` (order_key, id) kept
    set — at most 2^num_planes x cap entries, independent of corpus
    size. A later arrival with a smaller order key displaces the
    largest kept key, exactly like the batch window would.

    Per micro-batch the Spark side reduces the batch to per-bucket
    counts and the batch's OWN top-cap candidates (one bounded window
    over the micro-batch), so the driver merge handles <= buckets x
    cap rows regardless of batch size. After each batch `sink(rows,
    batch_id)` receives the CURRENT [(id, bucket, bucket_n, keep_rank,
    weight_micro)] — equal, at every prefix, to density_sample over
    the docs streamed so far (the parity test's invariant). Counts
    are not idempotent, so replays are guarded by batch_id and only
    re-emit. Exposes `.state` and `.current()`."""
    from pyspark.sql import Window as W

    from webloghunter_spark.functions.similarity import (
        hyperplane_bucket_expr,
    )
    from webloghunter_spark.pipelines.shard import order_key_expr

    if cap <= 0:
        raise ValueError(f"cap must be > 0, got {cap}")
    # bucket -> {"n": int, "kept": [(key, id), ...] sorted, <= cap}
    state: dict[int, dict] = {}
    # bounded replay guard: batch_ids are monotone within a query, so
    # one high-water int gives identical at-least-once protection
    # without accumulating a set entry per micro-batch forever
    last_seen = [-1]

    def current() -> list[tuple]:
        out = []
        for bucket in sorted(state):
            s = state[bucket]
            n = s["n"]
            wm = n * 1_000_000 // min(n, cap)
            for rank, (_k, vid) in enumerate(s["kept"], start=1):
                out.append((vid, bucket, n, rank, wm))
        return out

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id > last_seen[0]:
            last_seen[0] = batch_id
            b = batch_df.select(
                F.col(id_col),
                hyperplane_bucket_expr(vec_col, num_planes, dim).alias(
                    "bucket"
                ),
                order_key_expr(id_col, seed).alias("_k"),
            )
            w = W.partitionBy("bucket").orderBy("_k", id_col)
            rows = (
                b.withColumn("_n", F.count(F.lit(1)).over(W.partitionBy("bucket")))
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= cap)
                .collect()
            )
            # per-bucket batch counts ride the kept rows' _n (every
            # bucket with >= 1 row keeps >= 1 row, so none is missed)
            counted: set[int] = set()
            for r in rows:
                s = state.setdefault(
                    int(r["bucket"]), {"n": 0, "kept": []}
                )
                if int(r["bucket"]) not in counted:
                    counted.add(int(r["bucket"]))
                    s["n"] += int(r["_n"])
                s["kept"].append((r["_k"], r[id_col]))
            for bucket in counted:
                s = state[bucket]
                s["kept"].sort()
                del s["kept"][cap:]
        sink(current(), batch_id)

    process.state = state
    process.current = current
    return process
