"""NN-Descent approximate K-NN graph construction — Spark-first.

Re-expresses ``NND.buildGraph`` (NND.scala:66-283; Dong et al. WWW'11 via
Warashina's MapReduce adaptation) on DataFrames. Semantics preserved:

- deterministic per-point bucket init seeded by a feature hash
  (NND.scala:87-93), buckets namespaced per ``partition`` so neighbors
  never cross partitions (NND.scala:91,296-306);
- per-iteration dataflow B(v) → R(v) → sampled R(v) → A(v) → local join
  → top-K merge with B-preference dedup (NND.scala:117-249);
- convergence when ``updated ≤ early_termination * K * N``
  (NND.scala:259-262), with ``updated`` computed as an exact aggregate
  instead of an accumulator (retry-safe — SURVEY.md §4 defect 1);
- ``finished`` rows skipped and returned with null neighbors
  (NND.scala:71,277); left-join result assembly (NND.scala:265-282).

Deliberate, documented improvements over the reference (SURVEY.md §4):
seeded randomness everywhere (defect 2), ascending-id tie-break in top-K
(defect 3), up-front input validation instead of mid-shuffle asserts
(defect 4), and a *real* incremental search — the reference declares the
old/new flag but never branches on it (NND.scala:49-51, SURVEY.md §1.3);
here old-old pairs are pruned from the local join, which is the actual
NN-Descent optimization from the paper.

Scale design (the thesis's point, preserved by construction —
SURVEY.md §4 "minimal feature shipping"):

- candidate messages between groups carry only (id, id, similarity) —
  features NEVER ride on the O(N·K̄²) candidate stream;
- feature vectors are shipped exactly once per (group, member) pair,
  O(N·K̄·dim) per iteration, via an equi-join against the persisted
  active-points table — the DataFrame equivalent of the reference's
  self-message + sampled-reverse feature routing (NND.scala:142-197);
- the O(|A(v)|²) pairwise scoring runs in a numpy kernel (BLAS
  matmul) over whole Arrow batches of groups — ``mapInArrow`` on input
  exchanged and sorted by group key, so one Python call serves many
  groups (:func:`_map_groups`) — and pairs are never materialized as
  shuffle rows;
- per-iteration ``localCheckpoint`` truncates the growing logical plan
  (SURVEY.md A13 — the one thing the DataFrame port needs that the RDD
  version didn't).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_nnd_spark.schemas import InvalidPointsError, normalize_points, validate_points

_CAND_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("nb_id", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ]
)
# Kernel output rows gathered per Arrow batch handed back to Spark.
_OUT_ROWS = 1 << 16
# Local-join kernel inputs, member id first (the in-group sort key).
_JOIN_COLUMNS = ["member", "member_features", "is_new", "kth_sim"]

# Working-graph neighbor entries carry an `is_new` flag (incremental search).
_WORK_NEIGHBOR = T.ArrayType(
    T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("similarity", T.DoubleType()),
            T.StructField("is_new", T.BooleanType()),
        ]
    )
)

_OUT_NEIGHBOR = T.ArrayType(
    T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("similarity", T.DoubleType()),
        ]
    )
)


def _init_kernel(seed: int, k: int):
    """Per-bucket random init (NND.scala:95-102): each member samples K
    neighbors with replacement, scores them, drops self-edges.

    Deterministic, unlike the reference's global Random: the draw is
    seeded by (seed, bucket) and indexes the bucket's members in
    ascending id order (:func:`_map_groups` sorts every group by id), so
    the candidates are a function of the bucket's member set alone —
    not of the input's physical row order.
    """

    def kernel(bucket: int, ids: np.ndarray, feats: np.ndarray):
        m = len(ids)
        if m < 2:
            return None
        rng = np.random.default_rng([seed & 0x7FFFFFFF, bucket & 0x7FFFFFFFFFFF])
        # K draws with replacement per member (reference semantics).
        draws = rng.integers(0, m, size=(m, k))
        src = np.repeat(np.arange(m), k)
        dst = draws.ravel()
        mask = src != dst
        src, dst = src[mask], dst[mask]
        if len(src) == 0:
            return None
        diff = feats[src] - feats[dst]
        sims = 1.0 / (1.0 + np.sqrt((diff * diff).sum(axis=1)))
        return ids[src], ids[dst], sims

    return kernel


def _local_join_kernel(k: int):
    """The NN-Descent local join (NND.scala:200-217) for one adjacency
    group A(v): score all pairs (u, p), u != p, where at least one
    endpoint is new (incremental search), and emit id-only candidate
    messages to both endpoints — pruned in-kernel so the candidate
    shuffle stays O(K) per node instead of O(|A(v)|):

    - **threshold prune**: a candidate scoring strictly below the target
      node's current K-th neighbor similarity (``kth_sim``, shipped in
      as one scalar per member) cannot displace anything in the merge's
      top-K — equal scores are kept, since the ascending-id tie-break
      can still admit them;
    - **top-2K truncation** per target node within the group: dedup in
      the merge collapses a candidate onto an existing B-entry (same
      (id, nb_id)) rather than adding a row, and at most K of the 2K
      better-ranked candidates can collapse that way, so ≥ K distinct
      better entries always remain — a candidate ranked past 2K can
      never reach the final top-K. Rank order (sim desc, id asc)
      matches the merge's, so truncation is exact, not approximate.

    Members may repeat (forward ∪ sampled-reverse ∪ self); dedup here,
    in-group, keeping `new` if any copy was new — cheaper than an extra
    pre-shuffle distinct.
    """
    cap = 2 * k

    def kernel(
        _v: int, ids: np.ndarray, member_feats: np.ndarray,
        isnew: np.ndarray, kth_sim: np.ndarray,
    ):
        uniq, first_idx, inv = np.unique(ids, return_index=True, return_inverse=True)
        m = len(uniq)
        if m < 2:
            return None
        new_u = np.zeros(m, dtype=bool)
        np.logical_or.at(new_u, inv, isnew)
        if not new_u.any():
            return None
        feats = member_feats[first_idx]
        thr = kth_sim[first_idx]

        new_idx = np.flatnonzero(new_u)
        n_new = len(new_idx)
        a = feats[new_idx]
        # pairwise squared L2: ||a||² + ||b||² - 2ab (BLAS matmul)
        d2 = (
            (a * a).sum(axis=1)[:, None]
            + (feats * feats).sum(axis=1)[None, :]
            - 2.0 * (a @ feats.T)
        )
        np.maximum(d2, 0.0, out=d2)
        sims = 1.0 / (1.0 + np.sqrt(d2))  # (n_new, m)
        sims[np.arange(n_new), new_idx] = -np.inf  # no self-edges

        out_id, out_nb, out_sim = [], [], []

        # Row side: a new node's candidates are all other members.
        # `uniq` is ascending, so a stable argsort on -sim realizes the
        # merge's exact (sim desc, id asc) order.
        kk = min(cap, m - 1)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
        rsims = np.take_along_axis(sims, order, axis=1)
        rmask = np.isfinite(rsims) & (rsims >= thr[new_idx][:, None])
        if rmask.any():
            rows = np.broadcast_to(np.arange(n_new)[:, None], rmask.shape)[rmask]
            out_id.append(uniq[new_idx[rows]])
            out_nb.append(uniq[order[rmask]])
            out_sim.append(rsims[rmask])

        # Column side: old members receive candidates only from new rows
        # (new members were already served by their own row above).
        old_idx = np.flatnonzero(~new_u)
        if len(old_idx):
            csims = sims[:, old_idx]  # (n_new, n_old); new_idx ascending
            kk2 = min(cap, n_new)
            order2 = np.argsort(-csims, axis=0, kind="stable")[:kk2, :]
            cs = np.take_along_axis(csims, order2, axis=0)
            cmask = np.isfinite(cs) & (cs >= thr[old_idx][None, :])
            if cmask.any():
                cols = np.broadcast_to(
                    np.arange(len(old_idx))[None, :], cmask.shape
                )[cmask]
                out_id.append(uniq[old_idx[cols]])
                out_nb.append(uniq[new_idx[order2[cmask]]])
                out_sim.append(cs[cmask])

        if not out_id:
            return None
        return np.concatenate(out_id), np.concatenate(out_nb), np.concatenate(out_sim)

    return kernel


def _batch_columns(batch: pa.RecordBatch, names: list[str]) -> list:
    """One Arrow batch's columns as numpy: a scalar column as a 1-D
    array, a list column as (row offsets from 0, flat values)."""
    cols = []
    for name in names:
        arr = batch.column(name)
        if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
            if arr.null_count:
                raise InvalidPointsError(f"{arr.null_count} rows have null {name}")
            # offsets index the unsliced child array, so slice values by them
            offs = arr.offsets.to_numpy()
            vals = arr.values.to_numpy(zero_copy_only=False)[offs[0]:offs[-1]]
            cols.append((offs - offs[0], vals))
        else:
            cols.append(arr.to_numpy(zero_copy_only=False))
    return cols


def _group_columns(pieces: list) -> list[np.ndarray]:
    """Concatenate one group's row ranges ``(cols, lo, hi)`` — one range
    per batch the group spans — into its arrays; a list column becomes
    an (m, dim) float64 matrix, dim taken from the list offsets."""
    out = []
    for j, first in enumerate(pieces[0][0]):
        if not isinstance(first, tuple):
            out.append(np.concatenate([cols[j][lo:hi] for cols, lo, hi in pieces]))
            continue
        lens = np.concatenate([np.diff(cols[j][0][lo:hi + 1]) for cols, lo, hi in pieces])
        vals = np.concatenate(
            [cols[j][1][cols[j][0][lo]:cols[j][0][hi]] for cols, lo, hi in pieces],
            dtype=np.float64,
        )
        dim = int(lens[0])
        if (lens != dim).any():
            # a bare reshape would silently mis-slice ragged rows
            raise InvalidPointsError(
                "inconsistent feature dimensionality: row lengths "
                f"{sorted(set(lens.tolist()))} in one group"
            )
        out.append(vals.reshape(len(lens), dim))
    return out


def _iter_groups(batches, key: str, columns: list[str]):
    """Yield ``(key value, arrays)`` once per group of a stream of Arrow
    batches sorted by ``key``, ``arrays`` being the group's ``columns``
    (see :func:`_group_columns`). A batch's last group may continue in
    the next batch, so it is held back until a later batch starts
    another key or the stream ends."""
    pending, pending_key = [], None
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        keys = batch.column(key).to_numpy()
        cols = _batch_columns(batch, columns)
        cuts = np.flatnonzero(keys[1:] != keys[:-1]) + 1
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, n]):
            if pending and keys[lo] != pending_key:
                yield int(pending_key), _group_columns(pending)
                pending = []
            pending.append((cols, lo, hi))
            pending_key = keys[lo]
    if pending:
        yield int(pending_key), _group_columns(pending)


def _run_groups(batches, key: str, columns: list[str], kernel):
    """Apply ``kernel`` to every group of ``batches`` and stream its
    (id, nb_id, sim) outputs back, gathered into Arrow batches of about
    ``_OUT_ROWS`` rows."""
    outs, rows = [], 0
    for value, arrays in _iter_groups(batches, key, columns):
        out = kernel(value, *arrays)
        if out is None:
            continue
        outs.append(out)
        rows += len(out[0])
        if rows >= _OUT_ROWS:
            yield _cand_batch(outs)
            outs, rows = [], 0
    if outs:
        yield _cand_batch(outs)


def _cand_batch(outs: list) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(np.concatenate(col)) for col in zip(*outs)],
        names=_CAND_SCHEMA.fieldNames(),
    )


def _map_groups(df: DataFrame, key: str, columns: list[str], kernel) -> DataFrame:
    """Candidate edges from ``kernel(key value, *column arrays)`` run once
    per ``key`` group of ``df`` — the one grouped-kernel path of the
    init and the local join. Each group arrives whole and sorted by
    ``columns[0]`` (the member id), and each Python call takes whole
    Arrow batches of many groups: one exchange on ``key`` as a
    ``groupBy(key)`` would make, without a round trip per group."""
    return (
        df.select(key, *columns)
        .repartition(key)
        .sortWithinPartitions(key, columns[0])
        .mapInArrow(lambda batches: _run_groups(batches, key, columns, kernel), _CAND_SCHEMA)
    )


def _merge_top_k(edges: DataFrame, k: int) -> DataFrame:
    """Merge candidate edges into per-node top-K neighbor lists
    (NND.scala:228-243): dedup per (node, candidate) preferring the
    existing-B copy, rank by similarity desc / id asc (deterministic
    tie-break), keep K, assemble a sorted neighbor array.

    ``edges``: (id, nb_id, sim, is_b). Pure Spark SQL — ONE shuffle:
    the up-front repartition by ``id`` satisfies the (id, nb_id)
    dedup's clustering (HashPartitioning on a subset of the grouping
    keys co-locates every group), the rank window's id partitioning,
    AND the trailing groupBy(id) — before r15 the same stream was
    exchanged twice, once per keying (§2.4 of the optimization guide:
    operations keyed compatibly should share one exchange). The
    exchanged stream is the O(N·K̄) id-only candidate edges — the
    merge never ships features.
    """
    dedup = edges.repartition("id").groupBy("id", "nb_id").agg(
        F.max("is_b").alias("is_b"),
        F.max("sim").alias("sim"),  # copies of a pair have identical sims
    )
    w = Window.partitionBy("id").orderBy(F.desc("sim"), F.asc("nb_id"))
    topk = dedup.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    return topk.groupBy("id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("__rn", "nb_id", "sim", "is_b"))
            ),
            lambda s: F.struct(
                s["nb_id"].alias("id"),
                s["sim"].alias("similarity"),
                (~s["is_b"]).alias("is_new"),
            ),
        ).alias("neighbors")
    )


def build_graph(
    df: DataFrame,
    k: int,
    max_iterations: int = 5,
    early_termination: float = 0.01,
    sample_rate: float = 1.0,
    buckets_per_instance: int = 4,
    seed: int = 42,
    validate: bool = True,
    on_iteration=None,
) -> DataFrame:
    """Approximate K-NN graph via NN-Descent (reference `buildGraph`,
    NND.scala:66, same parameters plus an explicit ``seed``).

    ``on_iteration``, if given, is called after each round with
    ``(iteration_index, updated_count)`` — progress/telemetry hook.

    Returns the input columns plus ``neighbors ARRAY<STRUCT<id BIGINT,
    similarity DOUBLE>>``, sorted by similarity desc / id asc; null for
    ``finished`` rows, ``[]`` for active nodes that found none.
    """
    spark: SparkSession = df.sparkSession
    points = normalize_points(df)
    if validate:
        validate_points(points)

    active = (
        points.filter(~F.col("finished"))
        .select("id", "features", "partition")
        .persist()
    )

    # --- A3/A4: partition histogram → per-partition bucket counts ------
    hist = {r["partition"]: r["count"] for r in active.groupBy("partition").count().collect()}
    n_active = sum(hist.values())
    if n_active == 0:
        active.unpersist()
        return points.withColumn("neighbors", F.lit(None).cast(_OUT_NEIGHBOR))
    n_buckets = {p: max(1, math.ceil(c * buckets_per_instance / (2.0 * k))) for p, c in hist.items()}
    max_nb = max(n_buckets.values())
    nb_df = spark.createDataFrame(
        [(int(p), int(b)) for p, b in n_buckets.items()], "partition long, n_buckets long"
    )

    # --- A5: deterministic bucket assignment (seeded by feature hash,
    # NND.scala:87-93); bucket ids namespaced per partition ------------
    draws = F.array_distinct(
        F.array(
            *[
                F.pmod(F.xxhash64("features", F.lit(seed * 7919 + i)), F.col("n_buckets")) + 1
                for i in range(buckets_per_instance)
            ]
        )
    )
    members = (
        active.join(F.broadcast(nb_df), "partition")
        .withColumn("__b", F.explode(draws))
        .select(
            (F.col("__b") + F.lit(int(max_nb)) * F.col("partition")).alias("bucket"),
            "id",
            # float32 on the wire (see `feats` below); the bucket draw above
            # hashes the original float64 features, so init is unchanged.
            F.col("features").cast("array<float>").alias("features"),
        )
    )

    # --- A6/A7: in-bucket random init + per-node top-K merge -----------
    init_cands = _map_groups(members, "bucket", ["id", "features"], _init_kernel(seed, k))
    graph = _merge_top_k(init_cands.withColumn("is_b", F.lit(False)), k)
    graph = graph.localCheckpoint(eager=True)

    graph = _descend(
        active, graph, k, max_iterations, early_termination, sample_rate,
        seed, n_active, on_iteration,
    )
    result = _assemble(points, graph)
    active.unpersist()
    return result


def _sample_reverse(
    rev: DataFrame, sample_rate: float, seed: int, iteration: int
) -> DataFrame:
    """A9 (NND.scala:146-152): keep ``max(ceil(ρ·|R(v)|), 1)`` reverse
    edges per target ``v`` — the reference's shuffle-control knob, since
    every surviving member ships its feature vector into the group-by-v
    exchange. Selection order is a seeded hash of the member id, so the
    draw is deterministic per (seed, iteration) and rotates across
    iterations. ``ρ=1`` short-circuits: no window, no extra shuffle."""
    if sample_rate >= 1.0:
        return rev
    wr = Window.partitionBy("v").orderBy(
        F.xxhash64(F.lit(seed + 17 + iteration), "member")
    )
    wc = Window.partitionBy("v")
    return (
        rev.withColumn("__rn", F.row_number().over(wr))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .filter(
            F.col("__rn")
            <= F.greatest(F.ceil(F.lit(sample_rate) * F.col("__n")), F.lit(1))
        )
        .drop("__rn", "__n")
    )


def _descend(
    active: DataFrame,
    graph: DataFrame,
    k: int,
    max_iterations: int,
    early_termination: float,
    sample_rate: float,
    seed: int,
    threshold_n: int,
    on_iteration=None,
) -> DataFrame:
    """The NN-Descent iteration loop (A8–A13) from a seeded working
    graph — the FULL-BUILD loop, where every node is churning and the
    O(N·K) per-iteration explode/merge is the work itself (incremental
    updates go through :func:`_descend_sparse`, which bounds every
    exchange to the touched neighborhood). ``threshold_n`` is the N in
    the ``updated ≤ δ·K·N`` stop rule."""
    # Features ship as float32: halves the dominant exchange (group-by-v
    # feature routing); kernels upcast to float64 for the distance math.
    # Output similarities deviate from exact-float64 by ~1e-7 relative —
    # irrelevant for an approximate-KNN contract (recall-tested).
    feats = active.select(
        F.col("id").alias("member"),
        F.col("features").cast("array<float>").alias("member_features"),
    )

    iterations_run = 0
    for _ in range(max_iterations):
        edges = graph.select(
            F.col("id").alias("src"), F.explode("neighbors").alias("nb")
        ).select(
            "src", F.col("nb.id").alias("dst"), F.col("nb.similarity").alias("sim"),
            F.col("nb.is_new").alias("is_new"),
        )

        # A8/A9: reverse edges, sampled per target (deterministic hash
        # order; rate 1.0 short-circuits the window entirely).
        rev = edges.select(F.col("dst").alias("v"), F.col("src").alias("member"), "is_new")
        rev = _sample_reverse(rev, sample_rate, seed, iterations_run)

        # A10: A(v) = B(v) ∪ sampled-R(v) ∪ {v}; features attach via one
        # equi-join (the only place vectors are shipped). Each member also
        # carries its current K-th neighbor similarity — one double that
        # lets the kernel prune candidates which cannot enter the top-K.
        fwd = edges.select(F.col("src").alias("v"), F.col("dst").alias("member"), "is_new")
        self_m = active.select(
            F.col("id").alias("v"), F.col("id").alias("member"), F.lit(False).alias("is_new")
        )
        # Dedup (v, member) BEFORE features attach: B(v) and sampled-R(v)
        # overlap heavily once the graph converges (mutual neighbors), and
        # every duplicate dropped here is one feature vector that never
        # enters the big group-by-v exchange. The dedup shuffle itself
        # moves id-only rows — cheap.
        adj = (
            fwd.unionByName(rev)
            .unionByName(self_m)
            .groupBy("v", "member")
            .agg(F.max("is_new").alias("is_new"))
        )
        kth = graph.select(
            F.col("id").alias("member"),
            F.when(
                F.size("neighbors") >= k, F.element_at("neighbors", k)["similarity"]
            )
            .otherwise(F.lit(float("-inf")))
            .alias("kth_sim"),
        )
        feats_iter = feats.join(kth, "member", "left").withColumn(
            "kth_sim", F.coalesce("kth_sim", F.lit(float("-inf")))
        )
        adj_feat = adj.join(feats_iter, "member")

        # A11: local join (numpy kernel) → id-only candidate stream.
        cands = _map_groups(adj_feat, "v", _JOIN_COLUMNS, _local_join_kernel(k))

        old_edges = graph.select(
            F.col("id"), F.explode("neighbors").alias("nb")
        ).select(
            "id", F.col("nb.id").alias("nb_id"), F.col("nb.similarity").alias("sim"),
            F.lit(True).alias("is_b"),
        )
        merged = _merge_top_k(
            old_edges.unionByName(cands.withColumn("is_b", F.lit(False))), k
        )
        graph = merged.localCheckpoint(eager=True)
        iterations_run += 1

        # A12: exact convergence aggregate (not an accumulator).
        updated = graph.agg(
            F.coalesce(
                F.sum(F.size(F.filter("neighbors", lambda n: n["is_new"]))), F.lit(0)
            ).alias("u")
        ).first()["u"]
        if on_iteration is not None:
            on_iteration(iterations_run, int(updated))
        if updated <= early_termination * k * threshold_n:
            break
    return graph


def _assemble(points: DataFrame, graph: DataFrame) -> DataFrame:
    """A14: join results back; finished → null, active-no-neighbors → []."""
    out_neighbors = F.transform(
        "neighbors", lambda s: F.struct(s["id"].alias("id"), s["similarity"].alias("similarity"))
    )
    return (
        points.join(graph.select("id", "neighbors"), "id", "left")
        .withColumn(
            "neighbors",
            F.when(F.col("finished"), F.lit(None).cast(_OUT_NEIGHBOR)).otherwise(
                F.coalesce(out_neighbors, F.array().cast(_OUT_NEIGHBOR))
            ),
        )
    )


def _flag_old(col: str = "neighbors"):
    """Output-schema neighbor array lifted into the working schema with
    every entry old — how untouched prev rows enter the sparse loop."""
    return F.transform(
        col,
        lambda s: F.struct(
            s["id"].alias("id"),
            s["similarity"].alias("similarity"),
            F.lit(False).alias("is_new"),
        ),
    )


def _descend_sparse(
    active: DataFrame,
    prev: DataFrame,
    hot: DataFrame,
    k: int,
    max_iterations: int,
    early_termination: float,
    sample_rate: float,
    seed: int,
    threshold_n: int,
    on_iteration=None,
    reverse: DataFrame | None = None,
) -> DataFrame:
    """The NN-Descent loop for INCREMENTAL updates, restructured so
    every exchange is bounded by the touched neighborhood, never the
    corpus (the r14 extend-shuffle finding: the old path exploded the
    full graph into O(N·K) edge rows per iteration before pruning).

    State split: ``prev`` (id, neighbors in OUTPUT schema) holds the
    prior graph and is only ever scanned — broadcast semi/anti joins,
    no shuffle; ``hot`` (WORKING schema, checkpointed) holds exactly
    the rows touched so far. The working graph is ``prev`` outside
    ``hot``'s ids, ``hot`` inside.

    Per iteration, equal row-for-row to running the dense loop with
    inert-group pruning (same groups run, same candidates, same
    merge ranking):

    - live targets = dirty hot rows ∪ targets of their new edges —
      derivable from ``hot`` alone, because a group A(v) can contain a
      new member only via v's own list (v dirty) or via a reverse edge
      from a dirty source;
    - B(v)/kth/old-edge lookups semi-join ``prev``∪``hot`` on small
      broadcast id sets;
    - R(v) comes from ``reverse`` pairs of the prev graph (id=target,
      src=source) — the persisted index passes its maintained sidecar
      so the prev adjacency is never exploded, not even map-side —
      with sources superseded by ``hot`` re-derived from ``hot``;
    - only candidate-receiving rows re-merge; dirty-but-unmerged rows
      settle (flags clear, lists untouched) exactly as a dense merge
      of their own old edges would leave them.

    Shuffle per iteration: O(touched·K̄) id rows + O(members·dim)
    feature rows + the O(affected·K) merge — all batch-bounded.
    """
    feats_all = active.select(
        F.col("id").alias("member"),
        F.col("features").cast("array<float>").alias("member_features"),
    )
    if reverse is None:
        # map-side explode of prev (no shuffle); callers with a
        # persisted sidecar skip even this scan-time explode
        reverse = prev.select(
            F.col("id").alias("src"), F.explode("neighbors").alias("nb")
        ).select(F.col("nb.id").alias("id"), "src")
    reverse = reverse.select("id", "src")

    iterations_run = 0
    for _ in range(max_iterations):
        hot_ids = hot.select("id")
        hot_ids_b = F.broadcast(hot_ids)
        hot_src_b = F.broadcast(hot.select(F.col("id").alias("src")))

        def work_rows(ids: DataFrame, hot=hot, hot_ids_b=hot_ids_b) -> DataFrame:
            """Current working rows (WORK schema) for a small id set:
            prev outside hot, hot inside — two broadcast joins, no
            shuffle of either big side. ``ids`` MUST already be
            distinct (every caller passes a distinct().localCheckpoint
            id set) — re-deduping here paid a full exchange over the
            O(touched) id set inside each broadcast subtree, three
            times per iteration (the r15 per-stage diagnosis: 13
            identical O(touched)-row sub-jobs dominated extend
            shuffle)."""
            ids_b = F.broadcast(
                ids.select(F.col(ids.columns[0]).alias("id"))
            )
            stable = (
                prev.join(hot_ids_b, "id", "left_anti")
                .join(ids_b, "id", "left_semi")
                .select("id", _flag_old().alias("neighbors"))
            )
            return stable.unionByName(
                hot.join(ids_b, "id", "left_semi").select("id", "neighbors")
            )

        dirty = hot.filter(F.exists("neighbors", lambda n: n["is_new"]))
        new_tgt = (
            dirty.select(F.explode("neighbors").alias("nb"))
            .filter(F.col("nb.is_new"))
            .select(F.col("nb.id").alias("v"))
        )
        live_v = (
            dirty.select(F.col("id").alias("v"))
            .unionByName(new_tgt)
            .distinct()
            .localCheckpoint(eager=True)
        )
        live_b = F.broadcast(live_v)

        # A10 over live groups only. B(v): the live rows' own lists.
        fwd = (
            work_rows(live_v)
            .select(F.col("id").alias("v"), F.explode("neighbors").alias("nb"))
            .select(
                "v", F.col("nb.id").alias("member"),
                F.col("nb.is_new").alias("is_new"),
            )
        )
        # R(v): prev-graph pairs (sidecar) for un-superseded sources,
        # hot rows' edges re-derived; semi-join to live targets first.
        rev_stable = (
            reverse.join(F.broadcast(live_v.select(F.col("v").alias("id"))), "id", "left_semi")
            .join(hot_src_b, "src", "left_anti")
            .select(
                F.col("id").alias("v"), F.col("src").alias("member"),
                F.lit(False).alias("is_new"),
            )
        )
        rev_hot = (
            hot.select(F.col("id").alias("src"), F.explode("neighbors").alias("nb"))
            .select(
                F.col("nb.id").alias("v"), F.col("src").alias("member"),
                F.col("nb.is_new").alias("is_new"),
            )
            .join(live_b, "v", "left_semi")
        )
        rev = _sample_reverse(
            rev_stable.unionByName(rev_hot), sample_rate, seed, iterations_run
        )
        self_m = live_v.select(
            "v", F.col("v").alias("member"), F.lit(False).alias("is_new")
        )
        adj = (
            fwd.unionByName(rev)
            .unionByName(self_m)
            .groupBy("v", "member")
            .agg(F.max("is_new").alias("is_new"))
        )
        member_ids = (
            adj.select(F.col("member").alias("id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        kth = work_rows(member_ids).select(
            F.col("id").alias("member"),
            F.when(
                F.size("neighbors") >= k,
                F.element_at("neighbors", k)["similarity"],
            )
            .otherwise(F.lit(float("-inf")))
            .alias("kth_sim"),
        )
        feats_iter = (
            feats_all.join(
                F.broadcast(member_ids.select(F.col("id").alias("member"))),
                "member",
                "left_semi",
            )
            .join(kth, "member", "left")
            .withColumn("kth_sim", F.coalesce("kth_sim", F.lit(float("-inf"))))
        )
        adj_feat = adj.join(feats_iter, "member")

        # A11 over live groups; checkpoint — the stream is read twice
        # (affected ids + merge input) and is O(touched·K) small.
        cands = _map_groups(
            adj_feat, "v", _JOIN_COLUMNS, _local_join_kernel(k)
        ).localCheckpoint(eager=True)
        affected = cands.select("id").distinct().localCheckpoint(eager=True)
        aff_b = F.broadcast(affected)

        old_edges = (
            work_rows(affected)
            .select("id", F.explode("neighbors").alias("nb"))
            .select(
                "id", F.col("nb.id").alias("nb_id"),
                F.col("nb.similarity").alias("sim"),
                F.lit(True).alias("is_b"),
            )
        )
        merged = _merge_top_k(
            old_edges.unionByName(cands.withColumn("is_b", F.lit(False))), k
        )
        # Dirty rows that received no candidates settle: a dense merge
        # of just their own old edges returns the identical list with
        # flags cleared, so clear them in place without a shuffle.
        settled = hot.join(aff_b, "id", "left_anti").select(
            "id",
            F.transform(
                "neighbors",
                lambda s: F.struct(
                    s["id"].alias("id"),
                    s["similarity"].alias("similarity"),
                    F.lit(False).alias("is_new"),
                ),
            ).alias("neighbors"),
        )
        hot = merged.unionByName(settled).localCheckpoint(eager=True)
        iterations_run += 1

        # A12: only hot rows can carry new flags — same count the dense
        # loop's full aggregate would produce.
        updated = hot.agg(
            F.coalesce(
                F.sum(F.size(F.filter("neighbors", lambda n: n["is_new"]))),
                F.lit(0),
            ).alias("u")
        ).first()["u"]
        if on_iteration is not None:
            on_iteration(iterations_run, int(updated))
        if updated <= early_termination * k * threshold_n:
            break
    return hot


def _update_core(
    prev_nb: DataFrame,
    active: DataFrame,
    new_ids: DataFrame,
    k: int,
    max_iterations: int,
    early_termination: float,
    sample_rate: float,
    buckets_per_instance: int,
    seed: int,
    on_iteration=None,
    reverse: DataFrame | None = None,
) -> DataFrame | None:
    """Shared incremental-update core: seed a HOT working set from the
    new batch's bucket cohorts, then run the sparse descent. Returns
    the final hot rows (WORKING schema — every id the update touched),
    or None when the batch is empty. No step shuffles more than the
    touched neighborhood; ``prev_nb`` and ``active`` are only scanned.
    """
    spark: SparkSession = active.sparkSession
    n_new = new_ids.count()
    if n_new == 0:
        return None

    # Bucket geometry over ALL actives (same formula as build_graph, so
    # old members hash into consistent buckets). The groupBy is
    # map-side-combined: O(partitions), not O(N), moves.
    hist = {r["partition"]: r["count"] for r in active.groupBy("partition").count().collect()}
    n_buckets = {p: max(1, math.ceil(c * buckets_per_instance / (2.0 * k))) for p, c in hist.items()}
    max_nb = max(n_buckets.values())
    nb_df = spark.createDataFrame(
        [(int(p), int(b)) for p, b in n_buckets.items()], "partition long, n_buckets long"
    )
    draws = F.array_distinct(
        F.array(
            *[
                F.pmod(F.xxhash64("features", F.lit(seed * 7919 + i)), F.col("n_buckets")) + 1
                for i in range(buckets_per_instance)
            ]
        )
    )
    members = (
        active.join(F.broadcast(nb_df), "partition")
        .withColumn("__b", F.explode(draws))
        .select(
            (F.col("__b") + F.lit(int(max_nb)) * F.col("partition")).alias("bucket"),
            "id",
            F.col("features").cast("array<float>").alias("features"),
        )
    )
    # Only buckets holding >= 1 new point produce candidates that can
    # involve a new point; prune the rest before any feature moves.
    # BOTH prunes are broadcast joins: the O(N·draws) member stream
    # (features attached) is scanned, never exchanged.
    live_buckets = (
        members.join(F.broadcast(new_ids), "id", "left_semi")
        .select("bucket")
        .distinct()
    )
    members = members.join(F.broadcast(live_buckets), "bucket", "left_semi")
    init_cands = _map_groups(members, "bucket", ["id", "features"], _init_kernel(seed, k))
    # Drop candidates where both endpoints are old (their graph entries
    # are already converged; re-initializing them would only add noise).
    new_flag = F.broadcast(new_ids.withColumn("__new", F.lit(True)))
    init_cands = (
        init_cands.join(new_flag, "id", "left")
        .withColumnRenamed("__new", "__new_id")
        .join(new_flag.withColumnRenamed("id", "nb_id"), "nb_id", "left")
        .filter(F.col("__new_id").isNotNull() | F.col("__new").isNotNull())
        .select("id", "nb_id", "sim")
        .localCheckpoint(eager=True)
    )

    # Seed hot = merge of ONLY the candidate-receiving rows' prev edges
    # with the init candidates; everything else stays in prev untouched
    # (the old path exploded and re-merged the entire prev graph here).
    affected0 = init_cands.select("id").distinct()
    prev_edges_aff = (
        prev_nb.join(F.broadcast(affected0), "id", "left_semi")
        .select("id", F.explode("neighbors").alias("nb"))
        .select(
            "id", F.col("nb.id").alias("nb_id"),
            F.col("nb.similarity").alias("sim"), F.lit(True).alias("is_b"),
        )
    )
    hot0 = _merge_top_k(
        prev_edges_aff.unionByName(init_cands.withColumn("is_b", F.lit(False))), k
    ).localCheckpoint(eager=True)

    return _descend_sparse(
        active, prev_nb, hot0, k, max_iterations, early_termination,
        sample_rate, seed, n_new, on_iteration, reverse=reverse,
    )


def update_graph(
    prev: DataFrame,
    df: DataFrame,
    k: int,
    max_iterations: int = 3,
    early_termination: float = 0.01,
    sample_rate: float = 1.0,
    buckets_per_instance: int = 4,
    seed: int = 42,
    validate: bool = True,
    on_iteration=None,
    new_ids: DataFrame | None = None,
    reverse: DataFrame | None = None,
) -> DataFrame:
    """Incrementally fold new points into an existing K-NN graph.

    The extension the reference's ``finished`` flag exists for
    (NND.scala:62, README.md:34 — carried for the upstream spark-rgt
    incremental workflow but never implemented there): ``prev`` is a
    prior ``build_graph``/``update_graph`` result (lists in canonical
    merge order), ``df`` is the full current point set; rows absent
    from ``prev`` are the new arrivals.

    Incremental shape (BOTH compute and shuffle scale with the new
    batch's TOUCHED NEIGHBORHOOD — O(min(corpus,
    batch·draws·bucket_size·K̄)), since each descent hop activates the
    candidate-receivers' neighbor groups; corpus-independent once the
    corpus exceeds that bound — never with the corpus itself):

    - init: only new points' bucket cohorts run the init kernel, and
      only candidate-receiving rows are merged into the working set
      (bucket membership is a pure function of the feature hash, so
      old members land in the buckets they did at build time);
    - iterations run :func:`_descend_sparse` — the prev graph is never
      exploded or re-merged; untouched rows pass through by identity;
    - convergence denominator is the NEW-point count (``updated ≤
      δ·K·N_new``), since a converged bulk would otherwise mask new
      points' churn.

    ``new_ids`` (optional) skips the new-arrival anti-join when the
    caller already knows the batch ids (the persisted index's extend,
    whose upsert guarantees batch ids are absent from the store).
    ``reverse`` (optional) supplies prev-graph reverse pairs
    (id=target, src) — e.g. the index family's maintained sidecar —
    so the prev adjacency is never re-exploded for reverse expansion.

    Returns the same output schema as ``build_graph`` over ``df``.
    """
    points = normalize_points(df)
    if validate:
        validate_points(points)

    active = (
        points.filter(~F.col("finished"))
        .select("id", "features", "partition")
        .persist()
    )
    prev_nb = prev.select("id", "neighbors").persist()
    if new_ids is None:
        new_ids = (
            active.select("id").join(prev_nb.select("id"), "id", "left_anti")
        )
    new_ids = new_ids.persist()

    hot = _update_core(
        prev_nb, active, new_ids, k, max_iterations, early_termination,
        sample_rate, buckets_per_instance, seed, on_iteration, reverse,
    )
    if hot is None:
        result = _assemble(points, prev_nb)
        active.unpersist()
        return result
    stable = prev_nb.join(F.broadcast(hot.select("id")), "id", "left_anti")
    hot_clean = hot.select(
        "id",
        F.transform(
            "neighbors",
            lambda s: F.struct(
                s["id"].alias("id"), s["similarity"].alias("similarity")
            ),
        ).alias("neighbors"),
    )
    result = _assemble(points, stable.unionByName(hot_clean))
    active.unpersist()
    prev_nb.unpersist()
    new_ids.unpersist()
    return result


def update_graph_delta(
    prev: DataFrame,
    df: DataFrame,
    k: int,
    max_iterations: int = 3,
    early_termination: float = 0.01,
    sample_rate: float = 1.0,
    buckets_per_instance: int = 4,
    seed: int = 42,
    on_iteration=None,
    new_ids: DataFrame | None = None,
    reverse: DataFrame | None = None,
) -> DataFrame:
    """:func:`update_graph` that returns ONLY the changed rows — (id,
    neighbors, partition) for every node whose final list differs from
    ``prev`` (new nodes included; a new node that found no neighbors
    emits no row, matching the read path's empty-list coalesce).

    This is the persisted index family's extend entry point: the full
    graph is never assembled, so nothing in the job — not the result
    join, not the diff — is O(corpus). Inputs may be lazy parquet
    scans; they are read, never cached or checkpointed here.
    """
    points = normalize_points(df)
    active = points.filter(~F.col("finished")).select(
        "id", "features", "partition"
    )
    prev_nb = prev.select("id", "neighbors")
    if new_ids is None:
        new_ids = (
            active.select("id").join(prev_nb.select("id"), "id", "left_anti")
        )
    hot = _update_core(
        prev_nb, active, new_ids, k, max_iterations, early_termination,
        sample_rate, buckets_per_instance, seed, on_iteration, reverse,
    )
    spark: SparkSession = df.sparkSession
    if hot is None:
        return spark.createDataFrame(
            [], f"id long, neighbors {_OUT_NEIGHBOR.simpleString()}, partition long"
        )
    hot_clean = hot.select(
        "id",
        F.transform(
            "neighbors",
            lambda s: F.struct(
                s["id"].alias("id"), s["similarity"].alias("similarity")
            ),
        ).alias("neighbors"),
    )
    prev_touched = prev_nb.join(
        F.broadcast(hot.select("id")), "id", "left_semi"
    ).select("id", F.col("neighbors").alias("__old"))
    # checkpoint the diff before attaching partitions: the partition
    # lookup broadcasts changed ids and the final join reads changed
    # again — without the checkpoint both consumers re-ran the whole
    # hot-vs-prev comparison subtree (once inside the broadcast thread)
    changed = (
        hot_clean.join(prev_touched, "id", "left")
        .filter(F.col("__old").isNull() | (F.col("neighbors") != F.col("__old")))
        .select("id", "neighbors")
    ).localCheckpoint(eager=True)
    part = points.select("id", "partition").join(
        F.broadcast(changed.select("id")), "id", "left_semi"
    )
    return changed.join(F.broadcast(part), "id").select(
        "id", "neighbors", "partition"
    )
