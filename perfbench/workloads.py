"""The three perfbench workloads.

Each workload generates its inputs with ``corpus.generate_repos`` from the
seed it is given, and exposes the steps :func:`harness.run_workload` drives:
``prepare()`` (input generation the set-up reads), ``setup(rep, calls)``
(repeated; its median is ``setup_s``), ``warmup()``, ``before_op()`` (untimed),
``op(calls)`` (timed), ``check(out)`` and ``final_check()`` (untimed; each
returns a list of failed-check descriptions) and ``summary(run)`` (the
workload's named end-to-end metrics).

Every call into a layer goes through ``calls.call(layer, fn)``, where ``fn``
includes the action that materializes the layer's output.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import release_local_checkpoint
from gp_ann_spark.corpus.generator import generate_repos
from gp_ann_spark.corpus.ingest import repos_to_points
from gp_ann_spark.eval import recall as R
from gp_ann_spark.operators import graph as G
from gp_ann_spark.operators import knn as KNN
from gp_ann_spark.operators import knn_approx as KA
from gp_ann_spark.operators import partition as P
from gp_ann_spark.operators import routing as RT
from gp_ann_spark.operators import search as SE
from gp_ann_spark.operators import sweep as SW
from gp_ann_spark.streaming import ingest_stream

from perfbench.harness import Calls, tail

K = 10
QUERY_SEED_SALT = 1_000_003  # held-out queries come from a second corpus seed


def _held_out_queries(spark, n_queries: int, seed: int):
    """``n_queries`` query vectors featurized from a corpus drawn with a
    second seed (ids below n_queries; ~10% of generated rows are duplicates)."""
    rows = int(n_queries * 1.2) + 20
    pts = repos_to_points(generate_repos(spark, rows, seed=seed + QUERY_SEED_SALT))
    return pts.where(F.col("id") < n_queries).select(F.col("id").alias("query_id"), "vec")


@dataclass
class Summary:
    """A run's figures: the workload's named end-to-end metrics, name →
    (value, unit[, note]); its work rate; its recall@10 against exact
    neighbours."""

    named: dict
    throughput: float
    recall: float


def _release(*frames) -> None:
    for df in frames:
        release_local_checkpoint(df)


# ------------------------------------------------------------ offline batch
@dataclass(frozen=True)
class OfflineSize:
    rows: int
    shards: int
    coarse_target: int
    queries: int  # held-out queries for ground truth and the recall curve
    sweep_queries: int  # the first of them, for the routing sweep
    # knn_approx recursion: with n ≈ 500 a 300-point cap always splits the
    # top level and rarely recurses further, so the job count barely varies
    # with the seed (a cap near n splits on some seeds and not on others)
    knn_max_cluster: int
    knn_leaders: int


class OfflinePipeline:
    """The paper's batch pipeline, one blocking layer call at a time:
    corpus → k-NN graph → graph witnesses → balanced graph partition →
    ground truth → routed recall curve → routing/search sweep."""

    name = "offline_pipeline"
    LAYERS = {
        "corpus.repos_to_points": (),
        "knn_approx.build_knn_graph": ("python_s", "spill_bytes"),
        "graph.connected_components": (),
        "graph.pagerank": (),
        "graph.triangle_count": (),
        "partition.graph_partition": ("spill_bytes",),
        "recall.ground_truth": ("python_s",),
        "recall.recall_vs_probes": ("python_s",),
        "sweep.routing_sweep_pareto": ("python_s",),
    }
    NOTES = ()

    def __init__(self, spark, seed: int, size: OfflineSize, work_dir: str):
        self.spark, self.seed, self.size = spark, seed, size
        self.repos = self.queries = None
        self.n_points = 0
        self.imbalances: list[float] = []
        self.curves: list[list[float]] = []

    def prepare(self) -> None:
        pass

    def setup(self, rep: int, calls: Calls) -> None:
        """Input generation: the repos table and the held-out query pool."""
        _release(self.repos, self.queries)
        self.repos = generate_repos(self.spark, self.size.rows, seed=self.seed).localCheckpoint(eager=True)
        self.queries = _held_out_queries(self.spark, self.size.queries, self.seed).localCheckpoint(eager=True)

    def warmup(self) -> None:
        pass  # one pass is the whole measurement; its cold start is part of it

    def before_op(self) -> None:
        pass

    def op(self, calls: Calls) -> dict:
        s = self.size
        qs = self.queries
        pts = calls.call("corpus.repos_to_points", lambda: repos_to_points(self.repos).localCheckpoint(eager=True))
        sym = calls.call(
            "knn_approx.build_knn_graph",
            lambda: KNN.symmetrize(
                KA.build_knn_graph(
                    pts, k=K, max_cluster_size=s.knn_max_cluster, top_level_leaders=s.knn_leaders, repetitions=3
                )
            ).localCheckpoint(eager=True),
        )
        cc = calls.call("graph.connected_components", lambda: G.connected_components(sym).localCheckpoint(eager=True))
        pr = calls.call("graph.pagerank", lambda: G.pagerank(sym, tol=0.0, max_iter=10).localCheckpoint(eager=True))
        calls.call("graph.triangle_count", lambda: G.triangle_count(sym).collect())
        asn = calls.call(
            "partition.graph_partition",
            lambda: P.graph_partition(sym, s.shards, coarse_target=s.coarse_target).localCheckpoint(eager=True),
        )
        gt = calls.call("recall.ground_truth", lambda: R.ground_truth(pts, qs, k=K).localCheckpoint(eager=True))
        sweep_qs = qs.where(F.col("query_id") < s.sweep_queries)
        curve = calls.call(
            "recall.recall_vs_probes",
            lambda: R.recall_vs_probes(gt, asn, RT.centroid_router(qs, pts, asn), K, s.queries)
            .orderBy("nprobes")
            .collect(),
        )
        pareto = calls.call(
            "sweep.routing_sweep_pareto",
            lambda: SW.routing_sweep_pareto(
                pts, asn, sweep_qs, gt, k=K, num_shards=s.shards, budgets=(512,), num_voting_list=(80,),
                policies=("min_dist",), nprobes_values=(1, 2, 4), in_shard="ivf", ef_values=(100, 300),
            ),
        )
        return {"pts": pts, "sym": sym, "cc": cc, "pr": pr, "asn": asn, "gt": gt, "curve": curve, "pareto": pareto}

    def check(self, out: dict) -> list[str]:
        s = self.size
        bad = []
        try:
            pts, asn = out["pts"], out["asn"]
            self.n_points = pts.count()
            a = asn.agg(
                F.count(F.lit(1)).alias("n"), F.countDistinct("id").alias("ids"),
                F.min("shard").alias("lo"), F.max("shard").alias("hi"),
            ).first()
            missing = pts.join(asn, "id", "left_anti").count()
            if not (a["n"] == a["ids"] == self.n_points and missing == 0):
                bad.append(f"assignment covers {a['ids']} ids in {a['n']} rows, {missing} missing, of {self.n_points}")
            if not (0 <= a["lo"] and a["hi"] < s.shards):
                bad.append(f"shard ids outside [0,{s.shards}): {a['lo']}..{a['hi']}")
            imb = P.imbalance(asn, s.shards)
            self.imbalances.append(imb)
            if imb > 1.05:
                bad.append(f"imbalance {imb:.4f} > 1.05")
            edges = out["sym"].select("src", "dst").collect()
            n_comp = out["cc"].select("component").distinct().count()
            uf = _union_find_components(edges)
            if n_comp != uf:
                bad.append(f"connected_components found {n_comp} components, union-find {uf}")
            pr_sum = out["pr"].agg(F.sum("pagerank")).first()[0]
            if abs(pr_sum - 1.0) > 1e-6:
                bad.append(f"pagerank sums to {pr_sum!r}")
            recalls = [r["recall"] for r in out["curve"]]
            if any(b < a_ for a_, b in zip(recalls, recalls[1:])):
                bad.append("recall curve decreases")
            last = out["curve"][-1] if out["curve"] else None
            if last is None or last["nprobes"] != s.shards or abs(last["recall"] - 1.0) > 1e-9:
                bad.append(f"recall curve ends at {last}")
            if recalls:
                self.curves.append(recalls)
            if len(out["pareto"]) == 0:
                bad.append("empty routing sweep")
        finally:
            _release(*(out[k] for k in ("pts", "sym", "cc", "pr", "asn", "gt")))
        return bad

    def final_check(self) -> list[str]:
        return []

    def summary(self, run: dict) -> Summary:
        p50 = statistics.median(run["latencies"])
        curve = self.curves[-1] if self.curves else [0.0]
        # the curve's mean over probe counts 1..shards: the quality figure
        # the benchmark bounds. The 1-probe point alone moves ~10% between
        # seeds with the partition; the mean moves far less.
        mean_recall = statistics.fmean(curve)
        named = {
            "pipeline_s": (p50, "s"),
            "imbalance": (self.imbalances[-1] if self.imbalances else 0.0, "ratio"),
            "recall_at_10_p1": (curve[0], "ratio"),
            "recall_at_10_mean_over_probes": (mean_recall, "ratio"),
            "points": (self.n_points, "count"),
        }
        # repo rows per pipeline second: the input row count is fixed, the
        # point count after dedup varies a few percent with the seed
        return Summary(named, self.size.rows / p50, mean_recall)


def _union_find_components(edges) -> int:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edges:
        a, b = find(r["src"]), find(r["dst"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    return sum(1 for v in parent if find(v) == v)


# ------------------------------------------------------------ query serving
@dataclass(frozen=True)
class QuerySize:
    rows: int
    shards: int
    kmeans_iters: int
    # shard cap (1+eps)·n/shards: the capacity fill's pass count, and so the
    # index build's job count, varies with the seed; a looser cap than the
    # engine's 0.05 default needs fewer passes and keeps set-up short
    kmeans_eps: float
    batch: int
    batches: int
    nprobes: int
    ef: int


class QueryServing:
    """Closed loop, one client: each operation routes one batch of held-out
    queries through the k-means-tree router, probes the IVF shards and
    merges the per-shard results."""

    name = "query_serving"
    LAYERS = {
        "partition.kmeans_partition": (),
        "routing.train_kmeans_tree": ("python_s",),
        "routing.kmeans_tree_router": ("python_s",),
        "search.probe_shards": ("python_s", "python_bytes"),
        "search.merge_results": (),
    }
    NOTES = ("search.probe_keep_ratio",)

    def __init__(self, spark, seed: int, size: QuerySize, work_dir: str):
        self.spark, self.seed, self.size = spark, seed, size
        self.index: list = []
        self.batches: list = []
        self.next_batch = 0
        self.recalls: list[float] = []
        self.imbalance = 0.0

    def prepare(self) -> None:
        """Input generation: one corpus, featurized once and split into the
        held-out query pool (the first ids) and the indexed points; exact
        ground truth for the pool, kept on the driver with the vectors for
        the checks."""
        s = self.size
        n_pool = s.batch * s.batches
        corpus = repos_to_points(generate_repos(self.spark, s.rows, seed=self.seed)).localCheckpoint(eager=True)
        self.pts = pts = corpus.where(F.col("id") >= n_pool)
        pool = corpus.where(F.col("id") < n_pool).select(F.col("id").alias("query_id"), "vec")
        self.batches = [
            pool.where((F.col("query_id") >= b * s.batch) & (F.col("query_id") < (b + 1) * s.batch))
            for b in range(s.batches)
        ]
        gt = R.ground_truth(pts, pool, k=K).collect()
        prow = pts.select("id", "vec").collect()
        self.X = np.zeros((max(r["id"] for r in prow) + 1, len(prow[0]["vec"])))
        for r in prow:
            self.X[r["id"]] = r["vec"]
        self.Q = {r["query_id"]: np.asarray(r["vec"], dtype=np.float64) for r in pool.collect()}
        self.kth = {}
        for r in gt:
            if r["rank"] == K:
                self.kth[r["query_id"]] = r["dist"]

    def setup(self, rep: int, calls: Calls) -> None:
        """Index build: balanced k-means partition, k-means-tree router,
        points co-partitioned by shard."""
        s, pts = self.size, self.pts
        _release(*self.index)
        asn = calls.call(
            "partition.kmeans_partition",
            lambda: P.kmeans_partition(
                pts, s.shards, eps=s.kmeans_eps, n_iter=s.kmeans_iters, seed=self.seed
            ).localCheckpoint(eager=True),
        )
        self.tree = calls.call("routing.train_kmeans_tree", lambda: RT.train_kmeans_tree(pts, asn).localCheckpoint(eager=True))
        self.sharded = SE.shard_points(pts, asn).localCheckpoint(eager=True)
        self.index = [asn, self.tree, self.sharded]
        self.imbalance = P.imbalance(asn, s.shards)

    def warmup(self) -> None:
        bad = self.check(self.op(Calls(self.spark)))
        if bad:
            raise RuntimeError(f"warmup batch failed its check: {bad}")
        self.recalls.clear()

    def before_op(self) -> None:
        pass

    def op(self, calls: Calls) -> tuple:
        s = self.size
        b = self.next_batch % len(self.batches)
        self.next_batch += 1
        qb = self.batches[b]
        routes = calls.call(
            "routing.kmeans_tree_router", lambda: calls.split(RT.kmeans_tree_router(qb, self.tree, distributed=False))
        )
        probed = calls.call(
            "search.probe_shards",
            lambda: calls.split(SE.probe_shards(self.sharded, qb, routes, k=K, nprobes=s.nprobes, in_shard="ivf", ef=s.ef)),
        )
        rows = calls.call("search.merge_results", lambda: SE.merge_results(probed, k=K).collect())
        if calls.traced:
            calls.note("search.probe_keep_ratio", len(rows) / max(1, probed.count()))
            _release(routes, probed)
        return b, rows

    def check(self, out: tuple) -> list[str]:
        b, rows = out
        s = self.size
        want = range(b * s.batch, (b + 1) * s.batch)
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append(r)
        bad = []
        if set(got) != set(want):
            bad.append(f"batch {b}: {len(set(want) - set(got))} queries without results")
        max_err = 0.0
        for q, rs in got.items():
            ids = [r["neighbor_id"] for r in rs]
            if len(ids) != K or len(set(ids)) != K:
                bad.append(f"query {q}: {len(set(ids))} distinct neighbours of {len(ids)}")
                continue
            d = np.asarray([r["dist"] for r in rs])
            true = ((self.X[ids] - self.Q[q]) ** 2).sum(axis=1)
            max_err = max(max_err, float(np.abs(d - true).max()))
            self.recalls.append(float((true <= self.kth[q] + 1e-9).sum()) / K)
        if max_err > 1e-5:
            bad.append(f"batch {b}: returned distance off by {max_err:.3g}")
        return bad

    def final_check(self) -> list[str]:
        return []

    def summary(self, run: dict) -> Summary:
        lat = run["latencies"]
        p, tail_v, beyond = tail(lat)
        recall = statistics.fmean(self.recalls) if self.recalls else 0.0
        qps = run["attempted"] * self.size.batch / sum(lat)
        named = {
            "query_qps": (qps, "queries/s"),
            "query_batch_p50_s": (statistics.median(lat), "s"),
            "query_batch_tail_s": (tail_v, "s", f"p{p:g} of {len(lat)} batches, {beyond} beyond"),
            "recall_at_10": (recall, "ratio"),
            "index_imbalance": (self.imbalance, "ratio"),
        }
        return Summary(named, qps, recall)


# ------------------------------------------------------------- stream ingest
@dataclass(frozen=True)
class StreamSize:
    seed_rows: int
    batch_new: int
    batch_resent: int
    max_batches: int


class StreamIngest:
    """Closed loop, one writer: each operation lands one micro-batch (part
    new rows, part rows re-sent from the previous batch) and drains it with
    ``streaming.ingest_stream``, which dedups against the sink, featurizes
    and maintains the exact k-NN edge table incrementally."""

    name = "stream_ingest"
    LAYERS = {"streaming.ingest_stream": ("python_s",)}
    NOTES = ()

    def __init__(self, spark, seed: int, size: StreamSize, work_dir: str):
        self.spark, self.seed, self.size = spark, seed, size
        self.root = os.path.join(work_dir, "stream")
        self.pool = None
        self.edge_recall = 0.0

    def _fresh_sink(self, rep: int) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        d = os.path.join(self.root, f"rep{rep}")
        self.inp, self.pts_d, self.edg_d, self.ck = (os.path.join(d, x) for x in ("in", "pts", "edg", "ck"))
        self.staging = os.path.join(d, "staging")
        os.makedirs(self.inp)
        os.makedirs(self.staging)
        self.landed = 0
        self.batch_no = 0
        self.hashes: set[str] = set()
        self.rows_landed: list[int] = []

    def prepare(self) -> None:
        """Input generation: every row any batch can land, kept on the driver."""
        s = self.size
        n = s.seed_rows + s.max_batches * s.batch_new
        self.pool = generate_repos(self.spark, n, seed=self.seed).toPandas()

    def setup(self, rep: int, calls: Calls) -> None:
        """A fresh sink seeded by one drain of the seed rows."""
        s = self.size
        self._fresh_sink(rep)
        self._land(self.pool.iloc[: s.seed_rows])
        self.prev = (0, s.seed_rows)
        self.cursor = s.seed_rows
        self._drain()

    def _land(self, df) -> None:
        """Write one micro-batch into the landing directory (no Spark job):
        parquet into a staging dir, then an atomic rename."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        name = f"batch-{self.batch_no:05d}.parquet"
        self.batch_no += 1
        tmp = os.path.join(self.staging, name)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
        os.rename(tmp, os.path.join(self.inp, name))
        self.hashes.update(hashlib.sha256(c.encode("utf-8")).hexdigest() for c in df["content"])
        self.landed_now = len(df)

    def _drain(self) -> None:
        ingest_stream(self.spark, self.inp, self.pts_d, self.edg_d, self.ck, k=K)

    def warmup(self) -> None:
        self.before_op()
        self._drain()
        bad = self._check_sink()
        if bad:
            raise RuntimeError(f"warmup drain failed its check: {bad}")

    def before_op(self) -> None:
        s = self.size
        if self.cursor + s.batch_new > len(self.pool):
            raise RuntimeError("stream_ingest ran out of generated rows; raise max_batches")
        lo, hi = self.prev
        resent = self.pool.iloc[lo : min(hi, lo + s.batch_resent)]
        new = self.pool.iloc[self.cursor : self.cursor + s.batch_new]
        self.prev = (self.cursor, self.cursor + s.batch_new)
        self.cursor += s.batch_new
        self._land(pd.concat([resent, new], ignore_index=True))

    def op(self, calls: Calls) -> int:
        calls.call("streaming.ingest_stream", self._drain)
        self.rows_landed.append(self.landed_now)
        return self.landed_now

    def _check_sink(self) -> list[str]:
        sink = self.spark.read.parquet(self.pts_d)
        c = sink.agg(F.count(F.lit(1)).alias("n"), F.countDistinct("sha256").alias("h")).first()
        if c["n"] == c["h"] == len(self.hashes):
            return []
        return [f"sink holds {c['n']} rows, {c['h']} hashes; {len(self.hashes)} distinct hashes landed"]

    def check(self, out: int) -> list[str]:
        return self._check_sink()

    def final_check(self) -> list[str]:
        """The maintained edge table equals ``knn.knn_edges`` rebuilt over
        the sink (the ``q_streaming_ingest_invariants`` contract)."""
        sink = self.spark.read.parquet(self.pts_d)
        edges = self.spark.read.parquet(self.edg_d).select("src", "dst")
        rebuilt = KNN.knn_edges(sink.select("id", "vec"), k=K).select("src", "dst").localCheckpoint(eager=True)
        n_rebuilt = rebuilt.count()
        extra = edges.exceptAll(rebuilt).count()
        missing = rebuilt.exceptAll(edges).count()
        _release(rebuilt)
        self.edge_recall = (n_rebuilt - missing) / max(1, n_rebuilt)
        if extra or missing:
            return [f"edge table differs from the rebuild: {extra} extra, {missing} missing of {n_rebuilt}"]
        return []

    def summary(self, run: dict) -> Summary:
        lat = run["latencies"]
        p, tail_v, beyond = tail(lat)
        rate = sum(self.rows_landed) / sum(lat)
        named = {
            "ingest_rows_per_s": (rate, "rows/s"),
            "ingest_batch_p50_s": (statistics.median(lat), "s"),
            "ingest_batch_tail_s": (tail_v, "s", f"p{p:g} of {len(lat)} drains, {beyond} beyond"),
            "edge_recall": (self.edge_recall, "ratio"),
        }
        return Summary(named, rate, self.edge_recall)


WORKLOADS = {
    "offline_pipeline": (
        OfflinePipeline,
        OfflineSize(
            rows=550, shards=16, coarse_target=256, queries=1000, sweep_queries=200,
            knn_max_cluster=300, knn_leaders=16,
        ),
    ),
    "query_serving": (
        QueryServing,
        QuerySize(rows=2900, shards=16, kmeans_iters=2, kmeans_eps=0.1, batch=200, batches=3, nprobes=2, ef=200),
    ),
    "stream_ingest": (StreamIngest, StreamSize(seed_rows=1000, batch_new=300, batch_resent=100, max_batches=60)),
}

# toy sizes: the same code paths, for the smoke test
TOY_SIZES = {
    "offline_pipeline": OfflineSize(
        rows=330, shards=8, coarse_target=128, queries=60, sweep_queries=30, knn_max_cluster=150, knn_leaders=8
    ),
    "query_serving": QuerySize(rows=480, shards=4, kmeans_iters=2, kmeans_eps=0.1, batch=20, batches=2, nprobes=2, ef=50),
    "stream_ingest": StreamSize(seed_rows=120, batch_new=40, batch_resent=10, max_batches=40),
}
