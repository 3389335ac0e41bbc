"""IVF vector index: persisted KMeans centroids + cluster-partitioned vectors.

Reference: storage2 IVF (/root/reference/pkg/storage2/ivf_index.go:12-28) —
kmeans partitions, per-partition exact search, nprobe pruning. Spark-first
persistence:

- centroids.parquet        — k rows (cluster, cv)
- vectors/ (parquet, partitioned by cluster) — (id, v, cluster)

Search prunes to the nprobe closest clusters per query; because the vector
table is PARTITIONED BY cluster on disk, Catalyst partition-prunes the scan
to exactly those directories — the 100 TB path reads nprobe/k of the data,
no shuffle of the corpus. Queries are broadcast.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from plan_spark.localrel import local_df


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _sq(a):
    return F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)


def _cos(a, b):
    return _dot(a, b) / F.sqrt(_sq(a) * _sq(b))


def _l2(a, b):
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, v: s + v,
        )
    )


# metric name -> (score column name, score expr, descending-rank?)
# Reference: distance_metrics.go:12-96 — L2/Cosine/Dot selectable per search.
_METRICS = {
    "cosine": ("cos_sim", _cos, True),
    "l2": ("l2_dist", _l2, False),
    "dot": ("dot_sim", _dot, True),
}


class IvfIndex:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)

    def _meta(self) -> dict:
        """Build-time metadata; indexes built before the meta file existed
        default to cosine (their historical behavior)."""
        import json

        p = os.path.join(self.path, "meta.json")
        if not os.path.exists(p):
            return {"metric": "cosine"}
        with open(p) as fh:
            return json.load(fh)

    @property
    def metric(self) -> str:
        return self._meta().get("metric", "cosine")

    # ------------------------------------------------------------- build
    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        path: str | None = None,
        k: int = 16,
        max_iter: int = 8,
        seed: int = 42,
        metric: str = "cosine",
    ) -> "IvfIndex":
        """Distributed index build: MLlib KMeans fits the centroids (itself
        a Spark job), then one write partitions the corpus by cluster."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        import json

        if metric not in _METRICS:
            raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")
        idx = cls(spark, path)
        os.makedirs(idx.path, exist_ok=True)
        # persisted so insert-time centroid assignment and the search-time
        # default follow the SAME geometry (a cosine-assigned
        # insert under l2/dot search can land in a cluster the probe never
        # visits) — mirrors HnswIndex, which stores metric in meta
        with open(os.path.join(idx.path, "meta.json"), "w") as fh:
            json.dump({"metric": metric, "k": k}, fh)
        e = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
        )
        feat = e.withColumn("features", array_to_vector("v"))
        # random init, not the k-means|| default: k-means|| costs ~7 driver
        # round-trip jobs (2 takeSample + per-step cost sums + countByValue
        # + collectAsMap) before the first Lloyd iteration. Partition
        # assignment only routes the search (results are exact whenever
        # nprobe covers the probed clusters); pruned-path quality is pinned
        # by the recall floors in tests/test_ann_recall.py, which hold under
        # random init at the fixed seed.
        model = KMeans(k=k, seed=seed, maxIter=max_iter, initMode="random").fit(feat)
        # Arrow local relation, NOT createDataFrame(list-of-tuples): the
        # pickled-RDD path measured ~4.8 s just to write k centroid rows
        cents = local_df(
            spark,
            [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
            "cluster int, cv array<double>",
        )
        cents.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(idx.path, "centroids.parquet")
        )
        (
            model.transform(feat)
            .select("id", "v", F.col("prediction").alias("cluster"))
            # Cluster-clustered files: without this every input task writes a
            # sliver into every cluster dir (tasks x k tiny files) and the
            # pruned search scan pays per-file overhead. One shuffle at build
            # time -> one file per cluster here; at 100 TB use
            # repartition(n_files_per_cluster * k, "cluster") to keep files
            # at target size while preserving the clustering.
            .repartition("cluster")
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(os.path.join(idx.path, "vectors"))
        )
        return idx

    # ------------------------------------------------------------- search
    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "centroids.parquet"))

    def vectors(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "vectors"))

    def search(
        self, queries: DataFrame, id_col: str = "q_id", vec_col: str = "qv",
        top_k: int = 5, nprobe: int = 4, prefilter: DataFrame | None = None,
        metric: str | None = None,
    ) -> DataFrame:
        """Top-k per query over the nprobe closest clusters under ``metric``
        ("cosine" | "l2" | "dot" — reference distance_metrics.go:12-96).
        Centroid probing and in-cluster scoring use the same metric.

        Output: (q_id, c_id, rank, <cos_sim|l2_dist|dot_sim>). The cluster
        filter is an isin() over the partition column, so the scan
        partition-prunes on disk.

        ``prefilter`` composes a predicate with the index search (reference
        prefilter.go:14-74 — the allowed-row bitmap ANDed into every index
        probe): a one-column DataFrame of allowed ids, semi-joined against
        the probed clusters BEFORE scoring, so disallowed vectors are never
        scored and top-k is taken over the filtered corpus only. At scale
        this is a shuffle-free semi join when the filter side is small
        enough to broadcast, else a shuffled semi join on id."""
        import numpy as np

        metric = metric or self.metric  # default: the build-time geometry
        score_col, score_fn, desc = _METRICS[metric]
        # The probe (query -> nprobe nearest centroids) is computed driver-
        # side: both inputs are query-sized BY CONTRACT (queries are the
        # broadcast side of the search; centroids are k rows), never corpus-
        # sized, and driver-side ranking saves a whole window-shuffle job per
        # search call. The corpus itself never leaves the executors.
        q_rows = queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("qv")
        ).collect()
        if not q_rows:  # no queries -> empty result, not an isin() error
            return self.spark.createDataFrame(
                [], f"q_id long, c_id long, rank int, {score_col} double"
            )
        c_rows = sorted(self.centroids().collect(), key=lambda r: r.cluster)
        C = np.array([r.cv for r in c_rows], dtype=np.float64)
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        probe_rows = []
        for r in q_rows:
            qv = np.array(r.qv, dtype=np.float64)
            if metric == "cosine":
                keys = Cn @ (qv / max(float(np.linalg.norm(qv)), 1e-12))
            elif metric == "dot":
                keys = C @ qv
            else:  # l2: nearest centroid by distance -> rank ascending
                keys = -np.linalg.norm(C - qv, axis=1)
            # ties broken by ascending cluster id (stable argsort on -keys)
            for j in np.argsort(-keys, kind="stable")[:nprobe]:
                probe_rows.append((r.q_id, r.qv, int(c_rows[j].cluster)))
        # Arrow-backed local relation (see plan_spark.localrel): the
        # pickled-RDD path measured ~6 s to broadcast vs ~0.3 s via Arrow,
        # and the probe is rebuilt per search call.
        probe = local_df(
            self.spark, probe_rows, "q_id long, qv array<double>, cluster int"
        )
        probed_clusters = sorted({c for _, _, c in probe_rows})
        vecs = self.vectors().filter(F.col("cluster").isin(probed_clusters))
        if prefilter is not None:
            allowed = prefilter.select(F.col(prefilter.columns[0]).alias("id"))
            vecs = vecs.join(allowed, "id", "left_semi")
        sims = (
            vecs.join(F.broadcast(probe), "cluster")
            .filter(F.col("id") != F.col("q_id"))
            .select(
                "q_id",
                F.col("id").alias("c_id"),
                score_fn(F.col("qv"), F.col("v")).alias(score_col),
            )
        )
        order = F.desc(score_col) if desc else F.asc(score_col)
        w = Window.partitionBy("q_id").orderBy(order, F.asc("c_id"))
        return (
            sims.select("q_id", "c_id", score_col, F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= top_k)
            .select("q_id", "c_id", "rank", score_col)
        )

    # ------------------------------------------------------- batch search
    def search_df(
        self, queries: DataFrame, id_col: str = "q_id", vec_col: str = "qv",
        top_k: int = 5, nprobe: int = 4, prefilter: DataFrame | None = None,
        metric: str | None = None,
    ) -> DataFrame:
        """Batch IVF search: queries stay a DataFrame end to end — the
        offline shape for 10^6-query batches (search() is the online path,
        whose driver-side probe saves a window job for bounded query sets).
        ``metric=None`` (both faces) resolves to the build-time metric.

        Shape: probe = queries × broadcast(k centroid rows) → per-query
        top-nprobe window (|Q|·k rows — query-sized, never corpus-sized);
        candidates = probes joined to the cluster-partitioned vectors ON
        cluster (each cluster's vectors co-locate with exactly the probes
        routed to it — the inherent IVF batch shape; AQE splits skewed
        clusters); scoring is the same JVM fold as search(); one final
        window takes top-k per query. Zero Python anywhere in the plan."""
        metric = metric or self.metric
        score_col, score_fn, desc = _METRICS[metric]
        q = queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
        c = self.centroids()
        probe_score = score_fn(F.col("qv"), F.col("cv"))
        porder = F.desc("pscore") if desc else F.asc("pscore")
        wp = Window.partitionBy("q_id").orderBy(porder, F.asc("cluster"))
        probes = (
            q.crossJoin(F.broadcast(c))
            .select("q_id", "qv", "cluster", probe_score.alias("pscore"))
            .select(
                "q_id", "qv", "cluster", F.row_number().over(wp).alias("pr")
            )
            .filter(F.col("pr") <= nprobe)
            .select("q_id", "qv", "cluster")
        )
        vecs = self.vectors()
        if prefilter is not None:
            allowed = prefilter.select(F.col(prefilter.columns[0]).alias("id"))
            vecs = vecs.join(allowed, "id", "left_semi")
        sims = (
            vecs.join(probes, "cluster")
            .filter(F.col("id") != F.col("q_id"))
            .select(
                "q_id",
                F.col("id").alias("c_id"),
                score_fn(F.col("qv"), F.col("v")).alias(score_col),
            )
        )
        order = F.desc(score_col) if desc else F.asc(score_col)
        w = Window.partitionBy("q_id").orderBy(order, F.asc("c_id"))
        return (
            sims.select("q_id", "c_id", score_col, F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= top_k)
            .select("q_id", "c_id", "rank", score_col)
        )

    # -------------------------------------------------------------- insert
    def insert(self, df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> "IvfIndex":
        """Incremental insert (reference incremental_index.go:28-253): new
        vectors are assigned to their nearest EXISTING centroid (broadcast
        of k rows — no refit, no corpus reshuffle) and appended into the
        matching cluster partitions. Assignment uses the PERSISTED build
        metric so an inserted vector lands in the cluster the metric-
        consistent probe will visit (a cosine-assigned insert under l2/dot
        search could land where the probe never looks). Centroid drift is
        handled by a periodic rebuild, same policy as the reference's
        buffered index."""
        score_col, score_fn, desc = _METRICS[self.metric]
        e = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
        )
        c = self.centroids()
        scored = e.join(F.broadcast(c)).select(
            "id", "v", "cluster", score_fn(F.col("v"), F.col("cv")).alias("sim")
        )
        order = F.desc("sim") if desc else F.asc("sim")
        w = Window.partitionBy("id").orderBy(order, F.asc("cluster"))
        assigned = (
            scored.select("id", "v", "cluster", F.row_number().over(w).alias("r"))
            .filter(F.col("r") == 1)
            .select("id", "v", "cluster")
        )
        assigned.write.mode("append").partitionBy("cluster").parquet(
            os.path.join(self.path, "vectors")
        )
        return self
