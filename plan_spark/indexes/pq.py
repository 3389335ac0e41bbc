"""Product-quantization index: per-subspace KMeans codebooks + ADC search.

Reference: storage2's PQ quantizer + IVF-PQ search
(/root/reference/pkg/storage2/pq_quantizer.go:39-52, ivf_pq_index.go:31-60).
Spark-first redesign:

- BUILD: split each vector into m subvectors; fit an independent KMeans(k)
  codebook per subspace (m small distributed fits); encode every vector as
  m small codes. The stored index is ~m bytes/vector instead of 8*dim —
  at 100 TB of embeddings this is the difference between scanning 3 TB of
  codes and 200 TB of floats.
- SEARCH (ADC — asymmetric distance computation): per query, compute the
  m x k table of partial squared-L2 distances between the query's
  subvectors and every centroid (driver-side — it is m*k floats), attach
  it as a literal column, and score each candidate as the sum of m table
  lookups over its codes. No vector data is read at query time.

Approximation quality depends on data clusterability (random fixtures are
the worst case); the test asserts recall well above chance and exactness
on the quantized representative itself.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plan_spark.localrel import local_df


class PqIndex:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)

    # ------------------------------------------------------------- build
    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        path: str | None = None,
        m: int = 8,
        k: int = 16,
        seed: int = 42,
        metric: str = "l2",
    ) -> "PqIndex":
        """``metric`` fixes the quantization geometry at build time
        (reference distance_metrics.go:12-96): "l2" quantizes raw vectors,
        "cosine" L2-normalizes first (unit-sphere L2 ranking ≡ cosine),
        "dot" quantizes raw and searches with inner-product LUTs."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        if metric not in ("l2", "cosine", "dot"):
            raise ValueError(f"unknown metric {metric!r}")
        idx = cls(spark, path)
        os.makedirs(idx.path, exist_ok=True)
        e = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
        )
        if metric == "cosine":
            from plan_spark.indexes.hnsw import _unit

            e = _unit(e, "v")
        dim = len(e.select("v").first().v)
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m

        # The m subspace codebooks are INDEPENDENT fits (disjoint slices,
        # per-subspace seeds): run them from a small thread pool so each
        # fit's driver round-trips overlap the others' tail (guide §2.6 —
        # the sequential loop paid ~m x fit latency: measured 36 s at
        # sf0.1 / 50 s at sf1 for m=8, dominated by scheduler round-trips
        # of 8 x maxIter tiny jobs). Same seeds, same inputs, same models
        # — fit concurrency changes scheduling only, never a codebook.
        def _fit(j: int):
            feat = e.withColumn(
                "__feat", array_to_vector(F.slice("v", j * sub + 1, sub))
            )
            return KMeans(
                k=k, seed=seed + j, maxIter=8, featuresCol="__feat"
            ).fit(feat)

        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        # given the session, the wrapper also carries its job tags (not
        # just local properties) into the pool threads
        fit = inheritable_thread_target(spark)(_fit)
        with ThreadPoolExecutor(max_workers=min(4, m)) as pool:
            models = list(pool.map(fit, range(m)))
        codebooks = [
            [[float(x) for x in c] for c in mod.clusterCenters()] for mod in models
        ]
        coded = e
        for j, model in enumerate(models):
            feat = coded.withColumn(
                "__feat", array_to_vector(F.slice("v", j * sub + 1, sub))
            )
            coded = (
                model.transform(feat)
                .withColumnRenamed("prediction", f"c{j}")
                .drop("__feat")
            )
        with open(os.path.join(idx.path, "codebooks.json"), "w") as fh:
            json.dump(
                {"m": m, "k": k, "sub": sub, "metric": metric, "codebooks": codebooks},
                fh,
            )
        coded.select(
            "id", F.array(*[F.col(f"c{j}") for j in range(m)]).alias("codes")
        ).write.mode("overwrite").parquet(os.path.join(idx.path, "codes"))
        return idx

    # ------------------------------------------------------------- search
    def _meta(self) -> dict:
        with open(os.path.join(self.path, "codebooks.json")) as fh:
            return json.load(fh)

    def codes(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "codes"))

    @staticmethod
    def _luts(qv, cb, m, k, sub, metric):
        """Per-query m x k partial table: squared-L2 partials for l2/cosine
        (rank ascending), inner-product partials for dot (rank descending)."""
        if metric == "dot":
            return [
                [
                    sum(qv[j * sub + t] * cb[j][c][t] for t in range(sub))
                    for c in range(k)
                ]
                for j in range(m)
            ]
        return [
            [
                sum((qv[j * sub + t] - cb[j][c][t]) ** 2 for t in range(sub))
                for c in range(k)
            ]
            for j in range(m)
        ]

    def search(self, query_vecs: dict[int, list[float]], top_k: int = 10) -> DataFrame:
        """ADC top-k for a small dict of {q_id: vector}.

        Each query's m x k partial table is computed driver-side (m*k
        floats) and shipped as a literal; candidates are scored with m
        array lookups over their stored codes — the vector column is never
        touched. Output: (q_id, c_id, rank, <approx_l2sq|approx_dot>)
        following the build metric (queries are normalized under cosine)."""
        meta = self._meta()
        m, k, sub = meta["m"], meta["k"], meta["sub"]
        metric = meta.get("metric", "l2")
        score_col = "approx_dot" if metric == "dot" else "approx_l2sq"
        cb = meta["codebooks"]
        rows = []
        for qid, qv in query_vecs.items():
            if metric == "cosine":
                nrm = max(sum(x * x for x in qv) ** 0.5, 1e-12)
                qv = [x / nrm for x in qv]
            rows.append((qid, self._luts(qv, cb, m, k, sub, metric)))
        qdf = local_df(self.spark, rows, "q_id long, lut array<array<double>>")
        scored = self.codes().join(F.broadcast(qdf)).select(
            "q_id",
            F.col("id").alias("c_id"),
            sum(
                F.element_at(F.element_at("lut", j + 1), F.col("codes")[j] + 1)
                for j in range(m)
            ).alias(score_col),
        )
        from pyspark.sql import Window

        order = F.desc(score_col) if metric == "dot" else F.asc(score_col)
        w = Window.partitionBy("q_id").orderBy(order, F.asc("c_id"))
        return (
            scored.filter(F.col("q_id") != F.col("c_id"))
            .select("q_id", "c_id", score_col, F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= top_k)
            .select("q_id", "c_id", "rank", score_col)
        )


class IvfPqIndex:
    """IVF-PQ composition (reference ivf_pq_index.go:31-60): coarse KMeans
    partitions bound the search to nprobe clusters (partition-pruned scan,
    as IvfIndex) and PQ codes make the per-cluster scan codes-only (as
    PqIndex). Together: read nprobe/k of ~m bytes/vector."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._ivf_dir = os.path.join(self.path, "ivf")
        self._pq_dir = os.path.join(self.path, "pq")

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        path: str | None = None,
        k_coarse: int = 16,
        m: int = 8,
        k_pq: int = 16,
        seed: int = 42,
    ) -> "IvfPqIndex":
        from plan_spark.indexes.ivf import IvfIndex

        idx = cls(spark, path)
        os.makedirs(idx.path, exist_ok=True)
        ivf = IvfIndex.build(
            spark, df, id_col=id_col, vec_col=vec_col, path=idx._ivf_dir,
            k=k_coarse, seed=seed,
        )
        pq = PqIndex.build(
            spark, df, id_col=id_col, vec_col=vec_col, path=idx._pq_dir,
            m=m, k=k_pq, seed=seed,
        )
        # codes co-partitioned with the coarse clusters so the probe prunes
        coded = pq.codes().join(
            ivf.vectors().select("id", "cluster"), "id"
        )
        coded.write.mode("overwrite").partitionBy("cluster").parquet(
            os.path.join(idx.path, "coded")
        )
        return idx

    def search(
        self,
        query_vecs: dict[int, list[float]],
        top_k: int = 10,
        nprobe: int = 4,
    ) -> DataFrame:
        from plan_spark.indexes.ivf import _cos

        meta = PqIndex(self.spark, self._pq_dir)._meta()
        m, k, sub = meta["m"], meta["k"], meta["sub"]
        cb = meta["codebooks"]
        cents = self.spark.read.parquet(
            os.path.join(self._ivf_dir, "centroids.parquet")
        )
        rows = []
        for qid, qv in query_vecs.items():
            luts = [
                [sum((qv[j * sub + t] - cb[j][c][t]) ** 2 for t in range(sub))
                 for c in range(k)]
                for j in range(m)
            ]
            rows.append((qid, qv, luts))
        qdf = local_df(
            self.spark, rows, "q_id long, qv array<double>, lut array<array<double>>"
        )
        qc = qdf.join(F.broadcast(cents)).select(
            "q_id", "qv", "lut", "cluster", _cos(F.col("qv"), F.col("cv")).alias("s")
        )
        from pyspark.sql import Window

        wq = Window.partitionBy("q_id").orderBy(F.desc("s"), F.asc("cluster"))
        probe = (
            qc.select("q_id", "lut", "cluster", F.row_number().over(wq).alias("r"))
            .filter(F.col("r") <= nprobe)
            .select("q_id", "lut", "cluster")
        )
        probed = [r.cluster for r in probe.select("cluster").distinct().collect()]
        if not probed:
            return self.spark.createDataFrame(
                [], "q_id long, c_id long, rank int, approx_l2sq double"
            )
        coded = self.spark.read.parquet(os.path.join(self.path, "coded")).filter(
            F.col("cluster").isin(probed)
        )
        scored = coded.join(F.broadcast(probe), "cluster").select(
            "q_id",
            F.col("id").alias("c_id"),
            sum(
                F.element_at(F.element_at("lut", j + 1), F.col("codes")[j] + 1)
                for j in range(m)
            ).alias("approx_l2sq"),
        )
        w = Window.partitionBy("q_id").orderBy(F.asc("approx_l2sq"), F.asc("c_id"))
        return (
            scored.filter(F.col("q_id") != F.col("c_id"))
            .select("q_id", "c_id", "approx_l2sq", F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= top_k)
            .select("q_id", "c_id", "rank", "approx_l2sq")
        )
