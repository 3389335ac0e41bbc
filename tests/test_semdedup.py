"""operators/semdedup.py: the SemDeDup scale knob (k / target_cluster_size),
cluster-bounded pair counts, flag correctness vs a brute-force reference,
and parity with the registered fixture query's oracle shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from plan_spark.catalog import table
from plan_spark.operators.semdedup import resolve_k, semdedup_flags
from tests.conftest import SF_DIR


def test_resolve_k_knob():
    assert resolve_k(100, k=7) == 7
    assert resolve_k(100, target_cluster_size=10) == 10
    assert resolve_k(95, target_cluster_size=10) == 10  # ceil
    assert resolve_k(5, target_cluster_size=100) == 1
    with pytest.raises(ValueError, match="k= or target_cluster_size="):
        resolve_k(100)
    with pytest.raises(ValueError, match=">= 1"):
        resolve_k(100, k=0)
    with pytest.raises(ValueError, match=">= 1"):
        resolve_k(100, target_cluster_size=0)


def test_flags_match_bruteforce(spark):
    """Flags equal a driver-side brute-force computation of the same rule
    (nearest-centroid by cosine with lowest-id tiebreak; drop any member
    with a lower-id cluster-mate at cos >= tau)."""
    import numpy as np

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding").limit(200)
    rows = emb.collect()
    X = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64) for r in rows}
    ids = sorted(X)
    k, tau = 6, 0.4
    seeds = [X[i] for i in ids[:k]]

    def cos(a, b):
        return float(a @ b / math.sqrt((a @ a) * (b @ b)))

    assign = {}
    for i in ids:
        sims = [cos(s, X[i]) for s in seeds]
        best = max(range(k), key=lambda j: (sims[j], -j))
        assign[i] = best
    want_dup = set()
    for i in ids:
        for j in ids:
            if j < i and assign[j] == assign[i] and cos(X[j], X[i]) >= tau:
                want_dup.add(i)
                break
    got = semdedup_flags(emb, id_col="vec_id", vec_col="embedding", tau=tau, k=k)
    got_rows = {int(r.vec_id): (int(r.c_id), bool(r.is_dup)) for r in got.collect()}
    assert set(got_rows) == set(ids)
    for i in ids:
        assert got_rows[i] == (assign[i], i in want_dup), f"vec {i}"


def test_k_knob_bounds_pair_join(spark):
    """The scale contract: growing k shrinks the pair-join row count
    (sum of c_i^2 falls as clusters split) — k is a real parameter, not a
    hard-coded constant."""
    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")

    def pairs(k):
        from plan_spark.operators.semdedup import assign_cosine
        from pyspark.sql import Window

        e = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        cents = (
            e.orderBy("vec_id").limit(k)
            .select(
                (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("c_id"),
                F.col("v").alias("cv"),
            )
        )
        m = assign_cosine(e, cents).select("c_id", "vec_id")
        a = m.select("c_id", F.col("vec_id").alias("a_id"))
        b = m.select("c_id", F.col("vec_id").alias("b_id"))
        return a.join(b, "c_id").filter(F.col("a_id") < F.col("b_id")).count()

    p2, p16 = pairs(2), pairs(16)
    assert p16 < p2, f"more clusters must bound the pair join: {p16} !< {p2}"


def test_target_cluster_size_resolves_from_corpus(spark):
    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    out = semdedup_flags(
        emb, id_col="vec_id", vec_col="embedding", tau=0.4, target_cluster_size=50
    )
    n_clusters = out.select("c_id").distinct().count()
    # every resolved cluster id is within [0, ceil(n/50)); non-empty result
    assert out.count() == n
    assert n_clusters <= math.ceil(n / 50)
