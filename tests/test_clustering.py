"""Fixed-point k-means (operators/clustering.py): determinism, edge
cases, envelope validation, and plan shape.  Cross-engine exactness is
pinned by q_kmeans in the catalog gate (test_catalog_oracle) plus the
random-corpus differential here."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from csvtool_spark.operators.clustering import (
    kmeans,
    kmeans_assign,
    kmeans_fit,
    kmeans_oracle_sql,
)
from tests.conftest import SF_SMALL


def _emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def test_kmeans_matches_oracle_on_random_vectors(spark):
    import random

    import duckdb

    from csvtool_spark.oracle import compare

    rng = random.Random(17)
    rows = [
        (i, [round(rng.uniform(-1, 1), 4) for _ in range(8)], i % 3)
        for i in range(120)
    ]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    d = spark.createDataFrame(pdf)
    out = kmeans(d, "embedding", "vec_id", k=5, iters=3, extra_cols=("label",))
    con = duckdb.connect()
    con.register("embeddings", pdf)
    assert compare(out, con, kmeans_oracle_sql(k=5, iters=3)) is None


def test_kmeans_deterministic_and_total(spark):
    e = _emb(spark)
    a = kmeans(e, "embedding", "vec_id", k=4, iters=1).collect()
    b = kmeans(e, "embedding", "vec_id", k=4, iters=1).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == e.count()  # every row assigned
    assert {r["cluster"] for r in a} <= set(range(4))


def test_kmeans_iterations_reduce_inertia(spark):
    # Lloyd monotonicity: total dist2 never increases with more rounds
    e = _emb(spark)
    inertia = []
    for it in (0, 1, 2):
        out = kmeans(e, "embedding", "vec_id", k=8, iters=it)
        inertia.append(out.agg(F.sum("dist2")).collect()[0][0])
    assert inertia[1] <= inertia[0] and inertia[2] <= inertia[1]


def test_kmeans_null_vectors_pass_through(spark):
    d = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None), (4, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in kmeans(d, "embedding", "vec_id", k=2).collect()}
    assert out[3]["cluster"] is None and out[3]["dist2"] is None
    assert out[1]["cluster"] is not None


def test_kmeans_empty_cluster_carries_centroid(spark):
    # two far groups, k=3 seeded from the first 3 ids — one seed duplicates
    # a group so some cluster may go empty; fit must not crash and must
    # keep k centroids
    d = spark.createDataFrame(
        [(i, [0.0, 0.0] if i % 2 == 0 else [100.0, 100.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_fit(d, "embedding", "vec_id", k=3, iters=2)
    assert len(cents) == 3 and all(len(c) == 2 for c in cents)


def test_kmeans_validation_errors(spark):
    d = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="ragged"):
        kmeans_fit(d, "embedding", "vec_id", k=2)
    small = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="< k"):
        kmeans_fit(small, "embedding", "vec_id", k=5)
    with pytest.raises(ValueError, match="k >= 1"):
        kmeans_fit(small, "embedding", "vec_id", k=0)


def test_kmeans_rejects_nan_and_null_elements(spark):
    # Spark would quantize NaN to 0 while the DuckDB oracle errors (the
    # repo's NaN-cast rule) — must fail loudly instead (review finding)
    import pyspark.sql.functions as sf

    base = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(4)], "vec_id long, embedding array<double>"
    )
    nan = base.withColumn(
        "embedding",
        sf.when(sf.col("vec_id") == 0,
                sf.array(sf.lit(float("nan")), sf.lit(1.0))
        ).otherwise(sf.col("embedding")),
    )
    with pytest.raises(ValueError, match="non-finite"):
        kmeans_fit(nan, "embedding", "vec_id", k=2)
    withnull = base.withColumn(
        "embedding",
        sf.when(sf.col("vec_id") == 0,
                sf.array(sf.lit(None).cast("double"), sf.lit(1.0))
        ).otherwise(sf.col("embedding")),
    )
    with pytest.raises(ValueError, match="null ELEMENTS"):
        kmeans_fit(withnull, "embedding", "vec_id", k=2)


def test_kmeans_distance_envelope_enforced(spark):
    # dim*(2*scale*|x|)^2 past 2^63 would wrap int64 distances while the
    # oracle's HUGEINT stays exact — silent divergence (review finding)
    big = spark.createDataFrame(
        [(i, [1.0e6, 1.0e6]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="distance"):
        kmeans_fit(big, "embedding", "vec_id", k=2, scale=10_000_000)


def _oracle_frame(rows):
    """A DuckDB connection holding ``rows`` as ``embeddings`` — the
    kmeans_oracle_sql input over the same rows a Spark frame holds."""
    import duckdb
    import pyarrow as pa

    ids, vecs = zip(*rows)
    con = duckdb.connect()
    con.register(
        "embeddings",
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float64())),
        }),
    )
    return con


def test_kmeans_assignment_is_map_only(spark, duck):
    # the full-corpus pass must be map-only: no join, no shuffle —
    # centroids ride the closure of the vectorized batch kernel
    # (MapInPandas, never per-row Python eval). Its answer on the same
    # frame is the DuckDB oracle's.
    from csvtool_spark.oracle import compare

    e = _emb(spark)
    cents = kmeans_fit(e, "embedding", "vec_id", k=4, iters=1)
    plan = (
        kmeans_assign(e, "embedding", "vec_id", cents)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan
    assert "MapInPandas" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    out = kmeans_assign(e, "embedding", "vec_id", cents, extra_cols=("label",))
    assert compare(out, duck, kmeans_oracle_sql(k=4, iters=1)) is None


def test_kmeans_matches_oracle_on_corpus_and_null_frame(spark, duck):
    """Fit + full assignment ≡ the DuckDB oracle, bit-for-bit, on the
    corpus and on a signed random frame with null vectors (exact int64
    dist2 means the fitted centroids agree too)."""
    import random

    from csvtool_spark.oracle import compare

    e = _emb(spark)
    out = kmeans(e, "embedding", "vec_id", k=6, iters=2, extra_cols=("label",))
    assert compare(out, duck, kmeans_oracle_sql(k=6, iters=2)) is None

    rng = random.Random(23)
    rows = [
        (i, None if i % 17 == 0 else [rng.uniform(-3, 3) for _ in range(5)])
        for i in range(300)
    ]
    schema = "vec_id long, embedding array<double>"
    d = spark.createDataFrame(rows, schema)
    con = _oracle_frame(rows)
    out = kmeans(d, "embedding", "vec_id", k=7, iters=3)
    assert compare(out, con, kmeans_oracle_sql(k=7, iters=3, extra_cols="")) is None
    nulls = {r["vec_id"] for r in out.collect() if r["cluster"] is None}
    assert nulls == {i for i in range(300) if i % 17 == 0}


def test_kmeans_arrow_tie_breaks_to_lowest_cluster(spark):
    # a point exactly equidistant from two centroids must take the lower
    # cluster id (argmin first-occurrence == the oracle's (dist2, j) order)
    from csvtool_spark.oracle import compare

    d = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cents = [[0, 0], [20000, 0]]  # quantized grid: point lands at 10000
    r = kmeans_assign(d, "embedding", "vec_id", cents).collect()
    assert r[0]["cluster"] == 0 and r[0]["dist2"] == 10000**2
    # same tie through fit + assign: seeds ids 0/1 are those centroids,
    # id 3 balances id 2's pull on cluster 0, so the tie survives round 1
    rows = [(0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [1.0, 0.0]), (3, [-1.0, 0.0])]
    schema = "vec_id long, embedding array<double>"
    out = kmeans(spark.createDataFrame(rows, schema), "embedding", "vec_id",
                 k=2, iters=1)
    tie = [r for r in out.collect() if r["vec_id"] == 2][0]
    assert tie["cluster"] == 0 and tie["dist2"] == 10000**2
    con = _oracle_frame(rows)
    assert compare(out, con, kmeans_oracle_sql(k=2, iters=1, extra_cols="")) is None


def test_half_away_np_matches_spark_round(spark):
    """The Arrow lane's quantization must reproduce Spark F.round(x, 0)
    exactly — including the half-grid edge where the naive
    floor(|x|+0.5) form diverges (largest double below 0.5 rounds UP
    under it because |x|+0.5 rounds to 1.0 in floating point)."""
    import numpy as np

    from csvtool_spark.operators.clustering import _half_away_np

    below_half = float(np.nextafter(0.5, 0.0))
    vals = [
        0.0, 0.5, -0.5, 1.5, 2.5, -2.5, 0.4999, -0.4999,
        below_half, -below_half, 1.0 + below_half, 123.456, -123.456,
        1e9 + 0.5, -(1e9 + 0.5), 3.0000000000000004, 1e15 + 0.4,
    ]
    d = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r["r"]
        for r in d.select(F.round("x", 0).cast("long").alias("r"))
        .collect()
    ]
    want = _half_away_np(np.array(vals, dtype=np.float64)).tolist()
    assert got == want
    # and the naive form really is wrong on the edge case (guard against
    # "simplifying" the kernel back to floor(|x|+0.5))
    import math

    assert math.floor(below_half + 0.5) == 1 and want[vals.index(below_half)] == 0


def test_cluster_balanced_sample_caps_and_determinism(spark):
    from csvtool_spark.operators.clustering import cluster_balanced_sample

    e = _emb(spark)
    a = cluster_balanced_sample(e, "embedding", "vec_id", k=4, per_cluster=5)
    rows = a.collect()
    per = {}
    for r in rows:
        per.setdefault(r["cluster"], []).append(r["vec_id"])
    assert all(len(v) <= 5 for v in per.values())
    assert set(per) <= set(range(4))
    b = cluster_balanced_sample(e, "embedding", "vec_id", k=4, per_cluster=5)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, b.collect()))


def test_cluster_balanced_sample_keeps_small_clusters_whole(spark):
    from csvtool_spark.operators.clustering import cluster_balanced_sample

    # 6 vectors, k=3, per_cluster=10 >> cluster sizes: nothing dropped
    d = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 3)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    out = cluster_balanced_sample(d, "embedding", "vec_id", k=3, per_cluster=10)
    assert out.count() == 6


def test_clustered_stream_matches_batch_assignment(spark):
    from csvtool_spark.operators.clustering import kmeans_assign, kmeans_fit
    from csvtool_spark.streaming import run_to_memory
    from csvtool_spark.streaming.embeddings import clustered_stream, embedding_stream

    batch = _emb(spark)
    cents = kmeans_fit(batch, "embedding", "vec_id", k=4, iters=1)
    stream = embedding_stream(spark, SF_SMALL)
    out = clustered_stream(stream, cents)
    assert out.isStreaming
    run_to_memory(out, "clu_out", output_mode="append")
    got = {
        r.vec_id: (r.cluster, r.dist2)
        for r in spark.sql("SELECT * FROM clu_out").collect()
    }
    exp = {
        r.vec_id: (r.cluster, r.dist2)
        for r in kmeans_assign(
            batch, "embedding", "vec_id", cents, extra_cols=("label",)
        ).collect()
    }
    assert got == exp and len(got) > 0


def test_clustered_stream_keep_filter(spark):
    from csvtool_spark.operators.clustering import kmeans_fit
    from csvtool_spark.streaming import run_to_memory
    from csvtool_spark.streaming.embeddings import clustered_stream, embedding_stream

    batch = _emb(spark)
    cents = kmeans_fit(batch, "embedding", "vec_id", k=4, iters=1)
    stream = embedding_stream(spark, SF_SMALL)
    run_to_memory(clustered_stream(stream, cents, keep=(0, 1)), "clu_keep",
                  output_mode="append")
    clusters = {r.cluster for r in spark.sql("SELECT * FROM clu_keep").collect()}
    assert clusters <= {0, 1} and clusters

def test_kmeans_assign_on_invalid_null_batch(spark):
    # poison rows (ragged / non-finite) assign null like null vectors;
    # valid rows are bit-identical to the raise lane on the clean subset
    cents = [[0, 0], [10_000, 10_000]]
    d = spark.createDataFrame(
        [
            (1, [0.1, 0.2]),
            (2, [1.0]),                    # ragged
            (3, [float("nan"), 0.5]),      # non-finite
            (4, None),                     # null vector
            (5, [0.9, 1.1]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: (r.cluster, r.dist2)
        for r in kmeans_assign(
            d, "embedding", "vec_id", cents, on_invalid="null"
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[2] == (None, None) and out[3] == (None, None)
    assert out[4] == (None, None)
    clean = d.filter(F.col("vec_id").isin(1, 5))
    exp = {
        r.vec_id: (r.cluster, r.dist2)
        for r in kmeans_assign(clean, "embedding", "vec_id", cents).collect()
    }
    assert {k: v for k, v in out.items() if k in (1, 5)} == exp
    # the default (batch) lane still fails fast on the same poison input
    with pytest.raises(Exception, match="ragged|dim"):
        kmeans_assign(
            d.filter(F.col("vec_id") == 2), "embedding", "vec_id", cents
        ).collect()
    with pytest.raises(ValueError, match="on_invalid"):
        kmeans_assign(d, "embedding", "vec_id", cents, on_invalid="skip")


def test_clustered_stream_survives_poison_record(spark, tmp_path):
    # a wrong-dim vector arriving on the stream must NOT fail the
    # micro-batch (restart would replay it into a crash loop): it gets a
    # null cluster and any keep filter drops it
    from csvtool_spark.streaming import run_to_memory
    from csvtool_spark.streaming.embeddings import (
        EMBEDDINGS_SCHEMA,
        clustered_stream,
        stream_embeddings_dir,
    )

    shard = spark.createDataFrame(
        [
            (1, [0.1, 0.2], 0),
            (2, [1.0], 1),                  # poison: dim 1 vs centroid dim 2
            (3, [0.9, 1.1], 0),
        ],
        EMBEDDINGS_SCHEMA,
    )
    shard.write.parquet(str(tmp_path / "emb"))
    stream = stream_embeddings_dir(spark, str(tmp_path / "emb"))
    cents = [[0, 0], [10_000, 10_000]]
    run_to_memory(clustered_stream(stream, cents), "clu_poison",
                  output_mode="append")
    got = {r.vec_id: r.cluster for r in
           spark.sql("SELECT * FROM clu_poison").collect()}
    assert set(got) == {1, 2, 3} and got[2] is None
    assert got[1] is not None and got[3] is not None
