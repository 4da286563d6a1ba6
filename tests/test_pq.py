"""Product-quantized ANN (similarity.pq_train / pq_encode / ann_pq):
codebook validation, encode determinism + tie-breaks, ADC equivalence to
the exact distance on the code grid, the materialized-index twin, plan
shape, and randomized cross-engine differentials (the catalog gate pins
q_ann_pq on the fixed corpus)."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from csvtool_spark.operators.similarity import (
    PQCodebook,
    _packed_codes,
    ann_pq,
    ann_pq_indexed,
    pq_encode,
    pq_index_write,
    pq_train,
    sq_code_py,
)


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rows)],
        "vec_id long, embedding array<float>",
    )


def _rand_corpus(seed: int, n: int, dim: int):
    # pre-round through float32: Spark stores array<float>, so a Python /
    # DuckDB recompute over the raw doubles would quantize differently
    import numpy as np

    r = random.Random(seed)
    return [
        [float(np.float32(r.uniform(-1, 1))) for _ in range(dim)]
        for _ in range(n)
    ]


def test_pq_codebook_validation(spark):
    with pytest.raises(ValueError, match="not divisible"):
        PQCodebook(0.0, 1.0, 3, [[0] * 8])
    with pytest.raises(ValueError, match="at least one"):
        PQCodebook(0.0, 1.0, 2, [])
    d = _vecs(spark, _rand_corpus(1, 6, 8))
    cb = pq_train(d, "embedding", "vec_id", m=4, n_cents=4)
    with pytest.raises(ValueError, match="query dim"):
        ann_pq(d, "embedding", "vec_id", [0.0] * 7, codebook=cb)


def test_pq_encode_codes_are_nearest_centroids(spark):
    # recompute every assignment in plain Python over the same int grid
    vecs = _rand_corpus(7, 40, 16)
    d = _vecs(spark, vecs)
    m, dsub = 4, 4
    cb = pq_train(d, "embedding", "vec_id", m=m, n_cents=8)
    got = {r["vec_id"]: list(r["pq_codes"])
           for r in pq_encode(d, "embedding", "vec_id", cb).collect()}
    for i, v in enumerate(vecs):
        codes = [sq_code_py(float(x), cb.mn, cb.mx) for x in v]
        exp = []
        for s in range(m):
            best = min(
                range(len(cb.cents)),
                key=lambda c: (
                    sum(
                        (codes[s * dsub + j] - cb.cents[c][s * dsub + j]) ** 2
                        for j in range(dsub)
                    ),
                    c,
                ),
            )
            exp.append(best)
        assert got[i] == exp, (i, got[i], exp)


def test_pq_adc_equals_python_recompute_and_tiebreak(spark):
    vecs = _rand_corpus(11, 60, 16)
    d = _vecs(spark, vecs)
    cb = pq_train(d, "embedding", "vec_id", m=4, n_cents=8)
    q = vecs[3]
    out = ann_pq(d, "embedding", "vec_id", q, k=60, codebook=cb).collect()
    # full recompute: codes -> assignment -> ADC table sum
    qcodes = [sq_code_py(float(x), cb.mn, cb.mx) for x in q]
    dsub = cb.dsub
    exp = []
    for i, v in enumerate(vecs):
        codes = [sq_code_py(float(x), cb.mn, cb.mx) for x in v]
        adc = 0
        for s in range(cb.m):
            best = min(
                range(len(cb.cents)),
                key=lambda c: (
                    sum(
                        (codes[s * dsub + j] - cb.cents[c][s * dsub + j]) ** 2
                        for j in range(dsub)
                    ),
                    c,
                ),
            )
            adc += sum(
                (qcodes[s * dsub + j] - cb.cents[best][s * dsub + j]) ** 2
                for j in range(dsub)
            )
        exp.append((adc, i))
    exp.sort()
    assert [(r["adc_d2"], r["vec_id"]) for r in out] == exp
    # the query's own row scores 0 against itself only if its codes match
    # its assigned centroids; with exclusion it must be absent
    out2 = ann_pq(d, "embedding", "vec_id", q, k=60, codebook=cb, exclude_id=3)
    assert 3 not in {r["vec_id"] for r in out2.collect()}


def test_pq_degenerate_constant_corpus_falls_to_id_tiebreak(spark):
    d = _vecs(spark, [[0.5] * 8 for _ in range(6)])
    cb = pq_train(d, "embedding", "vec_id", m=2, n_cents=4)
    assert cb.mn == cb.mx  # degenerate bounds: every code pins to 0
    out = ann_pq(d, "embedding", "vec_id", [0.5] * 8, k=3, codebook=cb).collect()
    assert [(r["vec_id"], r["adc_d2"]) for r in out] == [(0, 0), (1, 0), (2, 0)]


def test_pq_indexed_twin_matches_inline(spark, tmp_path):
    vecs = _rand_corpus(23, 80, 32)
    d = _vecs(spark, vecs)
    path = str(tmp_path / "pq_index")
    cb = pq_index_write(d, "embedding", "vec_id", path, m=8, n_cents=16)
    q = vecs[5]
    a = [tuple(r) for r in
         ann_pq(d, "embedding", "vec_id", q, k=10, codebook=cb).collect()]
    b = [tuple(r) for r in
         ann_pq_indexed(spark, path, "vec_id", q, cb, k=10).collect()]
    assert a == b and len(a) == 10
    # the index stores m ints per row, nothing else
    assert spark.read.parquet(path).columns == ["vec_id", "pq_codes"]


def test_pq_plan_shape(spark):
    d = _vecs(spark, _rand_corpus(31, 30, 16))
    cb = pq_train(d, "embedding", "vec_id", m=4, n_cents=4)
    enc_plan = (
        pq_encode(d, "embedding", "vec_id", cb)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in enc_plan  # encoding is map-only
    top_plan = (
        ann_pq(d, "embedding", "vec_id", [0.0] * 16, k=5, codebook=cb)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in top_plan


@pytest.mark.parametrize("seed", range(3))
def test_pq_oracle_on_random_corpora(spark, seed):
    """The catalog oracle on RANDOM frames (not the fixed corpus): same
    CTE chain as q_ann_pq with the frame registered as `embeddings`."""
    from csvtool_spark.oracle import compare
    from csvtool_spark.queries import ORACLES, SHADOW_ORACLES

    import numpy as np

    r = random.Random(seed * 17 + 3)
    n = r.randint(30, 70)
    vecs = [
        [float(np.float32(r.uniform(-2, 2))) for _ in range(64)]
        for _ in range(n)
    ]
    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": vecs, "label": [0] * n}
    )
    d = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    qvec = [float(x) for x in vecs[0]]
    out = ann_pq(d, "embedding", "vec_id", qvec, k=10, exclude_id=0)
    con = duckdb.connect()
    con.register("embeddings", pdf)
    assert compare(out, con, SHADOW_ORACLES["q_ann_pq"]) is None


def test_pq_encode_rejects_dim_mismatch_and_null(spark):
    """Encoding a frame whose vectors do not match the codebook dim must
    raise, not silently null-pad trailing subspaces to centroid 0."""
    d = _vecs(spark, _rand_corpus(41, 8, 16))
    cb = pq_train(d, "embedding", "vec_id", m=4, n_cents=4)
    bad = _vecs(spark, _rand_corpus(42, 4, 12))  # 12 != 16
    with pytest.raises(Exception, match="dim 12 != codebook dim 16"):
        pq_encode(bad, "embedding", "vec_id", cb).collect()
    withnull = spark.createDataFrame(
        [(0, [0.0] * 16), (1, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="dim NULL"):
        pq_encode(withnull, "embedding", "vec_id", cb).collect()


def _column_codes(d, cb):
    """(vec_id, pq_codes) through the Column-tree encode ``_packed_codes``
    — the reference the Arrow ``pq_encode`` is checked against."""
    return d.select(
        "vec_id", _packed_codes(cb, "embedding")["pq"].alias("pq_codes")
    )


def test_pq_encode_single_quantization_plan(spark):
    """The Column-tree encode's nested let-bind must quantize each vector
    ONCE: `floor` (only inside _sq_code) appears exactly once in the
    encode plan — naming the code transform inside every centroid slice
    used to inline it m*n_cents times on the interpreted HOF path."""
    d = _vecs(spark, _rand_corpus(51, 10, 16))
    cb = pq_train(d, "embedding", "vec_id", m=4, n_cents=8)
    plan = (
        _column_codes(d, cb)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FLOOR") + plan.count("floor(") == 1, plan


@pytest.mark.parametrize("seed", range(3))
def test_pq_encode_matches_column_encode(spark, seed):
    """Arrow numpy kernel ≡ the Column-tree ``_packed_codes``, bit for
    bit — incl. values at the bounds (code 255 edge) and the degenerate
    constant corpus."""
    vecs = _rand_corpus(seed * 29 + 1, 50, 16)
    # force the exact bound values into the corpus (the least(255, ...)
    # edge where the pre-rounded scale can push past 255)
    vecs[0] = [max(min(x, 1.0), -1.0) for x in vecs[0]]
    vecs[1] = [1.0] * 16
    vecs[2] = [-1.0] * 16
    d = _vecs(spark, vecs)
    cb = pq_train(d, "embedding", "vec_id", m=4, n_cents=8)
    a = sorted(
        (r["vec_id"], tuple(r["pq_codes"]))
        for r in pq_encode(d, "embedding", "vec_id", cb).collect()
    )
    c = sorted(
        (r["vec_id"], tuple(r["pq_codes"]))
        for r in _column_codes(d, cb).collect()
    )
    assert a == c and a
    # degenerate bounds pin every code to centroid 0 in both encodes
    dd = _vecs(spark, [[0.25] * 8] * 4)
    cbd = pq_train(dd, "embedding", "vec_id", m=2, n_cents=2)
    for enc in (pq_encode(dd, "embedding", "vec_id", cbd), _column_codes(dd, cbd)):
        assert all(list(r["pq_codes"]) == [0, 0] for r in enc.collect())


def test_pq_encode_arrow_null_lane(spark):
    """on_invalid='null' on the Arrow lane: poison rows (NULL vector,
    ragged, non-finite) yield null codes; valid rows match the raise
    lane."""
    good = _rand_corpus(131, 6, 8)
    d = spark.createDataFrame(
        [(i, v) for i, v in enumerate(good)]
        + [(100, None), (101, [0.0] * 5), (102, [float("nan")] + [0.0] * 7)],
        "vec_id long, embedding array<float>",
    )
    clean = _vecs(spark, good)
    cb = pq_train(clean, "embedding", "vec_id", m=2, n_cents=4)
    got = {r["vec_id"]: r["pq_codes"] for r in
           pq_encode(d, "embedding", "vec_id", cb, on_invalid="null").collect()}
    assert got[100] is None and got[101] is None and got[102] is None
    exp = {r["vec_id"]: list(r["pq_codes"]) for r in
           pq_encode(clean, "embedding", "vec_id", cb).collect()}
    for i in range(6):
        assert list(got[i]) == exp[i]


def test_pq_recall_eval_perfect_reconstruction(spark):
    """With n_cents >= |corpus| every vector's own codes are a centroid,
    so each subspace assigns at distance 0, ADC equals the exact distance
    and recall is 1.0 for every query."""
    from csvtool_spark.operators.similarity import pq_recall_eval

    vecs = _rand_corpus(61, 20, 16)
    d = _vecs(spark, vecs)
    out = pq_recall_eval(
        d, "embedding", "vec_id",
        {0: vecs[0], 7: vecs[7]}, k=5, m=4, n_cents=20,
    ).collect()
    assert {(r["qid"], r["n_hits"], r["recall"]) for r in out} == {
        (0, 5, 1.0), (7, 5, 1.0)
    }
    with pytest.raises(ValueError, match="non-empty"):
        pq_recall_eval(d, "embedding", "vec_id", {}, k=5)


def test_pq_recall_eval_release_contract(spark):
    from csvtool_spark.functions.caching import release_stages
    from csvtool_spark.operators.similarity import pq_recall_eval

    vecs = _rand_corpus(71, 15, 8)
    d = _vecs(spark, vecs)
    out = pq_recall_eval(d, "embedding", "vec_id", {0: vecs[0]},
                         k=3, m=2, n_cents=4)
    out.collect()
    assert release_stages(out) == 1
    assert release_stages(out) == 0


@pytest.mark.parametrize("seed", range(2))
def test_pq_recall_oracle_on_random_corpora(spark, seed):
    from csvtool_spark.oracle import compare
    from csvtool_spark.operators.similarity import pq_recall_eval
    from csvtool_spark.queries import ORACLES, SHADOW_ORACLES

    import numpy as np

    r = random.Random(seed * 19 + 7)
    n = r.randint(25, 60)
    vecs = [
        [float(np.float32(r.uniform(-2, 2))) for _ in range(64)]
        for _ in range(n)
    ]
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": vecs, "label": [0] * n})
    d = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    queries = {i: vecs[i] for i in (0, 1, 2, 3)}
    out = pq_recall_eval(d, "embedding", "vec_id", queries, k=10)
    con = duckdb.connect()
    con.register("embeddings", pdf)
    assert compare(out, con, SHADOW_ORACLES["q_pq_recall"]) is None


def test_ivf_pq_full_probe_equals_plain_pq(spark):
    """nprobe = n_cells degrades gracefully to the plain PQ ranking (the
    ann_ivf property, on the composed index)."""
    from csvtool_spark.operators.similarity import ann_ivf_pq

    vecs = _rand_corpus(81, 60, 16)
    d = _vecs(spark, vecs)
    cb = pq_train(d, "embedding", "vec_id", m=4, n_cents=8)
    q = vecs[2]
    full = ann_ivf_pq(
        d, "embedding", "vec_id", q, k=10, n_cells=8, nprobe=8,
        m=4, n_cents=8, codebook=cb, exclude_id=2,
    ).collect()
    plain = ann_pq(
        d, "embedding", "vec_id", q, k=10, codebook=cb, exclude_id=2
    ).collect()
    assert [(r["vec_id"], r["adc_d2"]) for r in full] == [
        (r["vec_id"], r["adc_d2"]) for r in plain
    ]


def test_ivf_pq_index_probe_pruned_and_matches_inline(spark, tmp_path):
    import re

    from csvtool_spark.operators.similarity import (
        ann_ivf_pq,
        ann_ivf_pq_indexed,
        ivf_pq_index_write,
    )

    vecs = _rand_corpus(91, 120, 32)
    d = _vecs(spark, vecs)
    q = vecs[0]
    cents, cb = ivf_pq_index_write(
        d, "embedding", "vec_id", "ivf_pq_idx", n_cells=8, n_buckets=8,
        path=str(tmp_path / "ivf_pq_idx"), m=8, n_cents=16,
    )
    probe = ann_ivf_pq_indexed(
        spark, "ivf_pq_idx", "vec_id", q, cents, cb, k=10, nprobe=2
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2))
    got = [tuple(r) for r in probe.collect()]
    inline = [
        tuple(r)
        for r in ann_ivf_pq(
            d, "embedding", "vec_id", q, k=10, n_cells=8, nprobe=2,
            centroids=cents, codebook=cb,
        ).collect()
    ]
    assert got == inline and len(got) == 10


@pytest.mark.parametrize("seed", range(2))
def test_ivf_pq_oracle_on_random_corpora(spark, seed):
    from csvtool_spark.oracle import compare
    from csvtool_spark.operators.similarity import ann_ivf_pq
    from csvtool_spark.queries import ORACLES, SHADOW_ORACLES

    import numpy as np

    r = random.Random(seed * 23 + 11)
    n = r.randint(40, 90)
    vecs = [
        [float(np.float32(r.uniform(-2, 2))) for _ in range(64)]
        for _ in range(n)
    ]
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": vecs, "label": [0] * n})
    d = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    qvec = [float(x) for x in vecs[0]]
    out = ann_ivf_pq(
        d, "embedding", "vec_id", qvec, k=10, n_cells=16, nprobe=4,
        m=8, n_cents=16, exclude_id=0,
    )
    con = duckdb.connect()
    con.register("embeddings", pdf)
    assert compare(out, con, {**SHADOW_ORACLES, **ORACLES}["q_ann_ivf_pq"]) is None


def test_pq_coded_stream_matches_batch_and_survives_poison(spark, tmp_path):
    """The streaming ingest-encode stage: valid rows encode bit-identically
    to batch pq_encode / ivf_cell; a poison shard (ragged vector) nulls
    out instead of crash-looping the micro-batch."""
    from csvtool_spark.operators.similarity import ivf_cell, ivf_centroids
    from csvtool_spark.streaming import run_to_memory
    from csvtool_spark.streaming.embeddings import (
        pq_coded_stream,
        stream_embeddings_dir,
    )

    vecs = _rand_corpus(101, 40, 16)
    d = spark.createDataFrame(
        [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    cb = pq_train(d, "embedding", "vec_id", m=4, n_cents=8)
    cents = ivf_centroids(d, "embedding", "vec_id", n_cells=4)
    shard_dir = str(tmp_path / "shards")
    d.write.parquet(shard_dir)
    # poison shard: one ragged vector, one null
    spark.createDataFrame(
        [(900, [0.0] * 7, 0), (901, None, 0)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("append").parquet(shard_dir)
    stream = stream_embeddings_dir(spark, shard_dir)
    out = pq_coded_stream(stream, cb, centroids=cents)
    assert out.isStreaming
    run_to_memory(out, "pq_stream", output_mode="append")
    got = {r.vec_id: (r.cell, list(r.pq_codes) if r.pq_codes is not None else None)
           for r in spark.sql("SELECT * FROM pq_stream").collect()}
    # poison rows survived as nulls
    assert got[900] == (None, None) and got[901] == (None, None)
    # valid rows == batch encode + batch cell assignment
    enc = {r.vec_id: list(r.pq_codes)
           for r in pq_encode(d, "embedding", "vec_id", cb).collect()}
    cells = {r.vec_id: r.c for r in d.select(
        "vec_id", ivf_cell(F.col("embedding"), cents).alias("c")).collect()}
    for i in range(40):
        assert got[i] == (cells[i], enc[i])


def test_pq_encode_rejects_nonfinite_and_null_elements(spark):
    """Right-dim vectors carrying NaN/Inf/NULL elements must not encode:
    NaN pins to code 127 via least(255, NaN) and a NULL element's NULL
    distance wins every argmin — confidently-wrong codes either way."""
    d = _vecs(spark, _rand_corpus(111, 8, 8))
    cb = pq_train(d, "embedding", "vec_id", m=2, n_cents=4)
    for bad in ([float("nan")] + [0.0] * 7,
                [float("inf")] + [0.0] * 7,
                [None] + [0.0] * 7):
        poisoned = spark.createDataFrame(
            [(0, bad)], "vec_id long, embedding array<float>"
        )
        with pytest.raises(Exception, match="invalid vector"):
            pq_encode(poisoned, "embedding", "vec_id", cb).collect()


def test_pq_coded_stream_nulls_nonfinite(spark, tmp_path):
    from csvtool_spark.streaming import run_to_memory
    from csvtool_spark.streaming.embeddings import (
        pq_coded_stream,
        stream_embeddings_dir,
    )

    d = spark.createDataFrame(
        [(i, [float(x) for x in v], 0)
         for i, v in enumerate(_rand_corpus(121, 10, 8))],
        "vec_id long, embedding array<float>, label int",
    )
    cb = pq_train(d, "embedding", "vec_id", m=2, n_cents=4)
    shard = str(tmp_path / "shard")
    d.write.parquet(shard)
    spark.createDataFrame(
        [(800, [float("nan")] + [0.0] * 7, 0),
         (801, [None] + [0.0] * 7, 0)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("append").parquet(shard)
    run_to_memory(
        pq_coded_stream(stream_embeddings_dir(spark, shard), cb),
        "pq_poison", output_mode="append",
    )
    got = {r.vec_id: r.pq_codes
           for r in spark.sql("SELECT * FROM pq_poison").collect()}
    assert got[800] is None and got[801] is None
    assert all(got[i] is not None for i in range(10))


def test_pq_codebook_rejects_ragged_centroids():
    with pytest.raises(ValueError, match="unequal lengths"):
        PQCodebook(0.0, 1.0, 2, [[0] * 8, [0] * 6])


def test_cross_embedding_neardup_sides_and_subset(spark):
    """Cross pairs are exactly the within-corpus pairs that straddle the
    side split (new never pairs with new, ref never with ref), with the
    same buckets/threshold."""
    from csvtool_spark.operators.similarity import (
        cross_embedding_neardup,
        near_dup_pairs_embedding,
    )

    import numpy as np

    r = random.Random(5)
    base = [float(np.float32(r.uniform(-1, 1))) for _ in range(16)]
    # clustered corpus: perturbations of one vector => high cosines
    vecs = [
        [float(np.float32(x + r.uniform(-0.05, 0.05))) for x in base]
        for _ in range(30)
    ]
    d = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    new, ref = d.filter("vec_id % 2 = 1"), d.filter("vec_id % 2 = 0")
    cross = {
        (r_.new_id, r_.ref_id, r_.cos)
        for r_ in cross_embedding_neardup(
            new, ref, "embedding", "vec_id", threshold=0.9, n_planes=4
        ).collect()
    }
    assert cross  # the clustered corpus produces pairs
    assert all(a % 2 == 1 and b % 2 == 0 for a, b, _ in cross)
    within = {
        (r_.id_a, r_.id_b, r_.cos)
        for r_ in near_dup_pairs_embedding(
            d, "embedding", "vec_id", threshold=0.9, n_planes=4
        ).collect()
    }
    # every cross pair appears in the within set (as (min,max)) and every
    # straddling within pair appears in cross
    def flip(a, b, c):
        return (min(a, b), max(a, b), c)

    assert {flip(*p) for p in cross} == {
        p for p in within if (p[0] % 2) != (p[1] % 2)
    }


def test_cross_embedding_neardup_empty_sides_and_bucket_cap(spark):
    from csvtool_spark.operators.similarity import (
        cross_embedding_neardup,
        near_dup_pairs_embedding,
    )

    d = _vecs(spark, _rand_corpus(141, 10, 8))
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    nulls = spark.createDataFrame(
        [(0, None)], "vec_id long, embedding array<float>"
    )
    for new, ref in ((empty, d), (d, empty), (nulls, d)):
        out = cross_embedding_neardup(new, ref, "embedding", "vec_id")
        assert out.columns == ["new_id", "ref_id", "cos"]
        assert out.count() == 0
    assert near_dup_pairs_embedding(empty, "embedding", "vec_id").count() == 0
    # hot-bucket cap: identical vectors all land in one bucket; a cap
    # below the side size drops the bucket (documented recall trade),
    # a generous cap keeps every cross pair
    same = _vecs(spark, [[0.3] * 8] * 6)
    new, ref = same.filter("vec_id % 2 = 1"), same.filter("vec_id % 2 = 0")
    full = cross_embedding_neardup(
        new, ref, "embedding", "vec_id", threshold=0.99, n_planes=4
    )
    assert full.count() == 9  # 3 x 3
    capped = cross_embedding_neardup(
        new, ref, "embedding", "vec_id", threshold=0.99, n_planes=4,
        max_bucket=2,
    )
    assert capped.count() == 0


def test_ivf_pq_nprobe_sweep_matches_one_shot(spark):
    """The sweep (one corpus pass, several probe budgets) must be
    row-identical to ivf_pq_recall_eval run separately at each nprobe,
    and pin to recall 1.0 when every cell is probed and the codebook is
    the corpus itself (both loss terms vanish)."""
    from csvtool_spark.functions.caching import release_stages
    from csvtool_spark.operators.similarity import (
        ivf_pq_nprobe_sweep,
        ivf_pq_recall_eval,
    )

    corpus = _rand_corpus(97, 48, 8)
    df = _vecs(spark, corpus)
    queries = {i: corpus[i] for i in (0, 7, 23)}
    nps = [1, 2, 4, 8]
    sweep = ivf_pq_nprobe_sweep(
        df, "embedding", "vec_id", queries, nprobes=nps, k=5,
        n_cells=8, m=4, n_cents=48,
    )
    got = {
        (r["nprobe"], r["qid"]): (r["n_hits"], r["recall"])
        for r in sweep.collect()
    }
    release_stages(sweep)
    assert len(got) == len(nps) * len(queries)
    for np_ in nps:
        one = ivf_pq_recall_eval(
            df, "embedding", "vec_id", queries, k=5,
            n_cells=8, nprobe=np_, m=4, n_cents=48,
        )
        rows = one.collect()
        release_stages(one)
        for r in rows:
            assert got[(np_, r["qid"])] == (r["n_hits"], r["recall"]), (
                f"nprobe={np_} qid={r['qid']} diverged from one-shot eval"
            )
    # full probe budget + corpus-sized codebook => both losses vanish
    assert all(v[1] == 1.0 for k_, v in got.items() if k_[0] == 8)


def test_ivf_pq_nprobe_sweep_validation(spark):
    from csvtool_spark.operators.similarity import ivf_pq_nprobe_sweep

    df = _vecs(spark, _rand_corpus(3, 12, 4))
    with pytest.raises(ValueError, match="non-empty"):
        ivf_pq_nprobe_sweep(df, "embedding", "vec_id", {}, nprobes=[1])
    with pytest.raises(ValueError, match=">= 1"):
        ivf_pq_nprobe_sweep(
            df, "embedding", "vec_id", {0: [0.0] * 4}, nprobes=[0, 2]
        )
    # over-large budgets CLAMP to the cells that exist (the one-shot
    # eval's _probe_cells behavior) instead of crashing a small corpus
    q = {0: [0.1] * 4}
    big = ivf_pq_nprobe_sweep(
        df, "embedding", "vec_id", q, nprobes=[64],
        n_cells=4, m=2, n_cents=12,
    ).collect()
    full = ivf_pq_nprobe_sweep(
        df, "embedding", "vec_id", q, nprobes=[4],
        n_cells=4, m=2, n_cents=12,
    ).collect()
    assert [(r["qid"], r["n_hits"]) for r in big] == [
        (r["qid"], r["n_hits"]) for r in full
    ]
    assert big[0]["nprobe"] == 4  # reported at the clamped budget
