"""Lloyd-trained PQ codebooks (similarity.pq_train_kmeans) and the
sampled-vs-trained recall report (pq_recall_compare / q_pq_compare):
determinism, the trained codebook ≡ its DuckDB twin, the iters=0 ≡ sampled seed
property, trained-beats-sampled mean recall, and the round-7 ADVICE
hardening (empty-corpus pq_train guard, _izdist2 int64 widening,
_adc_score NULL-codes filter)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csvtool_spark.functions.caching import release_stages
from csvtool_spark.operators.similarity import (
    PQCodebook,
    _izdist2,
    ann_pq_indexed,
    pq_recall_compare,
    pq_train,
    pq_train_kmeans,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").persist()
    df.count()
    yield df
    df.unpersist()


def _queries(emb, n):
    rows = emb.filter(F.col("vec_id") < n).collect()
    return {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows}


def test_trained_deterministic_and_matches_oracle(emb, duck):
    from csvtool_spark.scale_queries import (
        _PQ_BASE_CTES,
        _PQ_DSUB,
        _pq_trained_ctes,
    )

    a = pq_train_kmeans(emb, "embedding", "vec_id", m=8, n_cents=16, iters=2)
    b = pq_train_kmeans(emb, "embedding", "vec_id", m=8, n_cents=16, iters=2)
    assert a.cents == b.cents  # deterministic across runs
    assert (a.mn, a.mx, a.m) == (b.mn, b.mx, b.m)
    # the q_pq_compare twin's trained codebook (m=8, 16 cells, 2 rounds),
    # bit for bit
    twin = duck.execute(
        f"WITH {_PQ_BASE_CTES}, {_pq_trained_ctes(2)} "
        "SELECT s, cell, d, cq FROM tc2"
    ).fetchall()
    want = [[None] * (8 * _PQ_DSUB) for _ in range(16)]
    for s, cell, d, cq in twin:
        want[cell][s * _PQ_DSUB + d - 1] = cq
    assert a.cents == want


def test_iters0_is_sampled_codebook(emb):
    sampled = pq_train(emb, "embedding", "vec_id", m=8, n_cents=16)
    seed = pq_train_kmeans(emb, "embedding", "vec_id", m=8, n_cents=16, iters=0)
    assert seed.cents == sampled.cents
    trained = pq_train_kmeans(
        emb, "embedding", "vec_id", m=8, n_cents=16, iters=2
    )
    assert trained.cents != sampled.cents  # training actually moved them
    # trained centroids stay inside the int8 code range (means of codes)
    flat = [x for cent in trained.cents for x in cent]
    assert min(flat) >= -128 and max(flat) <= 127


def test_trained_mean_recall_ge_sampled(emb):
    """The reason pq_train_kmeans exists: on the fixed corpus, Lloyd
    training the codebook must not lose mean ADC recall vs the sampled
    seed (it gains at both sf0.001 and sf0.01; ≥ guards the property
    without overfitting the margin)."""
    sampled = pq_train(emb, "embedding", "vec_id", m=8, n_cents=16)
    trained = pq_train_kmeans(
        emb, "embedding", "vec_id", m=8, n_cents=16, iters=2
    )
    out = pq_recall_compare(
        emb, "embedding", "vec_id", _queries(emb, 16), 10,
        {"sampled": sampled, "trained": trained},
    )
    rows = out.collect()
    assert release_stages(out) == 1
    n = len(rows)
    assert n == 16
    mean_s = sum(r["recall_sampled"] for r in rows) / n
    mean_t = sum(r["recall_trained"] for r in rows) / n
    assert mean_t >= mean_s


def test_recall_compare_validation(emb):
    cb = pq_train(emb, "embedding", "vec_id", m=8, n_cents=4)
    with pytest.raises(ValueError, match="queries"):
        pq_recall_compare(emb, "embedding", "vec_id", {}, 10, {"a": cb})
    with pytest.raises(ValueError, match="codebooks"):
        pq_recall_compare(emb, "embedding", "vec_id", _queries(emb, 2), 10, {})
    other = PQCodebook(cb.mn - 1.0, cb.mx, cb.m, cb.cents)
    with pytest.raises(ValueError, match="quantization grid"):
        pq_recall_compare(
            emb, "embedding", "vec_id", _queries(emb, 2), 10,
            {"a": cb, "b": other},
        )


def test_pq_train_empty_corpus_raises(spark):
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="no usable vectors"):
        pq_train(empty, "embedding", "vec_id")
    allnull = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="no usable vectors"):
        pq_train(allnull, "embedding", "vec_id")


def test_izdist2_widens_before_square(spark):
    """Codes far outside int8 (a cross-frame encode of an extreme
    outlier) must square in int64, not wrap in int32: (60000-(-60000))^2
    = 1.44e10 overflows int32 but is the exact answer in int64."""
    df = spark.createDataFrame(
        [([60000, 0], [-60000, 3])], "a array<int>, b array<int>"
    )
    got = df.select(_izdist2(F.col("a"), F.col("b")).alias("d")).first()["d"]
    assert got == 120000**2 + 9


def test_adc_score_skips_null_codes(spark, tmp_path):
    """ann_pq_indexed over an index containing quarantined rows (null
    pq_codes from the streaming on_invalid='null' lane) must never rank
    them — Spark's NULLS FIRST would otherwise put them at the top."""
    cb = PQCodebook(0.0, 1.0, 2, [[-128, -128], [127, 127]])
    path = str(tmp_path / "pq_index")
    spark.createDataFrame(
        [(1, [0, 0]), (2, [1, 1]), (3, None)],
        "vec_id long, pq_codes array<int>",
    ).write.parquet(path)
    rows = ann_pq_indexed(
        spark, path, "vec_id", [0.0, 0.0], cb, k=3
    ).collect()
    assert [r["vec_id"] for r in rows] == [1, 2]
    assert all(r["adc_d2"] is not None for r in rows)


def test_ivf_pq_recall_subsumes_pq_recall(emb):
    """nprobe = n_cells disables the IVF pruning term: the composed eval
    must then equal plain pq_recall_eval with the same codebook row for
    row (the q_ann_ivf_pq 'nprobe=n_cells ≡ plain PQ' pin, lifted to the
    recall eval)."""
    from csvtool_spark.operators.similarity import (
        ivf_pq_recall_eval,
        pq_recall_eval,
    )

    qs = _queries(emb, 4)
    cb = pq_train(emb, "embedding", "vec_id", m=8, n_cents=16)
    full = ivf_pq_recall_eval(
        emb, "embedding", "vec_id", qs, k=10,
        n_cells=8, nprobe=8, codebook=cb,
    )
    plain = pq_recall_eval(
        emb, "embedding", "vec_id", qs, k=10, codebook=cb
    )
    a = [tuple(r) for r in full.orderBy("qid").collect()]
    b = [tuple(r) for r in plain.orderBy("qid").collect()]
    assert release_stages(full) == 1 and release_stages(plain) == 1
    assert a == b


def test_ivf_pq_recall_no_loss_regime(spark):
    """nprobe = n_cells AND n_cents ≥ |corpus| removes both loss terms —
    recall must pin to 1.0 for every query."""
    import random

    from csvtool_spark.operators.similarity import ivf_pq_recall_eval

    r = random.Random(7)
    rows = [
        (i, [float(round(r.uniform(-1, 1), 3)) for _ in range(16)])
        for i in range(30)
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = {i: rows[i][1] for i in range(3)}
    out = ivf_pq_recall_eval(
        d, "embedding", "vec_id", qs, k=5,
        n_cells=4, nprobe=4, m=4, n_cents=30,
    )
    got = out.collect()
    assert release_stages(out) == 1
    assert all(r["recall"] == 1.0 for r in got)


def test_trained_stack_grid_report(emb):
    """The trained-stack eval story: the 2×2 (IVF lane × PQ lane) grid is
    computable, bounded, and deterministic — trained metadata reproduces
    across runs (pq_train_kmeans exactly; ivf_train float-deterministic
    on a fixed single-node corpus). Per-config recall ordering is
    corpus-dependent (trained-IVF concentrates mass so fixed-nprobe
    pruning can cost recall), so no cross-config inequality is pinned —
    the sf0.01 snapshot rides ROUND_NOTES.md."""
    from csvtool_spark.operators.similarity import (
        ivf_centroids,
        ivf_pq_recall_eval,
        ivf_train,
        pq_train_kmeans,
    )

    qs = _queries(emb, 8)
    cents = {
        "s": ivf_centroids(emb, "embedding", "vec_id", 8),
        "t": ivf_train(emb, "embedding", "vec_id", 8, iters=1),
    }
    cbs = {
        "s": pq_train(emb, "embedding", "vec_id", m=8, n_cents=16),
        "t": pq_train_kmeans(emb, "embedding", "vec_id", m=8, n_cents=16,
                             iters=1),
    }
    grid = {}
    for ci, cv in cents.items():
        for bi, bv in cbs.items():
            out = ivf_pq_recall_eval(
                emb, "embedding", "vec_id", qs, k=10,
                n_cells=8, nprobe=2, centroids=cv, codebook=bv,
            )
            rows = out.collect()
            assert release_stages(out) == 1
            assert len(rows) == 8
            grid[ci + bi] = sum(r["recall"] for r in rows) / len(rows)
    assert all(0.0 <= v <= 1.0 for v in grid.values())
    # determinism of the trained lanes: rebuild and compare exactly
    assert ivf_train(emb, "embedding", "vec_id", 8, iters=1) == cents["t"]
    assert pq_train_kmeans(
        emb, "embedding", "vec_id", m=8, n_cents=16, iters=1
    ).cents == cbs["t"].cents


def test_pq_train_kmeans_seed_handoff(emb):
    """seed_codebook= must reproduce the self-seeded training exactly
    (same seed, same rounds) and reject shape mismatches."""
    import pytest

    cb_s = pq_train(emb, "embedding", "vec_id", m=8, n_cents=16)
    a = pq_train_kmeans(emb, "embedding", "vec_id", m=8, n_cents=16, iters=1)
    b = pq_train_kmeans(
        emb, "embedding", "vec_id", m=8, n_cents=16, iters=1,
        seed_codebook=cb_s,
    )
    assert a.cents == b.cents and (a.mn, a.mx) == (b.mn, b.mx)
    with pytest.raises(ValueError, match="shape mismatch"):
        pq_train_kmeans(
            emb, "embedding", "vec_id", m=4, n_cents=16, seed_codebook=cb_s
        )
