"""Fixed-point distributed k-means over embedding columns — the corpus
clustering step real pipelines run before cluster-balanced sampling,
SemDeDup-style per-cluster dedup, and topic-mixture reporting (beyond
the reference, which has no vector surface at all; the float Lloyd
refinement for ANN index quality lives in ``similarity.ivf_train``).

This operator is the ORACLE-EXACT twin of that idea, built on the repo's
fixed-point pattern (cf. ``operators/pca.py``, integer PageRank):

- vectors quantize to int64 on a ``scale`` grid (round-half-away — the
  shared Spark/DuckDB semantics);
- initial centroids are the quantized vectors of the ``k`` lowest ids
  (deterministic seeding — no RNG, reproducible on any engine);
- assignment minimizes the EXACT integer squared L2 distance
  ``Σ_d (q_d - c_jd)²`` (ties → lowest cluster id, via lexicographic
  struct-min);
- the update step recomputes each centroid as ``half_away(Σ q_d / n)``
  — exact int64 sums, identical IEEE double division, identical
  half-away rounding on both engines; empty clusters carry their
  previous centroid forward;
- a fixed ``iters`` Lloyd rounds (unrolled in the oracle SQL), then one
  final assignment pass emitted as (id, cluster, dist2).

Scale shape: each iteration is ONE linear aggregation whose result is
the bounded k×dim centroid table (the only driver artifact, like PCA's
direction vector); the final assignment is a pure projection fused into
the scan — no join, no shuffle of the vector table body beyond the
per-iteration partial-aggregated centroid sums.

One lane, an Arrow batch kernel (the ``minhash_signature_arrow``
precedent — Spark evaluates higher-order-function lambdas on the
interpreted path, so a k×dim Column fold per row is the constant factor
that matters at corpus scale): one numpy kernel per Arrow batch computes
exact int64 distances via vectorized ``(Q-C)²`` with a sliced row×k×dim
transient, and the fit emits per-BATCH partial (count, Σq_d) sums so each
Lloyd round shuffles k rows per batch instead of the vector body.
Quantization reproduces Spark ``F.round`` exactly (see ``_half_away_np``),
and ``kmeans_oracle_sql`` — the DuckDB twin the tests compare against on
the same frames — mirrors every step term-for-term.

int64 envelope (validated, not assumed): with ``|x| ≤ X`` a component is
``≤ X·scale`` so a squared distance is ``≤ dim·(2·X·scale)²`` (4e10 for
X=1, scale=1e4, dim=64 — safe), and a per-(cluster, dim) sum is
``≤ N·X·scale`` — exact in DOUBLE while ``N·X·scale < 2^53`` (~9e8 rows
at X=1, scale=1e4; the validation pass raises past it — sample the fit,
then assign the full corpus, the PCA remedy).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csvtool_spark.functions.fixedpoint import half_away


def _half_away_np(y):
    """Exact round-half-away-from-zero of a float64 ndarray → int64,
    reproducing Spark ``F.round(x, 0)`` (BigDecimal HALF_UP over the
    double's shortest decimal representation) and DuckDB ``round``
    bit-for-bit. The naive ``floor(|y| + 0.5)`` form is NOT exact in
    floating point (``|y| + 0.5`` can round UP across the half grid —
    e.g. the largest double below 0.5 rounds to 1 under it, to 0 under
    real rounding); instead compare the EXACT fractional part:
    ``y - floor(y)`` / ``ceil(y) - y`` are exact by Sterbenz' lemma
    (operands within a factor of 2, or |y| < 1 where floor/ceil is 0).

    Driver-side twin of the identical code inlined in the Arrow
    closures below (kept self-contained there so vanilla sessions can
    unpickle without this package importable — the
    ``minhash_signature_arrow`` contract); the DuckDB oracle tests over
    the fit pin the two copies together."""
    import numpy as np

    fl = np.floor(y)
    up = np.ceil(y)
    pos = fl + (y - fl >= 0.5)
    neg = up - (up - y >= 0.5)
    return np.where(y >= 0, pos, neg).astype(np.int64)


#: peak bytes for the per-slice (rows × k × dim) int64 distance transient
#: inside the Arrow kernels — row batches are processed in slices so a
#: large Arrow batch cannot allocate a multi-GB intermediate (10k rows ×
#: k=64 × dim=64 × 8 B ≈ 330 MB unsliced).
_DIST_BUDGET = 64 << 20


def _arrow_assign_fn(cents: list[list[int]], scale: int, vec_name: str,
                     id_name: str, extras: list[str],
                     on_invalid: str = "raise"):
    """mapInPandas closure for the Arrow assignment lane: quantize +
    nearest-centroid per batch as one numpy kernel. Null vector → null
    (cluster, dist2); ragged/non-finite vectors RAISE by default (the
    fit's validation pass excludes them; ``argmin`` first-occurrence ties
    == the oracle's lowest-j rule). ``on_invalid='null'`` instead assigns
    those rows null (cluster, dist2) like null vectors — the STREAMING contract: stream
    input never passes through the fit's validation, and a raise inside
    mapInPandas fails the micro-batch, which a restart then replays into
    a crash loop on the same poison record.

    Self-contained (imports + half-away inline) so a vanilla driver
    session can unpickle it on workers without this package importable —
    the ``minhash_signature_arrow`` contract; the inline ``half_away``
    must stay identical to ``_half_away_np`` (the DuckDB oracle tests
    over the fit pin the copies together)."""
    budget = _DIST_BUDGET

    def fn(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents, dtype=np.int64)
        k, dim = C.shape
        step = max(1, budget // (k * dim * 8))

        def half_away(y):
            fl = np.floor(y)
            up = np.ceil(y)
            return np.where(
                y >= 0, fl + (y - fl >= 0.5), up - (up - y >= 0.5)
            ).astype(np.int64)

        for pdf in batches:
            n = len(pdf)
            out = pdf[[id_name, *extras]].copy()
            vec = pdf[vec_name]
            mask = np.fromiter((v is not None for v in vec), dtype=bool, count=n)
            cl = np.zeros(n, dtype=np.int64)
            d2 = np.zeros(n, dtype=np.int64)
            idx = np.flatnonzero(mask)
            if idx.size and on_invalid == "null":
                # per-row validation: a poison record nulls out, never
                # raises (see docstring — the streaming contract)
                rows = []
                good = []
                for i in idx:
                    try:
                        a = np.asarray(vec.iat[int(i)], dtype=np.float64)
                    except (ValueError, TypeError):
                        mask[int(i)] = False
                        continue
                    if a.ndim != 1 or a.shape[0] != dim or not np.isfinite(a).all():
                        mask[int(i)] = False
                        continue
                    rows.append(a)
                    good.append(int(i))
                idx = np.asarray(good, dtype=np.int64)
                V = np.stack(rows) if rows else np.empty((0, dim))
            elif idx.size:
                try:
                    V = np.stack(
                        [np.asarray(vec.iat[int(i)], dtype=np.float64) for i in idx]
                    )
                except (ValueError, TypeError) as e:
                    raise ValueError(
                        "kmeans assignment: ragged or null-element embedding "
                        "— impute or drop those rows first"
                    ) from e
                if V.shape[1] != dim:
                    raise ValueError(
                        f"kmeans assignment: embedding dim {V.shape[1]} != "
                        f"centroid dim {dim}"
                    )
                if not np.isfinite(V).all():
                    raise ValueError(
                        "kmeans assignment: non-finite embedding value — "
                        "int64 quantization is undefined for NaN/Infinity"
                    )
            if idx.size:
                Q = half_away(V * scale)
                for s in range(0, len(Q), step):
                    q = Q[s : s + step]
                    diff = q[:, None, :] - C[None, :, :]
                    dist = (diff * diff).sum(axis=2)
                    best = dist.argmin(axis=1)
                    cl[idx[s : s + step]] = best
                    d2[idx[s : s + step]] = dist[np.arange(len(q)), best]
            out["cluster"] = pd.arrays.IntegerArray(cl, mask=~mask)
            out["dist2"] = pd.arrays.IntegerArray(d2, mask=~mask)
            yield out

    return fn


def _arrow_partial_sums_fn(cents: list[list[int]], scale: int, vec_name: str):
    """mapInPandas closure for one Arrow-lane Lloyd round: assign each
    batch's vectors, then emit the PER-BATCH partial aggregate — one
    ``(__c, n, Σq_d)`` row per non-empty cluster — so the shuffle after
    it carries k rows per batch instead of the vector body (numpy-side
    map-combine; Spark's final ``SUM`` over int64 partials is exact and
    order-independent, so the total equals a direct ``SUM`` bit-for-bit).
    Upstream filters null vectors; same validated
    envelope + self-containment contract as ``_arrow_assign_fn``."""
    budget = _DIST_BUDGET

    def fn(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents, dtype=np.int64)
        k, dim = C.shape
        step = max(1, budget // (k * dim * 8))

        def half_away(y):
            fl = np.floor(y)
            up = np.ceil(y)
            return np.where(
                y >= 0, fl + (y - fl >= 0.5), up - (up - y >= 0.5)
            ).astype(np.int64)

        for pdf in batches:
            if not len(pdf):
                continue
            try:
                V = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_name]]
                )
            except (ValueError, TypeError) as e:
                raise ValueError(
                    "kmeans fit: ragged or null-element embedding"
                ) from e
            if V.shape[1] != dim or not np.isfinite(V).all():
                raise ValueError("kmeans fit: invalid embedding batch")
            Q = half_away(V * scale)
            best = np.empty(len(Q), dtype=np.int64)
            for s in range(0, len(Q), step):
                q = Q[s : s + step]
                diff = q[:, None, :] - C[None, :, :]
                best[s : s + step] = (diff * diff).sum(axis=2).argmin(axis=1)
            counts = np.bincount(best, minlength=k)
            sums = np.zeros((k, dim), dtype=np.int64)
            np.add.at(sums, best, Q)
            js = np.flatnonzero(counts)
            yield pd.DataFrame(
                {
                    "__c": js.astype(np.int64),
                    "n": counts[js].astype(np.int64),
                    "s": [sums[j].tolist() for j in js],
                }
            )

    return fn


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    scale: int = 10_000,
    iters: int = 2,
) -> list[list[int]]:
    """Run ``iters`` fixed-point Lloyd rounds; returns the k×dim integer
    centroid table (bounded driver artifact).  Null vectors are excluded
    from the fit (they get cluster/dist2 null at assignment). Each round
    is mapInPandas batch partial sums (see module doc)."""
    if k < 1 or iters < 0:
        raise ValueError(f"kmeans_fit: need k >= 1 and iters >= 0, got {k=}, {iters=}")

    # validation pass (one cheap agg, the PCA pattern — pca.py:92-135):
    # ragged dims → zip_with silently null-pads; NaN/Inf → Spark rounds
    # NaN to 0 while the DuckDB oracle ERRORS (the repo's NaN-cast rule);
    # null elements → null distances, arbitrary struct-min assignment;
    # envelopes: mean sums past 2^53 lose DOUBLE exactness, squared
    # distances past 2^63 wrap int64 (the oracle's HUGEINT stays exact —
    # silent divergence)
    raw = F.col(vec_col)
    st = df.filter(raw.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.size(raw)).alias("ndims"),
        F.max(F.size(raw)).alias("dim"),
        F.max(
            F.array_max(F.transform(raw, lambda x: F.abs(x.cast("double"))))
        ).alias("xmax"),
        F.sum(
            F.when(F.exists(raw, lambda x: x.isNull()), 1).otherwise(0)
        ).alias("n_null_elem"),
    ).collect()[0]
    if st["n"] < k:
        raise ValueError(f"kmeans_fit: {st['n']} vectors < k={k}")
    if st["ndims"] != 1:
        raise ValueError("kmeans_fit: ragged embedding dimensions")
    if int(st["n_null_elem"] or 0) > 0:
        raise ValueError(
            f"kmeans_fit: {int(st['n_null_elem'])} vector(s) contain null "
            "ELEMENTS — distances would be null and assignment undefined; "
            "impute or drop those rows first"
        )
    xmax = float(st["xmax"] or 0.0)
    if not math.isfinite(xmax):
        raise ValueError(
            "kmeans_fit: non-finite embedding value — int64 quantization "
            "is undefined for NaN/Infinity (Spark would cast NaN to 0 "
            "while the oracle errors)"
        )
    amax = xmax * scale
    if amax * st["n"] >= 2**53:
        raise ValueError(
            "kmeans_fit: N*scale*|x| exceeds the exact-DOUBLE mean envelope "
            "(2^53) — fit on a sample, then assign the full corpus"
        )
    if int(st["dim"]) * (2.0 * amax) ** 2 >= 2**63:
        raise ValueError(
            "kmeans_fit: dim*(2*scale*|x|)^2 exceeds the int64 distance "
            "envelope (2^63) — lower scale"
        )

    import numpy as np

    # raw vectors persist for the fit's lifetime (seed pass + every Lloyd
    # round) and are ALWAYS released before returning (fit output is a
    # driver-side list; nothing lazy keeps reading the cache). Quantization
    # happens inside the batch kernel, and the seed centroids take the
    # identical driver-side path (_half_away_np).
    raw = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .persist()
    )
    try:
        # deterministic seed: quantized vectors of the k lowest ids
        seed_rows = raw.orderBy("__id").limit(k).collect()
        centroids = [
            _half_away_np(
                np.asarray(list(r["__v"]), dtype=np.float64) * scale
            ).tolist()
            for r in seed_rows
        ]
        dim = len(centroids[0])
        for _ in range(iters):
            part = raw.select("__v").mapInPandas(
                _arrow_partial_sums_fn(centroids, scale, "__v"),
                schema="__c long, n long, s array<long>",
            )
            sums = (
                part.groupBy("__c")
                .agg(
                    F.sum("n").alias("n"),
                    *[
                        F.sum(F.element_at("s", d + 1)).alias(f"s_{d}")
                        for d in range(dim)
                    ],
                )
                .collect()
            )
            by_c = {int(r["__c"]): r for r in sums}
            centroids = [
                [
                    half_away(float(by_c[j][f"s_{d}"]) / by_c[j]["n"])
                    for d in range(dim)
                ]
                if j in by_c
                else centroids[j]  # empty cluster: carry forward
                for j in range(k)
            ]
        return centroids
    finally:
        raw.unpersist()


def kmeans_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[int]],
    scale: int = 10_000,
    extra_cols: tuple[str, ...] = (),
    on_invalid: str = "raise",
) -> DataFrame:
    """Final assignment pass: (id, *extra, cluster, dist2) — map-only
    over the scan (the centroid table rides the pickled numpy batch
    kernel).

    ``on_invalid``: ``'raise'`` (default — batch input passes the fit's
    validation, so a ragged/non-finite vector is a pipeline bug worth
    failing on) or ``'null'`` (assign null cluster/dist2 — the streaming
    lane, where a raise would crash-loop the query on a poison record)."""
    if on_invalid not in ("raise", "null"):
        raise ValueError(f"kmeans_assign: unknown on_invalid {on_invalid!r}")
    from pyspark.sql import types as T

    cents = [[int(c) for c in row] for row in centroids]
    if not cents or len({len(c) for c in cents}) != 1:
        raise ValueError("kmeans_assign: empty or ragged centroid table")
    fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [fields[id_col]]
        + [fields[c] for c in extra_cols]
        + [
            T.StructField("cluster", T.LongType()),
            T.StructField("dist2", T.LongType()),
        ]
    )
    return df.select(id_col, *extra_cols, vec_col).mapInPandas(
        _arrow_assign_fn(cents, int(scale), vec_col, id_col,
                         list(extra_cols), on_invalid=on_invalid),
        schema=out_schema,
    )


def kmeans(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    scale: int = 10_000,
    iters: int = 2,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """fit + assign in one call (the catalog entry)."""
    cents = kmeans_fit(df, vec_col, id_col, k=k, scale=scale, iters=iters)
    return kmeans_assign(df, vec_col, id_col, cents, scale=scale,
                         extra_cols=extra_cols)


def kmeans_oracle_sql(
    k: int = 8,
    scale: int = 10_000,
    iters: int = 2,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: str = "label",
) -> str:
    """DuckDB CTE twin: identical quantization, deterministic seeding,
    unrolled Lloyd rounds with the same half-away mean and the same
    (dist2, j) tie-break.  Integer sums exact (HUGEINT), every output and
    CTE-edge aggregate cast back to BIGINT (the repo's dtype-parity
    rule)."""

    def ha(expr: str) -> str:
        return (
            f"CAST(CASE WHEN {expr} >= 0 THEN floor(({expr}) + 0.5) "
            f"ELSE -floor(-({expr}) + 0.5) END AS BIGINT)"
        )

    its = []
    prev = "c0"
    for t in range(1, iters + 1):
        its.append(
            f"a{t} AS (SELECT {id_col}, j AS c FROM ("
            f"SELECT x.{id_col}, {prev}.j, "
            f"row_number() OVER (PARTITION BY x.{id_col} "
            f"ORDER BY sum(CAST(x.q - {prev}.cq AS HUGEINT) * (x.q - {prev}.cq)), {prev}.j) AS rn "
            f"FROM xs x JOIN {prev} USING (d) "
            f"GROUP BY x.{id_col}, {prev}.j) WHERE rn = 1)"
        )
        its.append(
            f"m{t} AS (SELECT c AS j, d, {ha('CAST(sum(q) AS DOUBLE) / count(*)')} AS cq "
            f"FROM xs JOIN a{t} USING ({id_col}) GROUP BY c, d)"
        )
        # empty clusters carry the previous centroid forward
        its.append(
            f"c{t} AS (SELECT {prev}.j, {prev}.d, coalesce(m{t}.cq, {prev}.cq) AS cq "
            f"FROM {prev} LEFT JOIN m{t} ON m{t}.j = {prev}.j AND m{t}.d = {prev}.d)"
        )
        prev = f"c{t}"
    iter_sql = ",\n    ".join(its)
    sel_extra = f", {extra_cols}" if extra_cols else ""
    return f"""
    WITH q AS (
      SELECT {id_col}{sel_extra},
             list_transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
      FROM {table} WHERE {vec_col} IS NOT NULL
    ),
    comp AS (
      SELECT {id_col}, unnest(range(1, len(qv) + 1)) AS d, qv FROM q
    ),
    xs AS (SELECT {id_col}, d, qv[d] AS q FROM comp),
    seed AS (SELECT qv, row_number() OVER (ORDER BY {id_col}) - 1 AS j
             FROM q ORDER BY {id_col} LIMIT {k}),
    scomp AS (SELECT j, unnest(range(1, len(qv) + 1)) AS d, qv FROM seed),
    c0 AS (SELECT j, d, qv[d] AS cq FROM scomp),
    {iter_sql},
    fin AS (
      SELECT {id_col}, j AS cluster, dist2 FROM (
        SELECT x.{id_col}, {prev}.j,
               CAST(sum(CAST(x.q - {prev}.cq AS HUGEINT) * (x.q - {prev}.cq)) AS BIGINT) AS dist2,
               row_number() OVER (PARTITION BY x.{id_col}
                 ORDER BY sum(CAST(x.q - {prev}.cq AS HUGEINT) * (x.q - {prev}.cq)), {prev}.j) AS rn
        FROM xs x JOIN {prev} USING (d)
        GROUP BY x.{id_col}, {prev}.j
      ) WHERE rn = 1
    )
    SELECT t.{id_col}{sel_extra}, fin.cluster, fin.dist2
    FROM {table} t LEFT JOIN fin ON fin.{id_col} = t.{id_col}
    """


def cluster_balanced_sample(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    per_cluster: int = 10,
    scale: int = 10_000,
    iters: int = 2,
    salt: str = "cb",
) -> DataFrame:
    """Cluster-balanced corpus sampling: fit k-means, then keep a
    deterministic md5-coin sample of ``per_cluster`` vectors from EACH
    cluster — the topic-balancing step of training-data curation (a
    uniform sample over-represents the dominant topic; sampling per
    cluster flattens the mixture; cf. cluster-based data-pruning /
    SemDeDup-style curation pipelines — public methods, original
    implementation).

    Selection within a cluster orders by ``(md5(salt # id), id)`` — a
    reproducible uniform draw (the ``deterministic_shuffle`` coin), so
    re-runs and the DuckDB oracle pick identical rows, and clusters
    smaller than ``per_cluster`` keep all members.  Null vectors (no
    cluster) are excluded.

    Scale shape: the fit is ``iters`` bounded aggregations; the sample
    adds ONE shuffle on the cluster id + an in-partition rank
    (``source_quota``'s window shape — k tasks, each bounded by its
    cluster).  Returns (id, cluster, dist2).
    """
    from pyspark.sql import Window

    from csvtool_spark.functions.hashing import md5_prefix_long

    cents = kmeans_fit(df, vec_col, id_col, k=k, scale=scale, iters=iters)
    assigned = kmeans_assign(df, vec_col, id_col, cents, scale=scale).filter(
        F.col("cluster").isNotNull()
    )
    coin = md5_prefix_long(
        F.concat_ws("#", F.lit(salt), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy("cluster").orderBy(coin.asc(), F.col(id_col).asc())
    return (
        assigned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(per_cluster))
        .select(id_col, "cluster", "dist2")
    )


def cluster_balanced_oracle_sql(
    k: int = 8,
    per_cluster: int = 10,
    scale: int = 10_000,
    iters: int = 2,
    salt: str = "cb",
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin: the unrolled k-means oracle as a subquery, then the
    same md5-coin per-cluster rank (quote-escaped salt)."""
    base = kmeans_oracle_sql(
        k=k, scale=scale, iters=iters, table=table, vec_col=vec_col,
        id_col=id_col, extra_cols="",
    )
    salt_sql = salt.replace("'", "''")
    coin = (
        f"CAST(concat('0x', substr(md5('{salt_sql}#' || "
        f"CAST({id_col} AS VARCHAR)), 1, 8)) AS BIGINT)"
    )
    return f"""
    SELECT {id_col}, cluster, dist2 FROM (
      SELECT {id_col}, cluster, dist2,
             row_number() OVER (PARTITION BY cluster
               ORDER BY {coin} ASC, {id_col} ASC) AS __rn
      FROM ({base}) base WHERE cluster IS NOT NULL
    ) WHERE __rn <= {int(per_cluster)}
    """
