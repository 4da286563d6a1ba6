"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Scale design (the whole point at 100 TB):
- Signatures (minhash/simhash) are computed in ONE projection pass over the
  corpus, no shuffle: the xx64 family as one Arrow numpy kernel per batch
  over JVM-computed hashes, the md5 family as a Column fold.
- Candidate generation is LSH banding: explode to (band, key) rows and
  self-join on the band key. This replaces the O(n²) all-pairs comparison
  with an equi-join whose cost tracks the number of true near-duplicates;
  Spark shuffles by band key, so work distributes evenly unless a bucket is
  degenerate (identical boilerplate) — cap giant buckets before joining.
- Verification (exact Jaccard / Hamming) runs only on candidate pairs.

Two hash families, same pipeline:
- ``xx64`` (default): Spark's xxhash64 — deterministic across runs and
  executors, fastest, but not reproducible in other engines.
- ``md5``: lanes derived from two 32-bit md5 hex slices (the
  ``q_cms_estimate`` pattern, operators/sketches.py) — bit-identical in
  any engine with md5, so the FULL LSH pipeline (signature → banding →
  candidate join → verify) is DuckDB-oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from csvtool_spark.operators.textstats import tokens

#: Skip LSH buckets bigger than this: a bucket with B members yields B²/2
#: candidate pairs; degenerate boilerplate buckets would dominate the join.
MAX_BUCKET = 1000


def normalized(col: Column) -> Column:
    return F.lower(F.trim(col))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative per exact (normalized) text.
    groupBy on a 128-bit hash — never shuffles the full text."""
    h = F.md5(normalized(F.col(text_col)))
    return (
        df.select(F.col(id_col), h.alias("__h"))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).cast("long").alias("n_copies"))
        .select(id_col, F.col("__h").alias("text_hash"), "n_copies")
    )


def _expr_name(col) -> str | None:
    """Backtick-quoted SQL for a plain string column name, else None.
    The expr-string fast paths below fire only for internal call sites
    that pass the staged column NAME; Column-typed callers keep the
    Column-tree reference implementation (same semantics, pinned by the
    Arrow-vs-Column signature differential tests)."""
    return f"`{col}`" if isinstance(col, str) else None


def word_shingles(toks: Column | str, k: int = 3) -> Column:
    """k-word shingles; documents shorter than k words get one whole-text
    shingle (guards F.sequence against negative ranges). NULL tokens (null
    text) yield a NULL shingle set — without the guard, concat_ws would
    quietly turn null into an '' shingle that equi-joins with real empty
    docs, while a SQL oracle's array_to_string(NULL) yields a NULL shingle
    that never joins; with it, a null doc produces no candidate pairs in
    either engine.

    Accepts a column NAME for the single-``F.expr`` build fast path
    (construction of the lambda tree costs ~23 ms of py4j round trips per
    call — measured round 13; the SQL text parses to the same tree).

    Shingle strings are built by zip_with-chaining k shifted slices
    (``a || ' ' || b`` per step) instead of ``concat_ws(slice(...))``
    from a position sequence: identical strings (split tokens are never
    NULL, so concat == concat_ws), but the per-window slice allocation
    in the interpreted HOF path goes away — 1.70 s → 0.42 s over sf0.1
    documents (round-13 A/B, outputs equal)."""
    t = _expr_name(toks)
    if t is not None:
        m = f"((size({t}) - {k}) + 1)"
        acc = f"slice({t}, 1, {m})"
        for j in range(1, k):
            acc = (
                f"zip_with({acc}, slice({t}, {j + 1}, {m}), "
                "(a, b) -> concat(a, ' ', b))"
            )
        return F.expr(
            f"CASE WHEN {t} IS NOT NULL THEN CASE WHEN size({t}) >= {k} "
            f"THEN array_distinct({acc}) "
            f"ELSE array(concat_ws(' ', {t})) END END"
        )
    n = F.size(toks)
    m = n - F.lit(k) + F.lit(1)
    sh = F.slice(toks, 1, m)
    for j in range(1, k):
        sh = F.zip_with(
            sh, F.slice(toks, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(
        toks.isNotNull(),
        F.when(n >= k, F.array_distinct(sh)).otherwise(
            F.array(F.concat_ws(" ", toks))
        ),
    )


_MASK32 = (1 << 32) - 1


def hashed_shingles(toks: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles as 64-bit hashes, never materializing shingle
    STRINGS: each token is xxhash64'd once, then shingle hashes are built by
    zip_with over k shifted views of the token-hash array (hash-combining
    longs instead of slicing+concatenating strings — far less allocation,
    same LSH behavior). Documents shorter than k words hash the whole text.

    Accepts a column NAME for the single-``F.expr`` build fast path (the
    k+1 lambda trees cost ~57 ms of py4j round trips per call — measured
    round 13; the SQL text parses to the same expressions, same xxhash64
    default seed 42).
    """
    t = _expr_name(toks)
    if t is not None:
        h = f"transform({t}, tk -> xxhash64(tk))"
        m = f"greatest(((size({t}) - {k}) + 1), 1)"
        acc = f"slice({h}, 1, {m})"
        for j in range(1, k):
            acc = (
                f"zip_with({acc}, slice({h}, {j + 1}, {m}), "
                "(a, b) -> xxhash64(a, b))"
            )
        return F.expr(
            f"CASE WHEN {t} IS NOT NULL THEN CASE WHEN size({t}) >= {k} "
            f"THEN array_distinct({acc}) "
            f"ELSE array(xxhash64(concat_ws(' ', {t}))) END END"
        )
    n = F.size(toks)
    h = F.transform(toks, lambda t: F.xxhash64(t))
    m = F.greatest(n - F.lit(k) + 1, F.lit(1))
    acc = F.slice(h, 1, m)
    for j in range(1, k):
        acc = F.zip_with(acc, F.slice(h, j + 1, m), lambda a, b: F.xxhash64(a, b))
    # NULL tokens → NULL shingle set (same contract as word_shingles)
    return F.when(
        toks.isNotNull(),
        F.when(n >= k, F.array_distinct(acc)).otherwise(
            F.array(F.xxhash64(F.concat_ws(" ", toks)))
        ),
    )


def minhash_signature(shingle_hashes: Column, n_hashes: int = 64) -> Column:
    """n_hashes-wide MinHash signature as ONE aggregate fold over pre-hashed
    shingles (``hashed_shingles``). Lanes use the Kirsch-Mitzenmacher
    two-hash family in 32-bit space: ``lane_i = (h_lo + i·(h_hi|1)) & 2³²-1``
    — per shingle visit that is 32 multiply-adds instead of 32 fresh hash
    calls, and it stays ANSI-safe (max intermediate < 2³⁸ « int64 range).

    (The naive per-lane formulation — n_hashes × array_min(transform(...)) —
    re-evaluates the shingle array per lane once Catalyst inlines the
    projection: 64× the work. Fold form benched ~45× faster at sf0.1; the
    KM-family lanes halved the remaining signature cost again.)
    """
    return F.aggregate(
        shingle_hashes,
        F.array_repeat(F.lit(_MASK32).cast("long"), n_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(n_hashes - 1)),
                lambda i: (
                    h.bitwiseAND(F.lit(_MASK32))
                    + i * F.call_function("shiftrightunsigned", h, F.lit(32)).bitwiseOR(F.lit(1))
                ).bitwiseAND(F.lit(_MASK32)),
            ),
            lambda a, x: F.least(a, x),
        ),
    )


def md5_lane_hashes(shingle_strs: Column) -> Column:
    """Per-shingle (h1, h2) 32-bit lane seeds from md5 hex slices — the
    cross-engine-deterministic twin of ``hashed_shingles``. Operates on
    shingle STRINGS (``word_shingles``): md5 has no incremental combine, so
    the string materialization xx64 avoids is the price of engine-neutral
    hashes. DuckDB twin per element:
    ``{'h1': CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT),
       'h2': CAST(concat('0x', substr(md5(s),9,8)) AS BIGINT)}``."""
    from csvtool_spark.functions.hashing import md5_slice_long

    return F.transform(
        shingle_strs,
        lambda s: F.struct(
            md5_slice_long(s, 1).alias("h1"), md5_slice_long(s, 9).alias("h2")
        ),
    )


def minhash_signature_md5(lane_hashes: Column, n_hashes: int = 64) -> Column:
    """MinHash signature over ``md5_lane_hashes`` structs: the same
    Kirsch-Mitzenmacher fold as ``minhash_signature`` but with
    ``lane_i = (h1 + i·(h2|1)) & 2³²-1`` from the two md5 slices — exactly
    reproducible as DuckDB list arithmetic (ANSI-safe: max intermediate
    < 2³⁸)."""
    return F.aggregate(
        lane_hashes,
        F.array_repeat(F.lit(_MASK32).cast("long"), n_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(n_hashes - 1)),
                lambda i: (
                    h["h1"] + i * h["h2"].bitwiseOR(F.lit(1))
                ).bitwiseAND(F.lit(_MASK32)),
            ),
            lambda a, x: F.least(a, x),
        ),
    )


def minhash_signature_arrow(n_hashes: int = 64):
    """Arrow-vectorized twin of ``minhash_signature``: the SAME
    Kirsch-Mitzenmacher lane family, evaluated as one numpy kernel per
    Arrow batch instead of the Column fold. Bit-identical output
    (differential-tested), ~2.4× faster measured at sf0.1 — Spark runs
    higher-order-function lambdas on the interpreted path, and the fold
    allocates an n_hashes array per shingle visit, so this is the one
    place in the repo where a vectorized Pandas UDF beats the pure
    Column tree. Shingle hashing stays JVM-side (``hashed_shingles``);
    only ~8 bytes × shingles per doc cross the Arrow boundary.

    Returns a pandas_udf: ``sig = minhash_signature_arrow(32)(col)``.
    The closure is self-contained (imports inside) so a vanilla driver
    session can unpickle it on workers without this package importable.
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    mask = _MASK32

    #: peak bytes for the (shingles × lanes) lane matrix per slice — docs
    #: are processed in slices so a 10k-row Arrow batch of long documents
    #: cannot allocate a multi-GB transient (10k docs × 750 shingles × 64
    #: lanes × 8 B ≈ 3.8 GB unsliced).
    lane_budget = 64 << 20

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig(sh):
        import numpy as np
        import pandas as pd

        # totality contract, matching the JVM fold: null array → null row;
        # empty array → all-sentinel signature
        isnull = np.fromiter((a is None for a in sh), dtype=bool, count=len(sh))
        lens = np.fromiter(
            (0 if a is None else len(a) for a in sh), dtype=np.int64, count=len(sh)
        )
        lanes = np.arange(n_hashes, dtype=np.int64)
        out: list = [None] * len(sh)
        rows_per_slice = max(1, lane_budget // (8 * n_hashes))
        start = 0
        while start < len(sh):
            # grow the doc slice until its shingle total hits the budget
            end, total = start, 0
            while end < len(sh) and (end == start or total + lens[end] <= rows_per_slice):
                total += lens[end]
                end += 1
            idx = [i for i in range(start, end) if not isnull[i] and lens[i] > 0]
            if idx:
                allh = np.concatenate([np.asarray(sh[i], dtype=np.int64) for i in idx])
                lo = allh & mask
                odd = ((allh >> 32) & mask) | 1
                m = (lo[:, None] + odd[:, None] * lanes[None, :]) & mask
                # offsets over NON-EMPTY docs only — clipping offsets of
                # empty docs into reduceat would merge a neighbor's segment
                seg = np.zeros(len(idx), dtype=np.int64)
                np.cumsum(lens[idx][:-1], out=seg[1:])
                res = np.minimum.reduceat(m, seg, axis=0)
                for j, i in enumerate(idx):
                    out[i] = res[j]
            for i in range(start, end):
                if not isnull[i] and lens[i] == 0:
                    out[i] = [mask] * n_hashes
            start = end
        return pd.Series(out)

    return sig


def _banded(
    df: DataFrame, id_col: str, sig_col: str, bands: int, rows: int,
    band_hash: str = "xx64",
) -> DataFrame:
    """Explode a signature into (band_id, band_key) rows. ``band_hash``:
    'xx64' compacts the lane slice to a 64-bit key (fast default; equality
    differs from slice equality only on an xxhash64 collision); 'string'
    keeps the joined lane string itself — exactly slice equality, and
    reproducible as ``array_to_string`` in an oracle engine.

    Built as one ``F.expr`` (the nested lambda/struct tree cost ~63 ms of
    py4j round trips per call — measured round 13; same parsed tree)."""
    s = (
        f"concat_ws(',', transform(slice(`{sig_col}`, ((b * {rows}) + 1), "
        f"{rows}), v -> CAST(v AS STRING)))"
    )
    key = f"xxhash64({s})" if band_hash == "xx64" else s
    band = F.expr(
        f"explode(transform(sequence(0, {bands - 1}), "
        f"b -> named_struct('band_id', b, 'band_key', {key})))"
    )
    return df.select(id_col, band.alias("b")).select(
        id_col, F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )


def candidate_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Bucket-grouped pair expansion → distinct unordered id pairs.
    Giant buckets are capped (see MAX_BUCKET).

    Two-phase shape, each phase bounded:
    1. count-only aggregate (tiny state) prunes buckets to 2..MAX_BUCKET
       members BEFORE any ids are collected — a degenerate boilerplate
       bucket never materializes;
    2. the surviving buckets collect their id lists (≤ MAX_BUCKET each —
       bounded agg state) and expand i<j pairs as a column expression.
    The groupBy in phase 2 reuses the join's (band_id, band_key)
    partitioning — no extra shuffle — and replaces the former self-join,
    whose joined intermediate carried every pair as a full row through
    the filter. (A window-count formulation was benched and loses.)

    The banded table is persisted: the size aggregate and the collect both
    read it, and each would otherwise re-run shingle→signature→banding
    (measured ~2× end-to-end at sf0.1). At cluster scale the same
    principle holds with storage instead of memory: write the banded
    table out, then run both phases on the materialization.
    """
    from pyspark import StorageLevel

    from csvtool_spark.functions.caching import attach_stages

    # Deserialized level: the default MEMORY_AND_DISK columnar-encodes
    # (and compresses) each cached batch, which cost ~1.7 s of the
    # q_dedup_minhash COLD pass at sf0.1 for three fixed-width columns
    # that compress poorly anyway (round-14 probe: fill 2.6 s vs 0.92 s
    # deserialized, recompute itself 0.95 s; reads identical at ~0.05 s).
    # The table is (id, band_id, band_key) — narrow — and is dropped by
    # release_stages right after the pair expansion, so the transient
    # memory trade is bounded (guide §5.1).
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    sizes = banded.groupBy("band_id", "band_key").agg(F.count(F.lit(1)).alias("__bn"))
    pruned = banded.join(
        sizes.filter((F.col("__bn") >= 2) & (F.col("__bn") <= MAX_BUCKET)),
        ["band_id", "band_key"],
    )
    buckets = pruned.groupBy("band_id", "band_key").agg(
        F.collect_list(id_col).alias("__ids")
    )
    # one F.expr instead of the nested index-lambda tree (~86 ms of py4j
    # round trips per build — measured round 13; same parsed expressions)
    pair = F.expr(
        "explode(flatten(transform(`__ids`, (a, i) -> "
        "transform(slice(`__ids`, i + 2, size(`__ids`)), "
        "b -> named_struct('a', least(a, b), 'b', greatest(a, b))))))"
    )
    return attach_stages(
        buckets.select(pair.alias("p"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .distinct(),
        [banded],
    )


def jaccard(tok_a: Column, tok_b: Column) -> Column:
    """Exact Jaccard over distinct token sets (round(·,6) keeps the value
    comparable across engines)."""
    sa, sb = F.array_distinct(tok_a), F.array_distinct(tok_b)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.round(inter / F.when(union > 0, union), 6)


def _minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    shingle_k: int,
    hash_family: str,
) -> DataFrame:
    """(id, __sig) — the staged shingle→signature pipeline shared by the
    within-corpus and cross-corpus operators. Tokens/shingles materialize
    as columns so the signature fold consumes a computed array instead of
    re-inlining the shingle expression. The xx64 family runs the Arrow
    lane-minima kernel; md5 runs the md5 fold (its cost is the md5 calls,
    not the lane fold, and it is the lane the DuckDB twin replays)."""
    if hash_family not in ("xx64", "md5"):
        raise ValueError(f"hash_family must be 'xx64' or 'md5', got {hash_family!r}")
    toks = tokens(normalized(F.col(text_col)))
    if hash_family == "md5":
        staged = df.select(F.col(id_col), toks.alias("__toks")).select(
            id_col,
            md5_lane_hashes(word_shingles("__toks", shingle_k)).alias("__shingles"),
        )
        sig_expr = minhash_signature_md5(F.col("__shingles"), n_hashes)
    else:
        staged = df.select(F.col(id_col), toks.alias("__toks")).select(
            id_col, hashed_shingles("__toks", shingle_k).alias("__shingles")
        )
        sig_expr = minhash_signature_arrow(n_hashes)(F.col("__shingles"))
    return staged.select(id_col, sig_expr.alias("__sig"))


def near_dup_pairs_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    hash_family: str = "xx64",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → band →
    candidate join → exact-Jaccard verify ≥ threshold.

    bands=16 × rows=4 over 64 hashes ⇒ s-curve threshold ≈ (1/16)^(1/4) ≈
    0.5 Jaccard on shingle sets — recall-biased for a 0.6 verify cut.

    ``hash_family``: 'xx64' (default, fastest — numpy lane minima per
    Arrow batch, bit-identical to the ``minhash_signature`` Column fold it
    is tested against) or 'md5' — md5-slice lanes plus string band keys,
    the cross-engine-deterministic twin whose whole pipeline a DuckDB CTE
    reproduces exactly (``q_dedup_minhash_det``). The md5 family runs the
    JVM fold (its cost profile is the md5 calls, not the lane fold)."""
    rows = n_hashes // bands
    sigs = _minhash_signatures(
        df, text_col, id_col, n_hashes, shingle_k, hash_family
    )
    band_hash = "string" if hash_family == "md5" else "xx64"
    pairs = candidate_pairs(
        _banded(sigs, id_col, "__sig", bands, rows, band_hash), id_col
    )
    # Verify joins read only the token arrays — sourcing them from the
    # pre-signature stage keeps the signature pipeline computed ONCE (a
    # sigs-sourced join would re-inline the whole minhash fold per branch);
    # persisted because BOTH verify-join sides read it.
    toks_only = df.select(
        F.col(id_col), tokens(normalized(F.col(text_col))).alias("__toks")
    ).persist()
    ta = toks_only.select(F.col(id_col).alias("id_a"), F.col("__toks").alias("__ta"))
    tb = toks_only.select(F.col(id_col).alias("id_b"), F.col("__toks").alias("__tb"))
    from csvtool_spark.functions.caching import attach_stages

    # propagate candidate_pairs' persisted banded stage alongside our own
    # token stage so release_stages on THIS result frees everything
    return attach_stages(
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", jaccard(F.col("__ta"), F.col("__tb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold),
        getattr(pairs, "_persisted_stages", []) + [toks_only],
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float, k: int = 3
) -> DataFrame:
    """EXACT n-gram-Jaccard near-dup pairs, computed arithmetically:
    |A∩B| = count of shared distinct shingles from the shingle-equi-join,
    |A∪B| = |A|+|B|-|A∩B| from a tiny per-doc size table. No bucket cap,
    no candidate distinct, no array shipping — the join rows are two ids.

    Worst case is quadratic in documents sharing a hot shingle (this is the
    exact operator; use MinHash banding for web-scale approximate dedup).
    The persisted shingle stage is attached to the result
    (``functions.caching.release_stages`` frees it once consumed)."""
    from csvtool_spark.functions.caching import attach_stages

    toks = tokens(normalized(F.col(text_col)))
    # persisted: three consumers (sizes + both sides of the shingle
    # equi-join) would otherwise re-shingle the corpus.
    base = df.select(F.col(id_col), word_shingles(toks, k).alias("__sh")).persist()
    sizes = base.select(id_col, F.size("__sh").alias("__n"))
    ex = base.select(id_col, F.explode("__sh").alias("__s"))
    inter = (
        ex.select(F.col("__s"), F.col(id_col).alias("id_a"))
        .join(ex.select(F.col("__s"), F.col(id_col).alias("id_b")), "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    union = (F.col("__na") + F.col("__nb") - F.col("__i")).cast("double")
    return attach_stages(
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("__i").cast("double") / F.when(union > 0, union), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold),
        [base],
    )


# --- SimHash --------------------------------------------------------------


def simhash64(toks: Column, hash_family: str = "xx64") -> Column:
    """64-bit SimHash: per-token hash, ±1 vote per bit, sign → bit.
    Shift/AND ops are bitwise (no ANSI overflow).

    ``hash_family``: 'xx64' draws all 64 bits from one xxhash64; 'md5'
    draws bits 0-31 from md5 hex slice [1,8] and bits 32-63 from slice
    [9,16] — reproducible as DuckDB list arithmetic (the packed long never
    leaves Spark; an oracle compares the per-bit vote signs directly)."""
    # F.shiftright*/shiftleft python wrappers require literal ints; inside
    # lambdas the bit index is a Column, so call the SQL functions directly.
    if hash_family == "md5":
        from csvtool_spark.functions.hashing import md5_slice_long

        # one md5 per token, let-bound as (h1, h2) structs so the 64-bit
        # vote transform doesn't re-hash per bit
        hs = F.transform(
            toks,
            lambda t: F.struct(
                md5_slice_long(t, 1).alias("h1"), md5_slice_long(t, 9).alias("h2")
            ),
        )
        votes = F.aggregate(
            hs,
            F.array_repeat(F.lit(0).cast("long"), 64),
            lambda acc, h: F.zip_with(
                acc,
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda b: F.when(
                        F.when(
                            b < 32,
                            F.call_function("shiftrightunsigned", h["h1"], b),
                        )
                        .otherwise(
                            F.call_function("shiftrightunsigned", h["h2"], b - 32)
                        )
                        .bitwiseAND(F.lit(1)) == 1,
                        F.lit(1).cast("long"),
                    ).otherwise(F.lit(-1).cast("long")),
                ),
                lambda a, v: a + v,
            ),
        )
    elif hash_family == "xx64":
        votes = F.aggregate(
            toks,
            F.array_repeat(F.lit(0).cast("long"), 64),
            lambda acc, t: F.zip_with(
                acc,
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda b: F.when(
                        F.call_function("shiftrightunsigned", F.xxhash64(t), b)
                        .bitwiseAND(F.lit(1)) == 1,
                        F.lit(1).cast("long"),
                    ).otherwise(F.lit(-1).cast("long")),
                ),
                lambda a, v: a + v,
            ),
        )
    else:
        raise ValueError(f"hash_family must be 'xx64' or 'md5', got {hash_family!r}")
    return F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(63)),
            lambda v, b: F.when(
                v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash64_arrow():
    """Arrow-vectorized twin of ``simhash64(…, 'xx64')``: consumes the
    per-token xxhash64 array (computed JVM-side — only 8 bytes × tokens
    cross the Arrow boundary, exactly the ``hashed_shingles`` split used
    by ``minhash_signature_arrow``) and runs the 64-lane vote fold + sign
    packing as one numpy kernel per batch. Bit-identical to the Column
    fold (differential-tested): Spark's HOF lambdas execute interpreted
    and the fold allocates a 64-slot array per token visit, so this was
    the last interpreted-HOF hot spot (VERDICT r3 #4).

    Totality contract matches the JVM fold: null token array → null
    signature; empty array → all votes 0 → signature 0.

    Returns a pandas_udf: ``sig = simhash64_arrow()(hash_arr_col)``.
    Self-contained closure — unpicklable on vanilla workers."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    lane_budget = 64 << 20  # peak bytes for the (tokens × 64) vote matrix

    @pandas_udf(T.LongType())
    def sig(hs):
        import numpy as np
        import pandas as pd

        n = len(hs)
        isnull = np.fromiter((a is None for a in hs), dtype=bool, count=n)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in hs), dtype=np.int64, count=n
        )
        lanes = np.arange(64, dtype=np.uint64)
        out = np.zeros(n, dtype=np.int64)
        rows_per_slice = max(1, lane_budget // (8 * 64))
        start = 0
        while start < n:
            end, total = start, 0
            while end < n and (end == start or total + lens[end] <= rows_per_slice):
                total += lens[end]
                end += 1
            idx = [i for i in range(start, end) if not isnull[i] and lens[i] > 0]
            if idx:
                allh = np.concatenate(
                    [np.asarray(hs[i], dtype=np.int64) for i in idx]
                ).view(np.uint64)
                # ±1 votes per (token, bit); logical (not arithmetic) shift
                # via the uint64 view so bit 63 reads correctly
                m = (
                    2 * ((allh[:, None] >> lanes[None, :]) & 1).astype(np.int64) - 1
                )
                seg = np.zeros(len(idx), dtype=np.int64)
                np.cumsum(lens[idx][:-1], out=seg[1:])
                votes = np.add.reduceat(m, seg, axis=0)
                packed = ((votes > 0).astype(np.uint64) << lanes[None, :]).sum(
                    axis=1, dtype=np.uint64
                )
                out[idx] = packed.view(np.int64)
            start = end
        # null rows must stay null WITHOUT upcasting the int64 column to
        # float64 (which would corrupt signatures beyond 2^53): emit a
        # masked nullable-Int64 series.
        return pd.Series(out).astype("Int64").mask(isnull)

    return sig


def near_dup_pairs_simhash(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 8,
    hash_family: str = "xx64",
) -> DataFrame:
    """SimHash near-dup: 4×16-bit chunk blocking (any pair within Hamming
    distance ≤ 3·16 shares ≥1 exact chunk; wider distances are best-effort)
    then exact Hamming verify via bit_count(xor). ``hash_family`` as in
    ``simhash64`` — 'md5' makes the whole pipeline oracle-reproducible.
    The xx64 family runs the numpy vote fold over JVM-computed token
    hashes (``simhash64_arrow`` — bit-identical to the ``simhash64``
    Column fold it is tested against); md5 runs the JVM fold (its cost is
    the md5 calls, and it exists for the oracle twin, not throughput)."""
    toks = tokens(normalized(F.col(text_col)))
    # persisted: the chunk self-join reads this twice, and the 64-lane
    # simhash vote fold is the expensive part — compute it once.
    if hash_family == "xx64":
        staged = df.select(
            F.col(id_col),
            F.transform(toks, lambda t: F.xxhash64(t)).alias("__th"),
        )
        sim_expr = simhash64_arrow()(F.col("__th"))
    else:
        staged = df.select(F.col(id_col), toks.alias("__toks"))
        sim_expr = simhash64(F.col("__toks"), hash_family)
    sigs = staged.select(F.col(id_col), sim_expr.alias("__sim")).persist()
    chunks = sigs.select(
        id_col,
        "__sim",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda j: F.struct(
                    j.alias("chunk_id"),
                    F.call_function("shiftrightunsigned", F.col("__sim"), j * 16)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("chunk_key"),
                ),
            )
        ).alias("c"),
    ).select(id_col, "__sim", "c.chunk_id", "c.chunk_key")
    a = chunks.select(
        "chunk_id", "chunk_key", F.col(id_col).alias("id_a"), F.col("__sim").alias("__sa")
    )
    b = chunks.select(
        "chunk_id", "chunk_key", F.col(id_col).alias("id_b"), F.col("__sim").alias("__sb")
    )
    ham = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        a.join(b, ["chunk_id", "chunk_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --- duplicate passage (span) detection -----------------------------------


def _span_hashes(text_col: str, k: int) -> Column:
    """md5 hash per positional k-token window — the shared span identity
    for duplicate_span_stats and source_overlap_matrix (one definition so
    the two operators can never silently diverge). NULL for null/short
    texts (callers explode, so those docs simply produce no spans).

    Window strings are zip_with-chained from k shifted slices (identical
    strings to ``concat_ws(slice(...))`` — split tokens are never NULL —
    at ~4× less interpreted-HOF cost; the ``word_shingles`` round-13
    A/B)."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    m = n - F.lit(k) + F.lit(1)
    sh = F.slice(toks, 1, m)
    for j in range(1, k):
        sh = F.zip_with(
            sh, F.slice(toks, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(
        F.col(text_col).isNotNull() & (n >= k),
        F.transform(sh, F.md5),
    )


def duplicate_span_stats(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, min_docs: int = 2
) -> DataFrame:
    """Cross-document duplicate-passage detection at k-token span
    granularity (the span analog of Lee et al. 2021's substring dedup):
    every positional k-token window is hashed (md5 — reproducible
    cross-engine); a span is *duplicated* when it occurs in at least
    ``min_docs`` distinct documents. Returns one row per input document:
    ``n_spans`` (token windows), ``n_dup`` (occurrences of duplicated
    spans) and ``dup_frac`` — the signal used to drop or trim
    boilerplate-heavy documents.

    Scale shape: one explode pass (linear in corpus tokens), a hash agg on
    ``(id, span_hash)`` with map-side combine, a hash agg on ``span_hash``
    (bounded by distinct-span count), and a join back on ``span_hash``
    that AQE co-partitions with the aggregation. No windows, no
    collect — everything is count-sketched per span hash, never the span
    text itself beyond the md5 input.
    """
    spans = _span_hashes(text_col, k)
    occ = df.select(F.col(id_col), F.explode(spans).alias("__h"))
    per = occ.groupBy(id_col, "__h").agg(F.count("*").alias("__n"))
    byh = per.groupBy("__h").agg(F.count("*").alias("__ndocs"))
    per_doc = (
        per.join(byh, "__h")
        .groupBy(id_col)
        .agg(
            F.sum("__n").alias("__spans"),
            F.sum(F.when(F.col("__ndocs") >= min_docs, F.col("__n")).otherwise(0)).alias(
                "__dup"
            ),
        )
    )
    n_spans = F.coalesce(F.col("__spans"), F.lit(0)).cast("long")
    n_dup = F.coalesce(F.col("__dup"), F.lit(0)).cast("long")
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            n_spans.alias("n_spans"),
            n_dup.alias("n_dup"),
            F.when(
                n_spans > 0, F.round(n_dup.cast("double") * 1.0 / n_spans, 6)
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def duplicate_span_oracle_sql(
    k: int = 8,
    min_docs: int = 2,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB CTE twin of ``duplicate_span_stats`` — identical md5 span
    hashes, counts and rounding, so the comparison is exact."""
    return f"""
    WITH toks AS (
      SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {table}
    ),
    g AS (
      SELECT {id_col}, unnest(range(1, len(t) - {k} + 2)) AS i, t
      FROM toks WHERE len(t) >= {k}
    ),
    occ AS (
      SELECT {id_col}, md5(array_to_string(t[i:i + {k - 1}], ' ')) AS h FROM g
    ),
    per AS (SELECT {id_col}, h, count(*) AS n FROM occ GROUP BY {id_col}, h),
    byh AS (SELECT h, count(*) AS n_docs FROM per GROUP BY h),
    pd AS (
      SELECT {id_col}, sum(n) AS n_spans,
             sum(CASE WHEN n_docs >= {min_docs} THEN n ELSE 0 END) AS n_dup
      FROM per JOIN byh USING (h) GROUP BY {id_col}
    )
    SELECT d.{id_col},
           CAST(coalesce(pd.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup,
           CASE WHEN coalesce(pd.n_spans, 0) > 0
                THEN round(pd.n_dup * 1.0 / pd.n_spans, 6) ELSE 0.0 END AS dup_frac
    FROM {table} d LEFT JOIN pd USING ({id_col})
    """


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 2,
    keep: str = "first",
    membership: str = "except",
) -> DataFrame:
    """Cross-document duplicate-passage *removal* at k-token span
    granularity — the deduplicate-text-spans step of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"), on the
    same positional md5 span identity as ``duplicate_span_stats`` (shared
    ``_span_hashes``, so detect and remove can never disagree about what
    a duplicated span is).

    A span (positional k-token window) is *duplicated* when it occurs in
    at least ``min_docs`` distinct documents. Every token position covered
    by a duplicated window is dropped from the rewritten text:

    - ``keep='first'``: the owner document (minimum id among those
      containing the span) keeps its copy; every other document drops the
      covered tokens. One copy of each duplicated passage survives.
    - ``keep='none'``: all occurrences are dropped (the trim-boilerplate
      mode — nav bars / license headers that should survive nowhere).

    Returns one row per input document: ``text_dedup`` (kept tokens
    space-joined; NULL text stays NULL; a fully-covered document becomes
    ``''``), ``n_tokens`` (pre-removal token count) and ``n_removed``
    (distinct covered positions dropped).

    Scale shape: one posexplode pass (linear in corpus tokens), a span
    hash agg bounded by distinct-span count, a hash join of occurrences
    against duplicated spans only, a coverage explode (×k of the *hit*
    rows, not the corpus), one per-document position-set agg (array
    bounded by document length — documents are chunk-bounded upstream, see
    operators/packing.py), and a map-side rewrite after a single join back
    on the id. No windows, no collect, no all-pairs anywhere; the rewrite
    itself is a pure Column expression over positions.
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    # one explicit __h exchange feeds BOTH consumers (the byh aggregate
    # and the hits join): without it their exchanges differ (partial-agg
    # map side vs join shuffle) so the corpus-sized window explode + md5
    # pass computes twice — and at scale, where byh outgrows the
    # broadcast threshold, it would also shuffle twice (guide §2.4;
    # round-13 A/B on the run-removal sibling: identical rows, 4.0 s ->
    # 2.1 s at sf0.1). No numPartitions argument, so AQE still sizes the
    # partition count.
    occ = df.select(
        F.col(id_col), F.posexplode(_span_hashes(text_col, k)).alias("__i", "__h")
    ).repartition("__h")
    byh = (
        occ.groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__nd"), F.min(id_col).alias("__own"))
        .filter(F.col("__nd") >= min_docs)
    )
    hits = occ.join(byh, "__h")
    if keep == "first":
        hits = hits.filter(F.col(id_col) != F.col("__own"))
    return _rewrite_without_covered(
        df, hits, text_col, id_col, k, membership=membership
    )


def remove_repeated_spans(
    df: DataFrame, text_col: str, id_col: str, k: int = 8,
    membership: str = "except",
) -> DataFrame:
    """WITHIN-document repetition removal at k-token span granularity: a
    window whose hash already occurred earlier in the SAME document (any
    occurrence after the per-document first, by position) has its covered
    token positions dropped — the first occurrence survives. The
    rewrite-level counterpart of the Gopher-style repetition *filters*
    (Rae et al. 2021 drop whole documents; this trims the loops and keeps
    the document), e.g. "p q r s p q r s" at k=4 rewrites to "p q r s".

    Same output contract as ``remove_duplicate_spans`` (``text_dedup`` /
    ``n_tokens`` / ``n_removed``) and the same span identity
    (``_span_hashes``).

    Scale shape: the duplicate-detection agg here is per ``(id, span)`` —
    it never crosses documents, so the shuffle key is as fine as the data
    and skew-free; everything else is shared with
    ``remove_duplicate_spans`` via ``_rewrite_without_covered``.
    """
    occ = df.select(
        F.col(id_col), F.posexplode(_span_hashes(text_col, k)).alias("__i", "__h")
    ).repartition(id_col, "__h")
    # ^ shared (id, __h) exchange for the firsts aggregate and the hits
    # join — the remove_duplicate_spans rationale, on this operator's
    # finer skew-free key
    firsts = occ.groupBy(id_col, "__h").agg(F.min("__i").alias("__fi"))
    hits = occ.join(firsts, [id_col, "__h"]).filter(F.col("__i") > F.col("__fi"))
    return _rewrite_without_covered(
        df, hits, text_col, id_col, k, membership=membership
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n\n",
    min_docs: int = 2,
    keep: str = "first",
) -> DataFrame:
    """Cross-corpus EXACT dedup at paragraph granularity — the
    paragraph-hash variant of Lee et al. 2021's exact-substring
    deduplication (their suffix-array pass removes variable-length exact
    substrings; splitting on a structural separator and hashing whole
    paragraphs is the SQL-expressible fixed-boundary form real pipelines
    ship first — cf. CCNet/RefinedWeb paragraph dedup).

    A paragraph (a ``sep``-delimited segment, boundaries intact) is
    *duplicated* when its exact text occurs in ≥ ``min_docs`` distinct
    documents. ``keep='first'``: the minimum-id document keeps its copy,
    every other document drops that paragraph; ``keep='none'`` drops all
    occurrences (boilerplate mode). Documents are rebuilt from their
    surviving paragraphs in order, re-joined with ``sep``.

    Returns (id, text_dedup, n_paragraphs, n_removed) — the
    ``remove_duplicate_spans`` contract with the unit renamed (a
    paragraph is a k=1 "span" over the paragraph list, so the whole tail
    — coverage agg, join-back, order-preserving rewrite — is shared via
    ``_rewrite_without_covered``).

    Scale shape: one posexplode linear in corpus paragraphs; the
    duplicate agg is bounded by distinct paragraph hashes (md5 of the
    paragraph — the text itself never rides the shuffle); the hit join
    touches duplicated paragraphs only; the rewrite is map-side after
    one id join. No windows, no collect, no all-pairs."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    occ = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("__i", "__para"),
    ).select(F.col(id_col), F.col("__i"), F.md5(F.col("__para")).alias("__h"))
    byh = (
        occ.groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__nd"), F.min(id_col).alias("__own"))
        .filter(F.col("__nd") >= min_docs)
    )
    hits = occ.join(byh, "__h")
    if keep == "first":
        hits = hits.filter(F.col(id_col) != F.col("__own"))
    return _rewrite_without_covered(
        df, hits, text_col, id_col, k=1, sep=sep
    ).withColumnRenamed("n_tokens", "n_paragraphs")


def paragraph_dedup_oracle_sql(
    sep: str = "\n\n",
    min_docs: int = 2,
    keep: str = "first",
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB CTE twin of ``paragraph_dedup`` — literal ``string_split``
    (matching the Spark side's \\Q-quoted pattern), identical md5
    paragraph identity, owner rule and order-preserving rewrite.
    ``array_to_string([])`` is NULL in DuckDB where Spark's
    ``array_join`` gives ``''``, hence the coalesce on the fully-covered
    edge."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    sq = sep.replace("'", "''")
    owner_filter = f"AND o.{id_col} <> b.own" if keep == "first" else ""
    return f"""
    WITH paras AS (
      SELECT {id_col}, {text_col} AS __txt,
             string_split({text_col}, '{sq}') AS ps
      FROM {table}
    ),
    occ AS (
      SELECT {id_col}, unnest(range(1, len(ps) + 1)) AS i, ps
      FROM paras
    ),
    oh AS (SELECT {id_col}, i, md5(ps[i]) AS h FROM occ),
    byh AS (
      SELECT h, count(DISTINCT {id_col}) AS nd, min({id_col}) AS own
      FROM oh GROUP BY h
    ),
    cov AS (
      SELECT DISTINCT o.{id_col}, o.i AS p
      FROM oh o JOIN byh b USING (h)
      WHERE b.nd >= {min_docs} {owner_filter}
    ),
    cl AS (SELECT {id_col}, list(p) AS cov FROM cov GROUP BY {id_col}),
    o2 AS (
      SELECT t.{id_col}, t.__txt, t.ps, coalesce(cl.cov, []) AS cov
      FROM paras t LEFT JOIN cl USING ({id_col})
    )
    SELECT {id_col},
           CASE WHEN __txt IS NULL THEN NULL
                ELSE coalesce(array_to_string(
                  list_filter(list_transform(range(1, len(ps) + 1),
                    i -> CASE WHEN list_contains(cov, i) THEN NULL ELSE ps[i] END),
                    x -> x IS NOT NULL), '{sq}'), '') END AS text_dedup,
           CAST(CASE WHEN __txt IS NULL THEN 0 ELSE len(ps) END AS BIGINT)
             AS n_paragraphs,
           CAST(len(cov) AS BIGINT) AS n_removed
    FROM o2
    """


def _rewrite_without_covered(
    df: DataFrame,
    hits: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    sep: str = " ",
    membership: str = "except",
) -> DataFrame:
    """Shared tail of the span-removal operators: expand hit windows
    (rows with ``id_col`` and a 0-based window start ``__i``) to their
    covered token positions, union them per document, and rewrite the
    text keeping only uncovered positions. One coverage explode (×k of
    the hit rows only), one per-document position-set agg, one join back
    on the id, then a pure-Column map-side rewrite.

    ``membership='except'`` (default) computes the kept positions as
    ``array_except(sequence(0, n-1), cov)`` — one hash-set build over the
    covered list, O(n + |cov|) per document; ``'contains'`` is the
    original per-token ``array_contains`` scan, O(n·|cov|), kept as the
    differential twin (round-7 verdict item 6). Both lanes bit-identical:
    array_except preserves first-array order and positions are unique.

    ``sep`` generalizes the unit from space-joined tokens to any literal
    separator (``paragraph_dedup`` passes its paragraph separator; the
    split pattern is \\Q-quoted so regex metacharacters split literally,
    matching DuckDB's literal ``string_split``)."""
    if membership not in ("except", "contains"):
        raise ValueError(
            f"membership must be 'except' or 'contains', got {membership!r}"
        )
    cov = (
        hits.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("__i"), F.col("__i") + F.lit(k - 1))
            ).alias("__p"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("__p")).alias("__cov"))
    )
    toks = F.split(F.col(text_col), "\\Q" + sep + "\\E")
    n = F.size(toks)
    covc = F.coalesce(F.col("__cov"), F.array().cast("array<int>"))
    if membership == "except":
        kept = F.transform(
            F.array_except(F.sequence(F.lit(0), n - F.lit(1)), covc),
            lambda p: F.element_at(toks, p + 1),
        )
    else:
        kept = F.filter(
            F.transform(
                F.sequence(F.lit(0), n - F.lit(1)),
                lambda i: F.when(
                    F.array_contains(covc, i), F.lit(None).cast("string")
                ).otherwise(F.element_at(toks, i + 1)),
            ),
            lambda x: x.isNotNull(),
        )
    return df.join(cov, id_col, "left").select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        # uncovered document (no hits — the common case): the rewrite is
        # the identity, and split-then-array_join with the same literal
        # separator reproduces the text byte-for-byte, so skip the
        # per-token element_at rebuild entirely (interpreted-HOF
        # element_at is the dominant per-row cost — round 13)
        .when(F.size(covc) == 0, F.col(text_col))
        .otherwise(F.array_join(kept, sep))
        .alias("text_dedup"),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(n)
        .cast("long")
        .alias("n_tokens"),
        F.coalesce(F.size("__cov"), F.lit(0)).cast("long").alias("n_removed"),
    )


def span_removal_oracle_sql(
    k: int = 8,
    min_docs: int = 2,
    keep: str = "first",
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB CTE twin of ``remove_duplicate_spans`` — identical md5 span
    hashes, owner rule and position coverage (1-based list positions on
    the DuckDB side, same covered set). ``array_to_string([])`` is NULL in
    DuckDB where Spark's ``array_join`` gives ``''``, hence the coalesce
    on the fully-covered edge."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    owner_filter = f"WHERE o.{id_col} <> d.owner" if keep == "first" else ""
    cov = f"""byh AS (
      SELECT h, count(DISTINCT {id_col}) AS nd, min({id_col}) AS owner
      FROM occ GROUP BY h
    ),
    dup AS (SELECT h, owner FROM byh WHERE nd >= {min_docs}),
    cov AS (
      SELECT DISTINCT o.{id_col}, unnest(range(o.i, o.i + {k})) AS p
      FROM occ o JOIN dup d USING (h) {owner_filter}
    )"""
    return _span_rewrite_sql(cov, k, table, text_col, id_col)


def repeated_span_oracle_sql(
    k: int = 8,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB CTE twin of ``remove_repeated_spans`` — per-document first
    occurrence by position survives, later same-hash windows are covered."""
    cov = f"""firsts AS (
      SELECT {id_col}, h, min(i) AS fi FROM occ GROUP BY {id_col}, h
    ),
    cov AS (
      SELECT DISTINCT o.{id_col}, unnest(range(o.i, o.i + {k})) AS p
      FROM occ o JOIN firsts f USING ({id_col}, h)
      WHERE o.i > f.fi
    )"""
    return _span_rewrite_sql(cov, k, table, text_col, id_col)


def _span_rewrite_sql(
    cov_ctes: str, k: int, table: str, text_col: str, id_col: str
) -> str:
    """Shared head/tail of the span-removal oracles: positional md5 span
    occurrences in (1-based DuckDB list positions), the caller's coverage
    CTEs in the middle (must end with ``cov({id_col}, p)``), and the
    uncovered-positions rewrite out. ``array_to_string([])`` is NULL in
    DuckDB where Spark's ``array_join`` gives ``''``, hence the coalesce
    on the fully-covered edge."""
    return f"""
    WITH toks AS (
      SELECT {id_col}, {text_col} AS __txt, string_split({text_col}, ' ') AS t
      FROM {table}
    ),
    g AS (
      SELECT {id_col}, unnest(range(1, len(t) - {k} + 2)) AS i, t
      FROM toks WHERE len(t) >= {k}
    ),
    occ AS (
      SELECT {id_col}, i, md5(array_to_string(t[i:i + {k - 1}], ' ')) AS h FROM g
    ),
    {cov_ctes},
    cl AS (SELECT {id_col}, list(p) AS cov FROM cov GROUP BY {id_col}),
    o2 AS (
      SELECT t.{id_col}, t.__txt, t.t, coalesce(cl.cov, []) AS cov
      FROM toks t LEFT JOIN cl USING ({id_col})
    )
    SELECT {id_col},
           CASE WHEN __txt IS NULL THEN NULL
                ELSE coalesce(array_to_string(
                  list_filter(list_transform(range(1, len(t) + 1),
                    i -> CASE WHEN list_contains(cov, i) THEN NULL ELSE t[i] END),
                    x -> x IS NOT NULL), ' '), '') END AS text_dedup,
           CAST(CASE WHEN __txt IS NULL THEN 0 ELSE len(t) END AS BIGINT) AS n_tokens,
           CAST(len(cov) AS BIGINT) AS n_removed
    FROM o2
    """


def source_overlap_matrix(
    df: DataFrame,
    text_col: str,
    group_col: str,
    k: int = 8,
) -> DataFrame:
    """Pairwise source-overlap diagnostic: for every pair of groups
    (sources), the number of distinct k-token spans both contain — the
    curation heatmap answering "how much does crawl A duplicate crawl B"
    before mixing them.

    Shape: spans hashed as in ``duplicate_span_stats``, reduced to
    distinct (group, span) rows (first agg bounds everything downstream by
    corpus vocabulary, not corpus size), then a self-equi-join on the span
    hash with ``group_a < group_b`` and a count per pair. Output is at
    most |groups|² rows."""
    spans = _span_hashes(text_col, k)
    gs = (
        df.select(F.col(group_col).alias("__g"), F.explode(spans).alias("__h"))
        .distinct()
    )
    a = gs.select(F.col("__g").alias("group_a"), "__h")
    b = gs.select(F.col("__g").alias("group_b"), "__h")
    return (
        a.join(b, "__h")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count("*").alias("shared_spans"))
    )


def cross_corpus_neardup(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    hash_family: str = "xx64",
) -> DataFrame:
    """Near-dup pairs ACROSS two corpora, never within one: "does this
    new crawl duplicate my existing training set (or my eval set)?" —
    the decontamination join run before a new source is mixed in.

    Returns (new_id, ref_id, jaccard ≥ threshold). Same MinHash-LSH
    machinery as ``near_dup_pairs_minhash`` (shared ``_minhash_
    signatures``), but candidates come from a new×ref equi-join on
    (band_id, band_key) instead of a within-corpus pair expansion — the
    quadratic within-side blowup a degenerate bucket would cause simply
    cannot happen, and each side's hot buckets are still capped at
    ``MAX_BUCKET`` members before the join (bounded join fan-out of
    MAX_BUCKET² per bucket worst-case; documented recall trade, exactly
    the within-corpus cap's contract).

    Scale shape: ref signatures/bands are typically computed once and
    reused across many new-crawl checks — persist or write out the ref
    banded table and hand it to repeated calls via ``ref_banded`` in a
    follow-up; here both sides stage fresh (one linear pass each). The
    two banded tables stay persisted for the life of the returned lazy
    (data-dependent-size) DataFrame — there is no safe in-function
    unpersist point; they are attached to the result via
    ``functions.caching.attach_stages`` so long-lived sessions can call
    ``release_stages(result)`` after consuming it. Cluster deployments
    should write the ref banded table out instead of caching it."""
    from csvtool_spark.functions.caching import attach_stages
    rows = n_hashes // bands
    band_hash = "string" if hash_family == "md5" else "xx64"
    b_new = _banded(
        _minhash_signatures(new_df, text_col, id_col, n_hashes, shingle_k,
                            hash_family),
        id_col, "__sig", bands, rows, band_hash,
    ).persist()
    b_ref = _banded(
        _minhash_signatures(ref_df, text_col, id_col, n_hashes, shingle_k,
                            hash_family),
        id_col, "__sig", bands, rows, band_hash,
    ).persist()

    def capped(b: DataFrame) -> DataFrame:
        sizes = b.groupBy("band_id", "band_key").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        return b.join(
            sizes.filter(F.col("__bn") <= MAX_BUCKET), ["band_id", "band_key"]
        ).drop("__bn")

    cand = (
        capped(b_new).select("band_id", "band_key", F.col(id_col).alias("new_id"))
        .join(
            capped(b_ref).select(
                "band_id", "band_key", F.col(id_col).alias("ref_id")
            ),
            ["band_id", "band_key"],
        )
        .select("new_id", "ref_id")
        .distinct()
    )
    tn = new_df.select(
        F.col(id_col).alias("new_id"),
        tokens(normalized(F.col(text_col))).alias("__ta"),
    )
    tr = ref_df.select(
        F.col(id_col).alias("ref_id"),
        tokens(normalized(F.col(text_col))).alias("__tb"),
    )
    return attach_stages(
        cand.join(tn, "new_id")
        .join(tr, "ref_id")
        .select("new_id", "ref_id",
                jaccard(F.col("__ta"), F.col("__tb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold),
        [b_new, b_ref],
    )


# --- LSH recall evaluation -------------------------------------------------


def minhash_recall_eval(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.4,
    sample_frac: float = 0.5,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    salt: str = "mre",
    hash_family: str = "md5",
) -> DataFrame:
    """recall of MinHash-LSH banding against EXACT shingle-Jaccard ground
    truth, on a deterministic document sample — the dedup twin of
    ``similarity.ann_recall_eval`` (how many true near-dup pairs does
    this bands×rows configuration actually surface on THIS corpus?).

    Ground truth is all sampled pairs with exact distinct-SHINGLE Jaccard
    ≥ ``threshold`` (``ngram_jaccard_pairs`` at ``shingle_k`` — the
    similarity the MinHash signatures estimate and the banding s-curve is
    stated over, so the measured recall is directly comparable to the
    theoretical ``1 - (1 - j^rows)^bands``); found is the banded
    candidate set intersected with that truth, so found ⊆ truth and the
    single output row (n_true, n_found, recall) isolates exactly what
    banding loses — candidate-generation misses, not verify policy.

    The exact ground truth is the quadratic part, which is WHY the
    operator evaluates a ``sample_frac`` md5-coin sample (pure function
    of ``salt # id`` — reproducible, and the DuckDB oracle replays it):
    tune banding on the sample, run the tuned config on the corpus.
    Both counts come from ONE pass over the truth set (truth LEFT JOIN
    candidates — the expensive exact-pair plan never evaluates twice),
    and every persisted stage — the sampled projection plus the child
    operators' shingle and banded stages — is attached to the result for
    ``release_stages`` (the tuning loop calls this repeatedly on a
    long-lived session; leaked corpus-sized caches are the round-4
    ADVICE class).
    """
    from csvtool_spark.functions.caching import attach_stages
    from csvtool_spark.functions.hashing import md5_prefix_long

    if not 0.0 < sample_frac <= 1.0:
        raise ValueError(
            f"minhash_recall_eval: sample_frac must be in (0, 1], got {sample_frac}"
        )
    if bands < 1 or n_hashes % bands != 0:
        raise ValueError(
            f"minhash_recall_eval: n_hashes ({n_hashes}) must be a positive "
            f"multiple of bands ({bands}) — rows-per-band would be "
            f"truncated and the engine/oracle pipelines would diverge"
        )
    rows = n_hashes // bands
    coin = md5_prefix_long(
        F.concat_ws("#", F.lit(salt), F.col(id_col).cast("string"))
    )
    sample = df.filter(coin < F.lit(int(sample_frac * 4294967296))).select(
        id_col, text_col
    ).persist()

    truth = ngram_jaccard_pairs(
        sample, text_col, id_col, threshold=threshold, k=shingle_k
    )
    sigs = _minhash_signatures(
        sample, text_col, id_col, n_hashes, shingle_k, hash_family
    )
    band_hash = "string" if hash_family == "md5" else "xx64"
    cand = candidate_pairs(
        _banded(sigs, id_col, "__sig", bands, rows, band_hash), id_col
    )

    hit = truth.select("id_a", "id_b").join(
        cand.withColumn("__hit", F.lit(1)), ["id_a", "id_b"], "left"
    )
    return attach_stages(
        hit.agg(
            F.count(F.lit(1)).alias("__nt"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__nf"),
        ).select(
            F.col("__nt").cast("long").alias("n_true"),
            F.col("__nf").cast("long").alias("n_found"),
            F.when(
                F.col("__nt") > 0,
                F.col("__nf").cast("double") / F.col("__nt").cast("double"),
            ).alias("recall"),
        ),
        [sample]
        + getattr(truth, "_persisted_stages", [])
        + getattr(cand, "_persisted_stages", []),
    )


def shingle_cte_sql(
    table: str = "documents",
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """The shared DuckDB ``toks``+``sh`` CTE pair (tokenize → distinct
    k-word shingles, short docs one whole-text shingle) — the SQL twin of
    ``word_shingles``; consumed by the q_dedup_ngram / q_dedup_minhash_det
    / cross-dedup / recall-eval oracles so there is ONE definition.

    ``WHERE t IS NOT NULL`` mirrors ``word_shingles``' null guard: a
    null-text doc produces NO shingle rows (and so no pairs) in either
    engine — without it, md5 over the ``[NULL]`` placeholder shingle
    raises ``CAST('0x' AS BIGINT)`` errors downstream where the Spark
    side just emits no pairs."""
    return f"""
    toks AS (SELECT {id_col} AS doc_id, string_split(lower(trim({text_col})), ' ') AS t
             FROM {table}),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= {int(k)} THEN
               list_distinct(list_transform(range(0, len(t) - {int(k) - 1}),
                 i -> array_to_string(t[i+1:i+{int(k)}], ' ')))
             ELSE [array_to_string(t, ' ')] END AS sh
      FROM toks WHERE t IS NOT NULL
    )"""


def minhash_recall_oracle_sql(
    threshold: float = 0.4,
    sample_frac: float = 0.5,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    salt: str = "mre",
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of ``minhash_recall_eval`` (md5 lane only): the same
    coin sample, the q_dedup_minhash_det signature/band pipeline over the
    sample, and an all-pairs exact SHINGLE-Jaccard truth set (the
    similarity the banding s-curve is stated over)."""
    if bands < 1 or n_hashes % bands != 0:
        raise ValueError(
            f"minhash_recall_oracle_sql: n_hashes ({n_hashes}) must be a "
            f"positive multiple of bands ({bands})"
        )
    rows = n_hashes // bands
    thr = int(sample_frac * 4294967296)
    salt_sql = salt.replace("'", "''")
    jacc = """round(CAST(len(list_intersect(x.ts, y.ts)) AS DOUBLE)
             / (CASE WHEN len(list_distinct(list_concat(x.ts, y.ts))) > 0
                     THEN CAST(len(list_distinct(list_concat(x.ts, y.ts))) AS DOUBLE)
                END), 6)"""
    return f"""
    WITH smp AS (
      SELECT {id_col}, {text_col} FROM {table}
      WHERE CAST(concat('0x', substr(md5('{salt_sql}#' ||
              CAST({id_col} AS VARCHAR)), 1, 8)) AS BIGINT) < {thr}
    ),
    {shingle_cte_sql("smp", shingle_k, text_col, id_col)},
    hs AS (
      SELECT doc_id,
             list_transform(sh, s -> {{
               'h1': CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT),
               'h2': CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT)}}) AS hs
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
             list_transform(range(0, {n_hashes}), i ->
               list_min(list_transform(hs,
                 h -> (h.h1 + i * (h.h2 | 1)) % 4294967296))) AS sig
      FROM hs
    ),
    bands AS (
      SELECT doc_id, b AS band_id,
             array_to_string(list_transform(sig[b*{rows} + 1 : b*{rows} + {rows}],
               x -> CAST(x AS VARCHAR)), ',') AS band_key
      FROM sig, unnest(generate_series(0, {bands - 1})) AS u(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    shset AS (SELECT doc_id, sh AS ts FROM sh),
    truth AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM shset x JOIN shset y ON x.doc_id < y.doc_id
      WHERE {jacc} >= {threshold!r}e0
    ),
    fi AS (SELECT CAST(count(*) AS BIGINT) AS n_found
           FROM cand JOIN truth USING (id_a, id_b))
    SELECT CAST(t.n_true AS BIGINT) AS n_true, fi.n_found,
           CASE WHEN t.n_true > 0
                THEN CAST(fi.n_found AS DOUBLE) / CAST(t.n_true AS DOUBLE)
           END AS recall
    FROM (SELECT count(*) AS n_true FROM truth) t, fi
    """

def minhash_pairs_cte_sql(
    table: str = "documents",
    threshold: float = 0.4,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB CTE chain (NO leading WITH) ending in
    ``mh_pairs(id_a, id_b, jaccard)`` — the md5-lane MinHash-LSH pipeline
    of ``near_dup_pairs_minhash(hash_family='md5')`` over ``table``:
    Kirsch-Mitzenmacher lane minima → ``bands`` string band keys → band
    equi-join candidates → exact token-set Jaccard verify ≥ threshold.
    Same arithmetic as the q_dedup_minhash_det inline oracle
    (scale_queries.py) — this parameterized form exists for consumers
    that need the pair set over a DERIVED relation (the dialect
    ``neardup`` pipe stage anti-joins against it). Like that oracle it
    carries no MAX_BUCKET cap: valid at oracle scale, where no band
    bucket can reach the cap."""
    if bands < 1 or n_hashes % bands != 0:
        raise ValueError(
            f"minhash_pairs_cte_sql: n_hashes ({n_hashes}) must be a "
            f"positive multiple of bands ({bands})"
        )
    rows = n_hashes // bands
    jacc = """round(CAST(len(list_intersect(x.ts, y.ts)) AS DOUBLE)
             / (CASE WHEN len(list_distinct(list_concat(x.ts, y.ts))) > 0
                     THEN CAST(len(list_distinct(list_concat(x.ts, y.ts))) AS DOUBLE)
                END), 6)"""
    return f"""
    {shingle_cte_sql(table, shingle_k, text_col, id_col)},
    mh_hs AS (
      SELECT doc_id,
             list_transform(sh, s -> {{
               'h1': CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT),
               'h2': CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT)}}) AS hs
      FROM sh
    ),
    mh_sig AS (
      SELECT doc_id,
             list_transform(range(0, {n_hashes}), i ->
               list_min(list_transform(hs,
                 h -> (h.h1 + i * (h.h2 | 1)) % 4294967296))) AS sig
      FROM mh_hs
    ),
    mh_bands AS (
      SELECT doc_id, b AS band_id,
             array_to_string(list_transform(sig[b*{rows} + 1 : b*{rows} + {rows}],
               x -> CAST(x AS VARCHAR)), ',') AS band_key
      FROM mh_sig, unnest(generate_series(0, {bands - 1})) AS u(b)
    ),
    mh_cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mh_bands a JOIN mh_bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    mh_tokset AS (SELECT doc_id, list_distinct(t) AS ts FROM toks),
    mh_pairs AS (
      SELECT c.id_a, c.id_b, {jacc} AS jaccard
      FROM mh_cand c JOIN mh_tokset x ON x.doc_id = c.id_a
                     JOIN mh_tokset y ON y.doc_id = c.id_b
      WHERE {jacc} >= {threshold!r}e0
    )"""

def duplicate_run_stats(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, min_docs: int = 2
) -> DataFrame:
    """Variable-length duplicated-substring diagnostic (the run-level
    view Lee et al. 2021's suffix-array dedup acts on, derived from the
    k-window span family): consecutive duplicated k-window positions in a
    document merge into maximal RUNS — a run of w consecutive positions
    is a duplicated substring of ``w + k - 1`` tokens. Returns one row
    per input document: ``n_runs`` (maximal duplicated runs),
    ``n_dup_positions`` (duplicated window positions) and
    ``longest_run_tokens`` (the longest duplicated substring, 0 when
    none) — the evidence for choosing between span REMOVAL
    (``remove_duplicate_spans``) and whole-document drops.

    Scale shape: the duplicated-position set comes from the
    ``duplicate_span_stats`` aggregates (explode linear in tokens, span
    agg bounded by distinct spans); islands come from the classic
    ``pos - row_number()`` trick under a PER-DOCUMENT window — bounded
    partitions (document length), never a global sort. No collect, no
    all-pairs."""
    from pyspark.sql import Window

    spans = _span_hashes(text_col, k)
    occ = df.select(
        F.col(id_col), F.posexplode(spans).alias("__p", "__h")
    )
    byh = (
        occ.select(id_col, "__h")
        .distinct()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__ndocs"))
        .filter(F.col("__ndocs") >= min_docs)
        .select("__h")
    )
    dup_pos = occ.join(byh, "__h").select(id_col, "__p")
    w = Window.partitionBy(id_col).orderBy("__p")
    runs = (
        dup_pos.withColumn("__isl", F.col("__p") - F.row_number().over(w))
        .groupBy(id_col, "__isl")
        .agg(
            F.min("__p").alias("__lo"),
            F.max("__p").alias("__hi"),
            F.count(F.lit(1)).alias("__w"),
        )
    )
    per_doc = runs.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__runs"),
        F.sum("__w").alias("__npos"),
        F.max(F.col("__hi") - F.col("__lo") + F.lit(k)).alias("__longest"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("__runs", F.lit(0)).cast("long").alias("n_runs"),
            F.coalesce("__npos", F.lit(0)).cast("long").alias("n_dup_positions"),
            F.coalesce("__longest", F.lit(0)).cast("long").alias(
                "longest_run_tokens"
            ),
        )
    )


def duplicate_run_oracle_sql(
    k: int = 8,
    min_docs: int = 2,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of ``duplicate_run_stats`` — same md5 span identity
    (duplicate_span_oracle_sql's CTEs), same pos - row_number() islands."""
    return f"""
    WITH toks AS (
      SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {table}
    ),
    g AS (
      SELECT {id_col}, unnest(range(1, len(t) - {k} + 2)) AS i, t
      FROM toks WHERE len(t) >= {k}
    ),
    occ AS (
      SELECT {id_col}, i, md5(array_to_string(t[i:i + {k - 1}], ' ')) AS h
      FROM g
    ),
    byh AS (
      SELECT h FROM (SELECT DISTINCT {id_col}, h FROM occ)
      GROUP BY h HAVING count(*) >= {min_docs}
    ),
    dp AS (SELECT occ.{id_col}, occ.i FROM occ JOIN byh USING (h)),
    isl AS (
      SELECT {id_col}, i,
             i - row_number() OVER (PARTITION BY {id_col} ORDER BY i) AS g
      FROM dp
    ),
    runs AS (
      SELECT {id_col}, g, min(i) AS lo, max(i) AS hi, count(*) AS w
      FROM isl GROUP BY {id_col}, g
    ),
    pd AS (
      SELECT {id_col}, count(*) AS n_runs, sum(w) AS npos,
             max(hi - lo + {k}) AS longest
      FROM runs GROUP BY {id_col}
    )
    SELECT d.{id_col},
           CAST(coalesce(pd.n_runs, 0) AS BIGINT) AS n_runs,
           CAST(coalesce(pd.npos, 0) AS BIGINT) AS n_dup_positions,
           CAST(coalesce(pd.longest, 0) AS BIGINT) AS longest_run_tokens
    FROM {table} d LEFT JOIN pd USING ({id_col})
    """

def remove_duplicate_runs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 2,
    min_run_tokens: int = 20,
    keep: str = "first",
    membership: str = "except",
    verify_exact: bool = True,
) -> DataFrame:
    """Duplicate-substring removal restricted to LONG matches — the form
    Lee et al. 2021 actually apply (drop exact duplicated substrings of
    at least L tokens; their suffix-array pipeline uses L=50):
    duplicated k-window positions merge into maximal runs
    (``duplicate_run_stats``'s islands) and only runs spanning
    ``min_run_tokens`` or more tokens are removed — a shared license
    header goes, a merely-common k-gram stays (the over-trimming
    ``remove_duplicate_spans`` cannot avoid at small k).

    ``verify_exact=True`` (default) adds the exactness lane (round-8
    verdict item 1). Islands of duplicated windows are only CANDIDATE
    runs: two DISTINCT shared substrings closer than k tokens (their
    straddle windows duplicated via a third document) weld into one
    island whose full text repeats NOWHERE — the window evidence alone
    over-removes. So each candidate run is verified by re-hashing its
    FULL token slice and requiring that exact text to recur as a
    candidate run in ≥ min_docs documents (group by run hash,
    countDistinct ids); unverified runs are conservatively KEPT.
    keep='first' then spares the min-id member of each verified run
    group. Deliberate approximation, documented: verification is
    against candidate runs, not all substrings — a true ≥L repeat whose
    copy in another document is welded into a longer island there is
    kept (suffix-array exactness is out of scope; the bias is always
    toward keeping text, never removing unshared text).

    ``verify_exact=False`` is the pure window lane (keep='first' drops
    windows whose min-id owner is this document BEFORE islands form) —
    cheaper by one id-keyed join + run-sized agg, kept as the
    differential twin.

    Scale shape follows the span family: one posexplode pass, window agg
    bounded by distinct spans, islands one exchange on the id; the
    exactness lane adds one join back to the token arrays (id-keyed,
    run-count rows — AQE picks broadcast when few runs survive) and one
    agg bounded by the CANDIDATE RUN count, then the shared
    ``_rewrite_without_covered`` tail."""
    from pyspark.sql import Window

    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    occ = df.select(
        F.col(id_col), F.posexplode(_span_hashes(text_col, k)).alias("__i", "__h")
    ).repartition("__h")
    # ^ shared __h exchange — the remove_duplicate_spans rationale
    # (explode+md5 once, shuffle once; A/B: identical rows, prefix
    # 4.0 s -> 2.1 s at sf0.1, guide §2.4)
    byh = (
        occ.groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__nd"), F.min(id_col).alias("__own"))
        .filter(F.col("__nd") >= min_docs)
    )
    hits = occ.join(byh, "__h")
    if not verify_exact and keep == "first":
        hits = hits.filter(F.col(id_col) != F.col("__own"))
    wr = Window.partitionBy(id_col).orderBy("__i")
    isl = hits.select(id_col, "__i").withColumn(
        "__isl", F.col("__i") - F.row_number().over(wr)
    )
    if not verify_exact:
        wb = Window.partitionBy(id_col, "__isl")
        long_hits = (
            isl.withColumn("__lo", F.min("__i").over(wb))
            .withColumn("__hi", F.max("__i").over(wb))
            .filter(F.col("__hi") - F.col("__lo") + F.lit(k) >= min_run_tokens)
            .select(id_col, "__i")
        )
        return _rewrite_without_covered(
            df, long_hits, text_col, id_col, k, membership=membership
        )
    runs = (
        isl.groupBy(id_col, "__isl")
        .agg(F.min("__i").alias("__lo"), F.max("__i").alias("__hi"))
        .filter(F.col("__hi") - F.col("__lo") + F.lit(k) >= min_run_tokens)
        .select(id_col, "__lo", "__hi")
    )
    # re-hash the FULL run slice (0-based window lo..hi covers tokens
    # lo..hi+k-1 → 1-based slice start lo+1, length hi-lo+k)
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__t"))
    rh = runs.join(toks, id_col).select(
        F.col(id_col),
        "__lo",
        "__hi",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    "__t",
                    F.col("__lo") + F.lit(1),
                    F.col("__hi") - F.col("__lo") + F.lit(k),
                ),
            )
        ).alias("__rh"),
    )
    ver = (
        rh.select(F.col(id_col), "__rh")
        .distinct()
        .groupBy("__rh")
        .agg(F.count(F.lit(1)).alias("__vn"), F.min(id_col).alias("__own"))
        .filter(F.col("__vn") >= min_docs)
    )
    sel = rh.join(ver.select("__rh", "__own"), "__rh")
    if keep == "first":
        sel = sel.filter(F.col(id_col) != F.col("__own"))
    long_hits = sel.select(
        F.col(id_col), F.explode(F.sequence("__lo", "__hi")).alias("__i")
    )
    return _rewrite_without_covered(
        df, long_hits, text_col, id_col, k, membership=membership
    )


def run_removal_oracle_sql(
    k: int = 8,
    min_docs: int = 2,
    min_run_tokens: int = 20,
    keep: str = "first",
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    verify_exact: bool = True,
) -> str:
    """DuckDB twin of ``remove_duplicate_runs`` — the span-removal occ
    CTEs plus the island/bounds filter (and, for the default
    ``verify_exact`` lane, the full-run re-hash + run-group
    verification), into the shared rewrite tail."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    if verify_exact:
        owner_filter = f"WHERE r.{id_col} <> v.owner" if keep == "first" else ""
        cov = f"""byh AS (
      SELECT h FROM (SELECT DISTINCT {id_col}, h FROM occ)
      GROUP BY h HAVING count(*) >= {min_docs}
    ),
    hit AS (SELECT o.{id_col}, o.i FROM occ o JOIN byh USING (h)),
    isl AS (
      SELECT {id_col}, i,
             i - row_number() OVER (PARTITION BY {id_col} ORDER BY i) AS g
      FROM hit
    ),
    rb0 AS (
      SELECT {id_col}, min(i) AS lo, max(i) AS hi
      FROM isl GROUP BY {id_col}, g
      HAVING max(i) - min(i) + {k} >= {min_run_tokens}
    ),
    rh AS (
      SELECT rb0.{id_col}, lo, hi,
             md5(array_to_string(t[lo:hi + {k - 1}], ' ')) AS rhash
      FROM rb0 JOIN toks USING ({id_col})
    ),
    ver AS (
      SELECT rhash, min({id_col}) AS owner
      FROM (SELECT DISTINCT {id_col}, rhash FROM rh)
      GROUP BY rhash HAVING count(*) >= {min_docs}
    ),
    rb AS (
      SELECT r.{id_col}, lo, hi FROM rh r JOIN ver v USING (rhash)
      {owner_filter}
    ),
    cov AS (
      SELECT DISTINCT {id_col}, unnest(range(lo, hi + {k})) AS p FROM rb
    )"""
        return _span_rewrite_sql(cov, k, table, text_col, id_col)
    owner_filter = f"WHERE o.{id_col} <> d.owner" if keep == "first" else ""
    cov = f"""byh AS (
      SELECT h, count(DISTINCT {id_col}) AS nd, min({id_col}) AS owner
      FROM occ GROUP BY h
    ),
    dup AS (SELECT h, owner FROM byh WHERE nd >= {min_docs}),
    hit AS (SELECT o.{id_col}, o.i FROM occ o JOIN dup d USING (h) {owner_filter}),
    isl AS (
      SELECT {id_col}, i,
             i - row_number() OVER (PARTITION BY {id_col} ORDER BY i) AS g
      FROM hit
    ),
    rb AS (
      SELECT {id_col}, min(i) AS lo, max(i) AS hi
      FROM isl GROUP BY {id_col}, g
      HAVING max(i) - min(i) + {k} >= {min_run_tokens}
    ),
    cov AS (
      SELECT DISTINCT {id_col}, unnest(range(lo, hi + {k})) AS p FROM rb
    )"""
    return _span_rewrite_sql(cov, k, table, text_col, id_col)
