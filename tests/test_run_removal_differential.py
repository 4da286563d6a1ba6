"""Randomized differentials for the round-9 algorithms against
INDEPENDENT pure-Python reimplementations of their documented semantics
— a third engine, so a shared SQL-shape mistake in the DuckDB twins
cannot hide a bug (the test_differential.py pattern).

Tiny vocabularies force heavy window collisions, welds and multi-doc
run groups — exactly the regime the exactness lane exists for."""

from __future__ import annotations

import random

import pytest


def _py_run_removal(rows, k, min_docs, min_run_tokens, keep="first"):
    """Reference semantics of remove_duplicate_runs(verify_exact=True),
    restated from the docstring: duplicated-window islands are CANDIDATE
    runs; a run is removed iff its full text recurs as a candidate run
    in >= min_docs documents; keep='first' spares the min-id member of
    each verified run group."""
    toks = {
        i: (t.split(" ") if t is not None else None) for i, t in rows
    }
    counts: dict[str, set] = {}
    for i, ts in toks.items():
        if ts is None or len(ts) < k:
            continue
        for p in range(len(ts) - k + 1):
            counts.setdefault(" ".join(ts[p : p + k]), set()).add(i)
    groups: dict[str, list] = {}
    for i, ts in toks.items():
        if ts is None or len(ts) < k:
            continue
        poss = [
            p
            for p in range(len(ts) - k + 1)
            if len(counts[" ".join(ts[p : p + k])]) >= min_docs
        ]
        runs: list[list[int]] = []
        for p in poss:
            if runs and p == runs[-1][1] + 1:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        for lo, hi in runs:
            if hi - lo + k >= min_run_tokens:
                groups.setdefault(
                    " ".join(ts[lo : hi + k]), []
                ).append((i, lo, hi))
    removal: dict[int, set] = {}
    for members in groups.values():
        ids = {i for i, _, _ in members}
        if len(ids) < min_docs:
            continue
        own = min(ids)
        for i, lo, hi in members:
            if keep == "first" and i == own:
                continue
            removal.setdefault(i, set()).update(range(lo, hi + k))
    out = {}
    for i, ts in toks.items():
        if ts is None:
            out[i] = (None, 0, 0)
            continue
        cov = removal.get(i, set())
        kept = [t for p, t in enumerate(ts) if p not in cov]
        out[i] = (" ".join(kept), len(ts), len(cov))
    return out


@pytest.mark.parametrize("seed", range(8))
def test_run_removal_exact_matches_python_reference(spark, seed):
    from csvtool_spark.operators.dedup import remove_duplicate_runs

    r = random.Random(seed)
    vocab = ["a", "b", "c", "d", "e", "f"]
    rows = [
        (i, " ".join(r.choice(vocab) for _ in range(r.randint(5, 30))))
        for i in range(10)
    ]
    rows.append((10, None))  # the NULL-text row rides every corpus
    keep = "first" if seed % 2 == 0 else "none"
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r2["doc_id"]: (r2["text_dedup"], r2["n_tokens"], r2["n_removed"])
        for r2 in remove_duplicate_runs(
            df, "text", "doc_id", k=3, min_docs=2, min_run_tokens=6,
            keep=keep,
        ).collect()
    }
    want = _py_run_removal(rows, k=3, min_docs=2, min_run_tokens=6, keep=keep)
    assert got == want


def _py_gopher(rows, top_ns, dup_ns):
    """Reference semantics of textstats.gopher_repetition's docstring."""
    from collections import Counter

    out = {}
    for i, t in rows:
        if t is None:
            out[i] = {}
            continue
        m: dict[str, float | None] = {}
        for unit, sep in (("line", "\n"), ("para", "\n\n")):
            parts = t.split(sep)
            cu = Counter(parts)
            m[f"dup_{unit}_frac"] = (
                sum(c - 1 for c in cu.values()) / len(parts)
            )
            allch = sum(len(x) for x in parts)
            m[f"dup_{unit}_char_frac"] = (
                sum((c - 1) * len(x) for x, c in cu.items() if c >= 2) / allch
                if allch > 0
                else None
            )
        toks = t.lower().split(" ")
        chars = len(t)
        for n in (*top_ns, *dup_ns):
            grams = [
                " ".join(toks[p : p + n])
                for p in range(len(toks) - n + 1)
            ]
            cg = Counter(grams)
            top = f"top_{n}gram_char_frac"
            dup = f"dup_{n}gram_char_frac"
            if not grams or chars == 0:
                val = None
                if n in top_ns:
                    m[top] = val
                else:
                    m[dup] = val
                continue
            if n in top_ns:
                m[top] = max(c * len(g) for g, c in cg.items()) / chars
            else:
                m[dup] = min(
                    1.0,
                    sum(c * len(g) for g, c in cg.items() if c >= 2) / chars,
                )
        out[i] = m
    return out


def _gopher_rows(seed):
    """Seeded tiny-vocabulary docs plus the null, empty, short and
    duplicate-paragraph edge rows."""
    r = random.Random(100 + seed)
    vocab = ["aa", "b", "ccc", "dd"]

    def doc():
        nl = r.randint(1, 4)
        # mixed separators so the PARAGRAPH signals get real values
        # (repeated short lines make duplicate paragraphs likely too)
        return "".join(
            " ".join(r.choice(vocab) for _ in range(r.randint(1, 12)))
            + r.choice(["\n", "\n\n", "\n\n\n"])
            for _ in range(nl)
        ).rstrip("\n")

    return [(i, doc()) for i in range(8)] + [
        (8, None), (9, ""), (10, "one two three"),  # < 5 tokens: dup_n NULL
        (11, "x y\n\nx y\n\nx y\n\nz"),  # duplicate paragraphs
    ]


@pytest.mark.parametrize("seed", range(3))
def test_gopher_repetition_matches_python_reference(spark, seed):
    """The Arrow kernel against the Python reference, incl. null, empty
    and short docs (round-9 third review: a Column lane once read short
    docs as maximally duplicated via least(1.0, NULL))."""
    from csvtool_spark.operators.textstats import (
        GOPHER_DUP_NS,
        GOPHER_TOP_NS,
        gopher_repetition,
    )

    rows = _gopher_rows(seed)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = gopher_repetition(df, "text", "doc_id")
    cols = [c for c in res.columns if c != "doc_id"]
    got = {rr["doc_id"]: {c: rr[c] for c in cols} for rr in res.collect()}
    want = _py_gopher(rows, GOPHER_TOP_NS, GOPHER_DUP_NS)
    for i, t in rows:
        for c in cols:
            w = want[i].get(c)
            g = got[i][c]
            if w is None:
                assert g is None, (i, c, g)
            else:
                assert g is not None and abs(g - w) < 1e-12, (i, c, g, w)


@pytest.mark.parametrize("seed", range(3))
def test_gopher_repetition_matches_duckdb_oracle(spark, seed):
    """The same rows against the DuckDB twin ``gopher_oracle_sql``: the
    second reference for the one gopher lane, compared exactly."""
    import duckdb

    from csvtool_spark.operators.textstats import (
        gopher_oracle_sql,
        gopher_repetition,
    )

    rows = _gopher_rows(seed)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = gopher_repetition(df, "text", "doc_id")
    got = sorted(tuple(r) for r in res.collect())
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    n = len(res.columns)
    want = sorted(
        tuple(r[:n]) for r in con.execute(gopher_oracle_sql()).fetchall()
    )
    assert got == want and len(got) == len(rows)
