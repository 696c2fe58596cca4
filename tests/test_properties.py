"""Hypothesis property tests that pin engine formulas against plain
sequential references — no Spark in the loop, so hundreds of examples
run in seconds.

- sequence packing's closed-form chunk arithmetic == a literal
  walk-the-token-stream simulation (the claim that lets the op
  distribute as one window cumsum);
- upsert_sql applied batch-by-batch through DuckDB == a Python
  dict upsert (the idempotent-upsert contract every sink shares);
- the portable hash32, int(md5[:8], 16), is identical in Python and
  DuckDB.
"""

from __future__ import annotations

import hashlib

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_ecommerce_spark.functions.portable import sql_hash32
from flink_ecommerce_spark.streaming.sinks import upsert_sql


@settings(max_examples=200, deadline=None)
@given(
    tokens=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40),
    ctx=st.integers(min_value=1, max_value=17),
)
def test_packing_closed_form_equals_stream_walk(tokens, ctx):
    """floor arithmetic over the cumsum must equal literally laying
    documents end to end on a token tape and cutting every ctx
    tokens (empty docs sit at their offset, zero width)."""
    # closed form (operators/packing.py)
    offset = 0
    closed = []
    for n in tokens:
        first = offset // ctx
        last = (offset + max(n, 1) - 1) // ctx
        closed.append((offset, first, last))
        offset += n
    # sequential tape walk
    walked = []
    pos = 0
    for n in tokens:
        start = pos
        chunks = {start // ctx} if n == 0 else {
            (start + i) // ctx for i in range(n)
        }
        walked.append((start, min(chunks), max(chunks)))
        pos += n
    assert closed == walked


@settings(max_examples=60, deadline=None)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=6),
                st.integers(min_value=-100, max_value=100),
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_merge_upsert_sql_equals_dict_upsert(batches):
    """Applying upsert_sql batch-by-batch to a real engine ends
    in the same state as a last-write-wins dict, for any batch
    sequence. Within a batch, one row per key (the sink reduces
    first), so dedup each batch keeping the last pair."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT PRIMARY KEY, v BIGINT)")
    expected: dict[int, int] = {}
    for batch in batches:
        reduced = dict(batch)  # last write per key wins, like the sink
        expected.update(reduced)
        if not reduced:
            continue
        values = ", ".join(f"({k}, {v})" for k, v in reduced.items())
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE __batch AS "
            f"SELECT * FROM (VALUES {values}) AS x(k, v)"
        )
        con.execute(upsert_sql("t", ["k", "v"], ["k"]))
    got = dict(con.execute("SELECT k, v FROM t").fetchall())
    con.close()
    assert got == expected


@settings(max_examples=200, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.floats(
                min_value=0.0, max_value=1.0,
                allow_nan=False, allow_infinity=False,
            ),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=40,
    ),
    decimals=st.integers(min_value=0, max_value=4),
)
def test_budgeted_mixture_bucket_decomposition_identity(docs, decimals):
    """The (quality-bucket offset + within-bucket prefix) sum equals
    the plain greedy prefix over the full (quality DESC, doc_id ASC)
    order — for ANY bucketing precision. This is the arithmetic that
    lets budgeted_mixture window on (source, bucket) instead of one
    partition per source: bucket ranges are contiguous under the sort
    because rounding is monotone, so the decomposition is exact."""
    rows = [
        (round(q, 6), i, n) for i, (q, n) in enumerate(docs)
    ]  # ids unique; quality pre-rounded like the operator
    order = sorted(rows, key=lambda r: (-r[0], r[1]))
    cum, global_prefix = 0, {}
    for q, i, n in order:
        cum += n
        global_prefix[i] = cum

    buckets: dict[float, list] = {}
    for q, i, n in rows:
        buckets.setdefault(round(q, decimals), []).append((q, i, n))
    mass = {qb: sum(n for _, _, n in rs) for qb, rs in buckets.items()}
    decomposed = {}
    for qb, rs in buckets.items():
        offset = sum(m for b, m in mass.items() if b > qb)
        within = 0
        for q, i, n in sorted(rs, key=lambda r: (-r[0], r[1])):
            within += n
            decomposed[i] = offset + within
    assert decomposed == global_prefix


@settings(max_examples=300, deadline=None)
@given(
    corpus=st.lists(
        st.sets(st.integers(min_value=0, max_value=30), min_size=1, max_size=25),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.2, 0.3, 0.5, 0.7, 0.8, 0.9]),
)
def test_prefix_filter_lemma_is_lossless(corpus, threshold):
    """The pruning rule prefix_jaccard_pairs relies on, replayed in
    plain Python with the SAME prefix-length arithmetic as the Spark
    expression (ceil(t·n − 1e-9) — the epsilon guards against binary
    noise like 0.7·10 = 7.000000000000001 SHRINKING the prefix):
    every pair with true Jaccard ≥ t must (a) share a prefix token
    under the global df-ascending order and (b) pass the size filter.
    """
    import math

    df: dict[int, int] = {}
    for s in corpus:
        for tok in s:
            df[tok] = df.get(tok, 0) + 1
    order = lambda tok: (df[tok], tok)  # noqa: E731

    def prefix(s):
        n = len(s)
        L = n - math.ceil(threshold * n - 1e-9) + 1
        return set(sorted(s, key=order)[:L])

    for i in range(len(corpus)):
        for j in range(i + 1, len(corpus)):
            a, b = corpus[i], corpus[j]
            jac = len(a & b) / len(a | b)
            if jac >= threshold:
                assert prefix(a) & prefix(b), (
                    f"prefix filter dropped a true pair: {a} {b} "
                    f"jac={jac} t={threshold}"
                )
                assert threshold * len(a) <= len(b)
                assert threshold * len(b) <= len(a)


@settings(max_examples=300, deadline=None)
@given(
    docs=st.lists(
        st.frozensets(st.integers(min_value=0, max_value=30), min_size=1, max_size=20),
        min_size=2,
        max_size=8,
    ),
    t=st.sampled_from([0.5, 0.6, 0.7, 0.8, 0.9]),
)
def test_prefix_join_filters_never_prune_a_true_pair(docs, t):
    """The exactness contract of prefix_jaccard_pairs
    (operators/dedup.py): under the global (df, shingle) order, every
    pair with Jaccard >= t must survive the conjunction of the prefix
    filter, the size filter, and the PPJoin positional filter — on at
    least one shared shingle inside both prefixes. Mirrors the Spark
    join condition literally (including the 1e-9 slack direction)."""
    import math

    df = {}
    for s in docs:
        for x in s:
            df[x] = df.get(x, 0) + 1
    order = {x: i for i, x in enumerate(sorted(df, key=lambda x: (df[x], x)))}

    def prefix(s):
        ordered = sorted(s, key=lambda x: order[x])
        n = len(s)
        plen = n - math.ceil(t * n - 1e-9) + 1
        # rank is 1-based over the full ordered doc, as in the op
        return {x: i + 1 for i, x in enumerate(ordered[: max(plen, 0)])}

    pres = [prefix(s) for s in docs]
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = docs[i], docs[j]
            inter = len(a & b)
            jac = inter / len(a | b)
            if jac < t:
                continue  # filters may do anything to non-pairs
            na, nb = len(a), len(b)
            assert t * na <= nb and t * nb <= na  # size filter holds
            req = math.ceil(t / (1 + t) * (na + nb) - 1e-9)
            survives = any(
                1 + min(na - pres[i][x], nb - pres[j][x]) >= req
                for x in pres[i].keys() & pres[j].keys()
            )
            assert survives, (sorted(a), sorted(b), t)


def _py_hll_registers(ids, p=8):
    """Pure-Python mirror of the HLL register construction (same
    md5 salt, same bucket/rank slicing) — the independent reference
    the Spark/DuckDB twins are both checked against."""
    import hashlib

    m = 1 << p
    regs = {}
    for uid in ids:
        d = hashlib.md5(f"hll:{uid}".encode()).hexdigest()
        h1 = int(d[:8], 16)
        h2 = int(d[8:16], 16)
        bucket = h1 % m
        rank = 33 - h2.bit_length()  # bit_length(0) == 0 -> rank 33
        regs[bucket] = max(regs.get(bucket, 0), rank)
    return regs


def _py_hll_estimate(regs, p=8):
    import math

    from flink_ecommerce_spark.operators.sketch import _hll_alpha_m2

    m = 1 << p
    sum_int = sum(
        1 << (33 - regs.get(b, 0)) for b in range(m)
    )
    zeros = sum(1 for b in range(m) if regs.get(b, 0) == 0)
    e = _hll_alpha_m2(m) / (sum_int / float(1 << 33))
    if e <= 2.5 * m and zeros > 0:
        e = m * math.log(m / zeros)
    return e


@settings(max_examples=100, deadline=None)
@given(ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=0, max_size=400))
def test_hll_reference_duplicate_invariance_and_merge(ids):
    """The register table ignores duplicates and merges by per-bucket
    MAX — on the pure-Python mirror, for arbitrary id multisets."""
    regs_once = _py_hll_registers(ids)
    regs_thrice = _py_hll_registers(ids * 3)
    assert regs_once == regs_thrice
    half_a = _py_hll_registers([i for i in ids if i % 2 == 0])
    half_b = _py_hll_registers([i for i in ids if i % 2 == 1])
    merged = dict(half_a)
    for b, r in half_b.items():
        merged[b] = max(merged.get(b, 0), r)
    assert merged == regs_once


@settings(max_examples=30, deadline=None)
@given(n=st.integers(min_value=1, max_value=3000))
def test_hll_reference_estimate_tracks_cardinality(n):
    """On distinct ids 0..n-1 the estimate lands within the m=256
    design error (±3 sigma of 1.04/16, plus linear-counting's tighter
    regime) — pinned on the pure mirror so a constants drift in
    either engine twin would diverge from this reference."""
    regs = _py_hll_registers(range(n))
    e = _py_hll_estimate(regs)
    assert abs(e - n) / n < 0.25


@settings(max_examples=100, deadline=None)
@given(
    base=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=200),
    cur=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=200),
)
def test_psi_reference_symmetry_and_zero(base, cur):
    """PSI's term (q-p)·ln(q/p) is symmetric under swapping the two
    distributions, and identical distributions score exactly zero —
    on a pure mirror of the smoothed formula (10 buckets, +0.5
    Laplace), for arbitrary bucketized samples."""
    import math

    def psi(b_counts, c_counts):
        nb = [b_counts.count(i) for i in range(10)]
        nc = [c_counts.count(i) for i in range(10)]
        tb, tc = sum(nb), sum(nc)
        total = 0.0
        for i in range(10):
            p = (nb[i] + 0.5) / (tb + 5.0)
            q = (nc[i] + 0.5) / (tc + 5.0)
            total += (q - p) * math.log(q / p)
        return total

    assert abs(psi(base, cur) - psi(cur, base)) < 1e-12
    assert psi(base, base) == 0.0
    assert psi(base, cur) >= 0.0  # PSI is a (symmetrized) divergence


@settings(max_examples=100, deadline=None)
@given(
    series=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=2,
        max_size=60,
    )
)
def test_changepoint_statistic_identity(series):
    """D_t = S_t − (t/n)·S_n equals t(n−t)/n · (mean_before −
    mean_after) for every split — the algebraic identity that makes
    the cumsum form a mean-separation localizer."""
    n = len(series)
    s_n = sum(series)
    s_t = 0.0
    for t in range(1, n):
        s_t += series[t - 1]
        d = s_t - t / n * s_n
        m_b = s_t / t
        m_a = (s_n - s_t) / (n - t)
        assert abs(d - t * (n - t) / n * (m_b - m_a)) < 1e-6 * max(
            1.0, abs(s_n)
        )


@settings(max_examples=200, deadline=None)
@given(st.text(min_size=0, max_size=60))
def test_portable_hash_matches_python_and_duckdb(s):
    """hash32 contract: int(md5[:8], 16) identical in python/duckdb
    (the Spark side is covered by every oracle test using hash32)."""
    expected = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {sql_hash32('s')} FROM (SELECT ? AS s)", [s]
    ).fetchone()[0]
    con.close()
    assert got == expected, repr(s)
