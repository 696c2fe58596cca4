"""Count-Min sketch over the corpus term stream (Cormode &
Muthukrishnan 2005) — fixed-size frequency summaries for 100 TB
streams.

Exact term counting (``vocabulary``) shuffles one row per distinct
term; at web scale the distinct-term table itself is the problem. A
Count-Min sketch bounds the summary at DEPTH × WIDTH counters
regardless of corpus size: counter[j][h_j(term) % WIDTH] sums every
occurrence, a point estimate is min_j(counter[j][h_j(term)]) — an
OVERestimate (collisions only add), within eN/WIDTH of truth with
probability 1 - exp(-DEPTH), and mergeable across partitions/days by
cell-wise addition (it's a sum — exactly what a map-side-combined
groupBy computes).

Because the row hashes come from the portable md5 family, the sketch
itself is oracle-checkable: DuckDB builds the bit-identical counter
table. The estimate query joins each distinct term's DEPTH cells back
to the sketch and takes the min — and the overestimate property
(est >= true count, always) is pinned in tests.

Scale notes: building is one explode + one groupBy of (j, bucket) —
the shuffle carries at most DEPTH × WIDTH partial cells per map task
no matter how many terms flow through. The estimate path exists for
verification/lookup; a production pipeline ships the DEPTH×WIDTH
table (a few KB) to wherever point queries run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.portable import hash32, sql_hash32
from .textprep import words

CM_DEPTH = 4
CM_WIDTH = 256
CM_TOP_K = 20  # terms countmin_estimates reports


def _cm_cells(term: F.Column, depth: int, width: int) -> F.Column:
    """array<struct<j, bucket>> — the term's one cell per row."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (hash32(term, salt=f"cm{j}") % width).cast("int").alias(
                    "bucket"
                ),
            )
            for j in range(depth)
        ]
    )


def countmin_sketch(
    documents: DataFrame, depth: int = CM_DEPTH, width: int = CM_WIDTH
) -> DataFrame:
    """(j, bucket, n) — the populated counter cells (absent cell =
    0). One pass: explode words, explode each word's depth cells,
    count."""
    terms = documents.select(F.explode(words("text")).alias("term"))
    cells = terms.select(
        F.explode(_cm_cells(F.col("term"), depth, width)).alias("c")
    )
    return (
        cells.groupBy(F.col("c.j").alias("j"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def countmin_estimates(
    documents: DataFrame,
    k: int = CM_TOP_K,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Top-k terms by TRUE count with their sketch estimate alongside
    — the verification view (est >= n_true always; equality when the
    term's cells are collision-free). Output: (term, n_true, n_est).

    The distinct-term frame exists here only to audit the sketch;
    the sketch itself never materializes it."""
    sketch = countmin_sketch(documents, depth, width)
    true_counts = (
        documents.select(F.explode(words("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    cells = true_counts.select(
        "term",
        "n_true",
        F.explode(_cm_cells(F.col("term"), depth, width)).alias("c"),
    ).select("term", "n_true", F.col("c.j").alias("j"), F.col("c.bucket").alias("bucket"))
    est = (
        cells.join(sketch, ["j", "bucket"])
        .groupBy("term", "n_true")
        .agg(F.min("n").alias("n_est"))
    )
    return (
        est.orderBy(F.desc("n_true"), F.asc("term"))
        .limit(k)
        .select("term", "n_true", "n_est")
    )


def sql_countmin_sketch() -> str:
    """DuckDB oracle for ``countmin_sketch``."""
    from .textprep import sql_words

    cells = "\nUNION ALL\n".join(
        f"SELECT {j} AS j, CAST(({sql_hash32('term', salt=f'cm{j}')} % {CM_WIDTH})"
        " AS INT) AS bucket FROM terms"
        for j in range(CM_DEPTH)
    )
    return f"""
WITH terms AS (SELECT unnest({sql_words('text')}) AS term FROM documents),
cells AS ({cells})
SELECT j, bucket, COUNT(*) AS n FROM cells GROUP BY 1, 2
"""


def sql_countmin_estimates() -> str:
    """DuckDB oracle for ``countmin_estimates``."""
    from .textprep import sql_words

    cells = "\nUNION ALL\n".join(
        f"SELECT {j} AS j, CAST(({sql_hash32('term', salt=f'cm{j}')} % {CM_WIDTH})"
        " AS INT) AS bucket FROM terms"
        for j in range(CM_DEPTH)
    )
    tcells = "\nUNION ALL\n".join(
        f"SELECT term, n_true, {j} AS j, "
        f"CAST(({sql_hash32('term', salt=f'cm{j}')} % {CM_WIDTH}) AS INT) AS bucket "
        f"FROM true_counts"
        for j in range(CM_DEPTH)
    )
    return f"""
WITH terms AS (SELECT unnest({sql_words('text')}) AS term FROM documents),
cells AS ({cells}),
sketch AS (SELECT j, bucket, COUNT(*) AS n FROM cells GROUP BY 1, 2),
true_counts AS (SELECT term, COUNT(*) AS n_true FROM terms GROUP BY 1),
tcells AS ({tcells}),
est AS (SELECT t.term, t.n_true, MIN(s.n) AS n_est
        FROM tcells t JOIN sketch s ON s.j = t.j AND s.bucket = t.bucket
        GROUP BY 1, 2)
SELECT term, n_true, n_est FROM est
ORDER BY n_true DESC, term ASC
LIMIT {CM_TOP_K}
"""


# ---------------------------------------------------------------- bloom

BLOOM_BITS = 8192
BLOOM_HASHES = 4

# Normalization shared with dedup_exact(normalized=True) /
# incremental_dedup: the Bloom admission gate answers the SAME
# membership question those ops answer exactly, at O(m) state.
_BLOOM_SALT = "bloom"


def _bloom_halves(text: F.Column) -> tuple[F.Column, F.Column]:
    """(h1, h2): two independent 32-bit hashes from ONE md5 of the
    whitespace-normalized text (Kirsch-Mitzenmacher double hashing —
    position j is (h1 + j*h2) mod m, giving k independent-enough
    probes from a single digest; Kirsch & Mitzenmacher 2006)."""
    from ..functions.portable import hash32_from_digest, salted_md5

    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    d = salted_md5(norm, salt=_BLOOM_SALT)
    return hash32_from_digest(d, 0), hash32_from_digest(d, 1)


def _bloom_positions(
    text: F.Column, n_bits: int, n_hashes: int
) -> F.Column:
    """array<int> of the doc's n_hashes bit positions (may repeat
    when probes collide; callers dedupe with array_distinct)."""
    h1, h2 = _bloom_halves(text)
    return F.array(
        *[
            ((h1 + F.lit(j) * h2) % n_bits).cast("int")
            for j in range(n_hashes)
        ]
    )


def bloom_bits(documents: DataFrame) -> DataFrame:
    """(pos) — the SET bit positions of a Bloom filter over the
    corpus's normalized-text membership (Bloom 1970). Bounded at
    BLOOM_BITS rows regardless of corpus size, mergeable across
    shards/days by distinct-union, and the admission side
    (``bloom_admission``) broadcasts it — the history a new batch is
    screened against is a few KB, not the corpus.

    Sizing: false-positive rate ~ (1 - e^(-k*n/m))^k; the shipped
    (m=8192, k=4) is a test-scale fixture — at 100 TB you size m from
    the corpus cardinality (e.g. 10 bits/key for ~1% fp) and keep the
    same plan shape. No false NEGATIVES ever: a key whose positions
    were all set reports seen; one that was inserted cannot miss."""
    return (
        documents.select(
            F.explode(
                _bloom_positions(F.col("text"), BLOOM_BITS, BLOOM_HASHES)
            ).alias("pos")
        )
        .distinct()
    )


def bloom_admission(new_batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """(doc_id, maybe_seen) — screen a new batch against the corpus
    Bloom filter: maybe_seen=true iff ALL the doc's probe positions
    are set. Guaranteed no false negatives (an exact duplicate of any
    corpus doc always reports true); false positives at the filter's
    designed rate get caught by the exact path behind the gate
    (``incremental_dedup``) — the sketch exists so 100 TB of history
    costs m bits to consult, with the exact check paying only for the
    (tiny) maybe-seen fraction.

    Plan shape: the filter builds with one explode+distinct bounded
    at BLOOM_BITS rows, broadcasts to the batch side, and the verdict is
    a per-doc count compare — the new batch never shuffles."""
    bits = bloom_bits(corpus)
    probes = new_batch.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                _bloom_positions(F.col("text"), BLOOM_BITS, BLOOM_HASHES)
            )
        ).alias("pos"),
    )
    verdict = (
        probes.join(F.broadcast(bits).withColumn("hit", F.lit(1)), "pos", "left")
        .groupBy("doc_id")
        .agg(
            (F.count(F.lit(1)) == F.count("hit")).alias("maybe_seen")
        )
    )
    return verdict.select("doc_id", "maybe_seen")


def _sql_bloom_pos_cte(
    source_sql: str, n_bits: int, n_hashes: int, prefix: str = ""
) -> str:
    """CTE fragment: (doc_id, pos) DISTINCT probe positions for every
    row of ``source_sql`` (which must expose doc_id and text). CTE
    names are ``{prefix}dg/{prefix}hh/{prefix}pos`` so two instances
    can coexist in one WITH clause."""
    from ..functions.portable import sql_hash32_from_digest

    norm = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"
    digest = f"md5(concat('{_BLOOM_SALT}:', {norm}))"
    h1 = sql_hash32_from_digest("d", 0)
    h2 = sql_hash32_from_digest("d", 1)
    p = prefix
    return f"""
{p}dg AS (SELECT doc_id, {digest} AS d FROM ({source_sql})),
{p}hh AS (SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM {p}dg),
{p}pos AS (SELECT DISTINCT doc_id,
               CAST((h1 + j * h2) % {n_bits} AS INT) AS pos
        FROM {p}hh, UNNEST({list(range(n_hashes))}) AS t(j))
"""


def sql_bloom_bits() -> str:
    """DuckDB oracle for ``bloom_bits`` over the documents view."""
    cte = _sql_bloom_pos_cte(
        "SELECT doc_id, text FROM documents", BLOOM_BITS, BLOOM_HASHES
    )
    return f"""
WITH {cte}
SELECT DISTINCT pos FROM pos
"""


def sql_bloom_admission() -> str:
    """DuckDB oracle for ``bloom_admission`` with the registry's
    fixture split (doc_id % 5 = 0 is the new batch)."""
    new_cte = _sql_bloom_pos_cte(
        "SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0",
        BLOOM_BITS,
        BLOOM_HASHES,
        prefix="new_",
    )
    corpus_cte = _sql_bloom_pos_cte(
        "SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0",
        BLOOM_BITS,
        BLOOM_HASHES,
    )
    return f"""
WITH {corpus_cte},
bits AS (SELECT DISTINCT pos FROM pos),
{new_cte.strip().rstrip(',')},
verdict AS (SELECT p.doc_id,
                   COUNT(*) = COUNT(b.pos) AS maybe_seen
            FROM new_pos p LEFT JOIN bits b ON b.pos = p.pos
            GROUP BY 1)
SELECT doc_id, maybe_seen FROM verdict
"""


# ---------------------------------------------------------------- hll

HLL_P = 8  # 2^p = 256 registers; std error ~ 1.04/sqrt(m) ~ 6.5%


def _hll_alpha_m2(m: int) -> float:
    """alpha_m * m^2 (Flajolet et al. 2007, bias-correction constant
    for m >= 128). Computed once in Python and embedded as the SAME
    decimal literal in the Spark plan and the oracle SQL, so both
    engines parse the identical double."""
    return (0.7213 / (1.0 + 1.079 / m)) * m * m


def hll_registers(events: DataFrame) -> DataFrame:
    """(bucket, max_rank) — the populated registers of a HyperLogLog
    sketch over user_id (Flajolet-Furet-Gandouet-Meunier 2007).
    Fixed at 2^p rows no matter how many events or users flow
    through, and mergeable across shards/days by per-bucket MAX —
    the distinct-count analog of the Count-Min/Bloom tables above.

    Unlike the engine-native ``approx_count_distinct`` (whose sketch
    internals are Spark-specific, hence that query is rows-only),
    these registers come from the portable md5 family: bucket = the
    first 32 hash bits mod m, rank = leading-zero count of the
    second 32 bits + 1 via the bin()-string trick both engines
    evaluate identically — so the sketch itself is oracle-exact."""
    bucket, rank = _hll_bucket_rank(F.col("user_id").cast("string"))
    return (
        events.select(bucket.alias("bucket"), rank.alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("max_rank"))
    )


def _hll_bucket_rank(
    key: F.Column, p: int = HLL_P
) -> tuple[F.Column, F.Column]:
    """(bucket, rank) columns for one key — shared by the batch
    registers and the streaming sketch so both build bit-identical
    state."""
    from ..functions.portable import hash32_from_digest, salted_md5

    m = 1 << p
    d = salted_md5(key, salt="hll")
    h1 = hash32_from_digest(d, 0)
    h2 = hash32_from_digest(d, 1)
    bucket = (h1 % m).cast("int")
    rank = (
        F.lit(33) - F.length(F.regexp_replace(F.bin(h2), "^0+", ""))
    ).cast("int")
    return bucket, rank


def hll_distinct_users(events: DataFrame) -> DataFrame:
    """(n_exact, n_hll, rel_err) — the HLL estimate next to the true
    distinct count (the audit view, like countmin_estimates; a
    production pipeline ships only the 2^p-row register table).

    Determinism discipline: the harmonic-mean denominator is an
    INTEGER sum (Σ 2^(33-rank) — each term a long shift, total
    ≤ 2^41, exact in both engines), divided by 2^33 once; the
    small-range (linear-counting) branch fires on exact integer
    comparisons. No float accumulates across rows anywhere."""
    m = 1 << HLL_P
    regs = hll_registers(events)
    grid = events.agg(F.lit(1).alias("__one")).select(
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("bucket")
    )
    filled = grid.join(regs, "bucket", "left").fillna(0, ["max_rank"])
    s = filled.agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), 33 - max_rank)")
        ).alias("sum_int"),
        F.sum(
            F.when(F.col("max_rank") == 0, 1).otherwise(0)
        ).alias("zeros"),
    )
    ex = events.agg(F.countDistinct("user_id").alias("n_exact"))
    e = _hll_estimate(F.col("sum_int"), F.col("zeros"), m)
    return (
        s.crossJoin(F.broadcast(ex))
        .select(
            "n_exact",
            (F.round(e, 2) + F.lit(0.0)).alias("n_hll"),
            F.when(F.col("n_exact") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.abs(e - F.col("n_exact")) / F.col("n_exact"), 6
                )
                + F.lit(0.0)
            )
            .alias("rel_err"),
        )
    )


def _sql_hll_regs_cte() -> str:
    from ..functions.portable import sql_hash32_from_digest

    m = 1 << HLL_P
    h1 = sql_hash32_from_digest("d", 0)
    h2 = sql_hash32_from_digest("d", 1)
    return f"""
dg AS (SELECT md5(concat('hll:', CAST(user_id AS VARCHAR))) AS d FROM events),
hh AS (SELECT {h1} AS h1, {h2} AS h2 FROM dg),
br AS (SELECT CAST(h1 % {m} AS INT) AS bucket,
              CAST(33 - length(regexp_replace(bin(h2), '^0+', '')) AS INT) AS rank
       FROM hh),
regs AS (SELECT bucket, MAX(rank) AS max_rank FROM br GROUP BY 1)
"""


def sql_hll_registers() -> str:
    """DuckDB oracle for ``hll_registers``."""
    return f"""
WITH {_sql_hll_regs_cte()}
SELECT bucket, max_rank FROM regs
"""


def sql_hll_distinct_users() -> str:
    """DuckDB oracle for ``hll_distinct_users``."""
    m = 1 << HLL_P
    alpha_m2 = _hll_alpha_m2(m)
    return f"""
WITH {_sql_hll_regs_cte()},
grid AS (SELECT CAST(g AS INT) AS bucket
         FROM UNNEST(generate_series(0, {m - 1})) AS t(g)),
filled AS (SELECT g.bucket, COALESCE(r.max_rank, 0) AS max_rank
           FROM grid g LEFT JOIN regs r ON r.bucket = g.bucket),
s AS (SELECT SUM(CAST(1 AS BIGINT) << (33 - max_rank)) AS sum_int,
             SUM(CASE WHEN max_rank = 0 THEN 1 ELSE 0 END) AS zeros
      FROM filled),
ex AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events),
est AS (SELECT CASE WHEN {alpha_m2!r} / (sum_int / {float(1 << 33)!r}) <= {2.5 * m}
                     AND zeros > 0
                    THEN {float(m)!r} * ln({float(m)!r} / zeros)
                    ELSE {alpha_m2!r} / (sum_int / {float(1 << 33)!r}) END AS e
       FROM s)
SELECT CAST(ex.n_exact AS BIGINT) AS n_exact,
       ROUND(est.e, 2) + 0.0 AS n_hll,
       CASE WHEN ex.n_exact = 0 THEN 0.0
            ELSE ROUND(abs(est.e - ex.n_exact) / ex.n_exact, 6) + 0.0 END AS rel_err
FROM est, ex
"""


def _hll_estimate(sum_int: F.Column, zeros: F.Column, m: int) -> F.Column:
    """The FFGM estimate as a Column from the integer harmonic-mean
    numerator (Σ 2^(33-rank)) and the empty-register count — shared
    by the global and per-window estimators so the formula can't
    drift between them."""
    alpha_m2 = _hll_alpha_m2(m)
    z = sum_int / F.lit(float(1 << 33))
    e_raw = F.lit(alpha_m2) / z
    return F.when(
        (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(e_raw)


def daily_distinct_users_hll(events: DataFrame) -> DataFrame:
    """(d, n_exact, n_hll, rel_err) — per-DAY distinct users, exact
    next to the HLL estimate: the windowed form of
    ``hll_distinct_users``. This is the shape that matters at 100 TB
    — exact daily distincts shuffle every (day, user) pair, while
    the sketch shuffles at most days × 2^p register rows and each
    day's registers remain mergeable into weekly/monthly rollups by
    the same per-bucket MAX. The exact column exists as the audit
    (drop it in production and the plan never touches user
    cardinality)."""
    m = 1 << HLL_P
    d = F.to_date("ts").alias("d")
    bucket, rank = _hll_bucket_rank(F.col("user_id").cast("string"))
    regs = (
        events.select(d, bucket.alias("bucket"), rank.alias("rank"))
        .groupBy("d", "bucket")
        .agg(F.max("rank").alias("max_rank"))
    )
    days = events.select(d).distinct()
    grid = days.select(
        "d",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("bucket"),
    )
    filled = grid.join(regs, ["d", "bucket"], "left").fillna(
        0, ["max_rank"]
    )
    s = filled.groupBy("d").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), 33 - max_rank)")
        ).alias("sum_int"),
        F.sum(F.when(F.col("max_rank") == 0, 1).otherwise(0)).alias(
            "zeros"
        ),
    )
    exact = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    e = _hll_estimate(F.col("sum_int"), F.col("zeros"), m)
    return (
        s.join(exact, "d")
        .select(
            "d",
            "n_exact",
            (F.round(e, 2) + F.lit(0.0)).alias("n_hll"),
            F.when(F.col("n_exact") == 0, F.lit(0.0))
            .otherwise(
                F.round(F.abs(e - F.col("n_exact")) / F.col("n_exact"), 6)
                + F.lit(0.0)
            )
            .alias("rel_err"),
        )
    )


def sql_daily_distinct_users_hll() -> str:
    """DuckDB oracle for ``daily_distinct_users_hll``."""
    from ..functions.portable import sql_hash32_from_digest

    m = 1 << HLL_P
    alpha_m2 = _hll_alpha_m2(m)
    h1 = sql_hash32_from_digest("dg", 0)
    h2 = sql_hash32_from_digest("dg", 1)
    return f"""
WITH base AS (SELECT CAST(ts AS DATE) AS d,
                     md5(concat('hll:', CAST(user_id AS VARCHAR))) AS dg
              FROM events),
br AS (SELECT d, CAST({h1} % {m} AS INT) AS bucket,
              CAST(33 - length(regexp_replace(bin({h2}), '^0+', '')) AS INT)
                AS rank
       FROM base),
regs AS (SELECT d, bucket, MAX(rank) AS max_rank FROM br GROUP BY 1, 2),
days AS (SELECT DISTINCT d FROM base),
grid AS (SELECT days.d, CAST(g AS INT) AS bucket
         FROM days, UNNEST(generate_series(0, {m - 1})) AS t(g)),
filled AS (SELECT g.d, g.bucket, COALESCE(r.max_rank, 0) AS max_rank
           FROM grid g LEFT JOIN regs r
             ON r.d = g.d AND r.bucket = g.bucket),
s AS (SELECT d, SUM(CAST(1 AS BIGINT) << (33 - max_rank)) AS sum_int,
             SUM(CASE WHEN max_rank = 0 THEN 1 ELSE 0 END) AS zeros
      FROM filled GROUP BY 1),
ex AS (SELECT CAST(ts AS DATE) AS d, COUNT(DISTINCT user_id) AS n_exact
       FROM events GROUP BY 1),
est AS (SELECT s.d,
               CASE WHEN {alpha_m2!r} / (sum_int / {float(1 << 33)!r}) <= {2.5 * m}
                     AND zeros > 0
                    THEN {float(m)!r} * ln({float(m)!r} / zeros)
                    ELSE {alpha_m2!r} / (sum_int / {float(1 << 33)!r}) END AS e
        FROM s)
SELECT est.d, CAST(ex.n_exact AS BIGINT) AS n_exact,
       ROUND(est.e, 2) + 0.0 AS n_hll,
       CASE WHEN ex.n_exact = 0 THEN 0.0
            ELSE ROUND(abs(est.e - ex.n_exact) / ex.n_exact, 6) + 0.0 END
         AS rel_err
FROM est JOIN ex ON ex.d = est.d
"""


def weekly_distinct_users_hll(events: DataFrame) -> DataFrame:
    """(week_start, n_exact, n_hll, rel_err) — weekly distinct users
    ROLLED UP FROM THE DAILY REGISTERS by per-bucket MAX: the
    mergeability claim as a live query. At 100 TB this is the whole
    point of keeping register tables per day — a week (or month, or
    quarter) costs one MAX-aggregation over days × 2^p rows, never a
    rescan of the events; the exact audit column is the only thing
    here that touches user cardinality again.

    Weeks are the engine-portable integer index days//7 from epoch
    (date_trunc('week') anchors differ subtly across engines and
    versions); week_start reports the index as its first calendar
    day."""
    m = 1 << HLL_P
    d = F.to_date("ts")
    week = F.floor(F.datediff(d, F.lit("1970-01-01")) / 7).cast("long")
    bucket, rank = _hll_bucket_rank(F.col("user_id").cast("string"))
    daily = (
        events.select(
            d.alias("d"),
            week.alias("week"),
            bucket.alias("bucket"),
            rank.alias("rank"),
        )
        .groupBy("d", "week", "bucket")
        .agg(F.max("rank").alias("max_rank"))
    )
    # the roll-up: daily registers -> weekly registers by MAX
    weekly = daily.groupBy("week", "bucket").agg(
        F.max("max_rank").alias("max_rank")
    )
    weeks = weekly.select("week").distinct()
    grid = weeks.select(
        "week",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("bucket"),
    )
    filled = grid.join(weekly, ["week", "bucket"], "left").fillna(
        0, ["max_rank"]
    )
    s = filled.groupBy("week").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), 33 - max_rank)")
        ).alias("sum_int"),
        F.sum(F.when(F.col("max_rank") == 0, 1).otherwise(0)).alias(
            "zeros"
        ),
    )
    exact = events.groupBy(
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")) / 7
        )
        .cast("long")
        .alias("week")
    ).agg(F.countDistinct("user_id").alias("n_exact"))
    e = _hll_estimate(F.col("sum_int"), F.col("zeros"), m)
    return (
        s.join(exact, "week")
        .select(
            F.date_add(
                F.lit("1970-01-01").cast("date"),
                (F.col("week") * 7).cast("int"),
            ).alias("week_start"),
            "n_exact",
            (F.round(e, 2) + F.lit(0.0)).alias("n_hll"),
            F.when(F.col("n_exact") == 0, F.lit(0.0))
            .otherwise(
                F.round(F.abs(e - F.col("n_exact")) / F.col("n_exact"), 6)
                + F.lit(0.0)
            )
            .alias("rel_err"),
        )
    )


def sql_weekly_distinct_users_hll() -> str:
    """DuckDB oracle for ``weekly_distinct_users_hll`` (same daily →
    weekly MAX roll-up)."""
    from ..functions.portable import sql_hash32_from_digest

    m = 1 << HLL_P
    alpha_m2 = _hll_alpha_m2(m)
    h1 = sql_hash32_from_digest("dg", 0)
    h2 = sql_hash32_from_digest("dg", 1)
    return f"""
WITH base AS (SELECT CAST(ts AS DATE) AS d,
                     CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7
                          AS BIGINT) AS week,
                     md5(concat('hll:', CAST(user_id AS VARCHAR))) AS dg,
                     user_id
              FROM events),
br AS (SELECT d, week, CAST({h1} % {m} AS INT) AS bucket,
              CAST(33 - length(regexp_replace(bin({h2}), '^0+', '')) AS INT)
                AS rank
       FROM base),
daily AS (SELECT d, week, bucket, MAX(rank) AS max_rank
          FROM br GROUP BY 1, 2, 3),
weekly AS (SELECT week, bucket, MAX(max_rank) AS max_rank
           FROM daily GROUP BY 1, 2),
weeks AS (SELECT DISTINCT week FROM weekly),
grid AS (SELECT weeks.week, CAST(g AS INT) AS bucket
         FROM weeks, UNNEST(generate_series(0, {m - 1})) AS t(g)),
filled AS (SELECT g.week, g.bucket, COALESCE(w.max_rank, 0) AS max_rank
           FROM grid g LEFT JOIN weekly w
             ON w.week = g.week AND w.bucket = g.bucket),
s AS (SELECT week, SUM(CAST(1 AS BIGINT) << (33 - max_rank)) AS sum_int,
             SUM(CASE WHEN max_rank = 0 THEN 1 ELSE 0 END) AS zeros
      FROM filled GROUP BY 1),
ex AS (SELECT week, COUNT(DISTINCT user_id) AS n_exact
       FROM base GROUP BY 1),
est AS (SELECT s.week,
               CASE WHEN {alpha_m2!r} / (sum_int / {float(1 << 33)!r}) <= {2.5 * m}
                     AND zeros > 0
                    THEN {float(m)!r} * ln({float(m)!r} / zeros)
                    ELSE {alpha_m2!r} / (sum_int / {float(1 << 33)!r}) END AS e
        FROM s)
SELECT DATE '1970-01-01' + CAST(est.week * 7 AS INT) AS week_start,
       CAST(ex.n_exact AS BIGINT) AS n_exact,
       ROUND(est.e, 2) + 0.0 AS n_hll,
       CASE WHEN ex.n_exact = 0 THEN 0.0
            ELSE ROUND(abs(est.e - ex.n_exact) / ex.n_exact, 6) + 0.0 END
         AS rel_err
FROM est JOIN ex ON ex.week = est.week
"""


KMV_K = 256
KMV_SALT = "kmv"
KMV_PROBS = (0.25, 0.5, 0.75, 0.9, 0.99)


def kmv_sample(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """The k rows with the smallest portable hash of their event_id —
    a deterministic uniform sample without replacement (a hash-ordered
    prefix of a uniform permutation), and the KMV/bottom-k sketch
    primitive: min-k of a union is the min-k of the parts' min-k
    sets, so per-shard samples MERGE into the global one exactly
    (pinned in tests). Hash ties break on event_id.

    Scale: orderBy+limit compiles to TakeOrderedAndProject —
    per-partition k-row heaps, one k-row collect — never a global
    sort. 100 TB in, k rows out, one pass."""
    from ..functions.portable import hash32

    return (
        events.select(
            "event_id",
            "value",
            hash32(F.col("event_id").cast("string"), salt=KMV_SALT).alias("__h"),
        )
        .orderBy(F.asc("__h"), F.asc("event_id"))
        .limit(k)
    )


def kmv_value_quantiles(events: DataFrame) -> DataFrame:
    """One-row approximate value quantiles from the KMV bottom-k
    sample — the 100 TB quantile path: an exact percentile() needs
    the full sorted column; this reads k rows chosen by hash order
    (error ~ O(1/√k), and because the sample is DETERMINISTIC the
    estimate is reproducible across engines, reruns, partitionings —
    unlike percentile_approx, whose sketch is engine-private like the
    native HLL this repo retired). Mergeable via ``kmv_sample``:
    per-shard bottom-k sets union → re-take bottom-k → identical
    estimate. Exact interpolated percentile over the sample matches
    DuckDB's quantile_cont (the certified idiom)."""
    s = kmv_sample(events)
    from ..functions.portable import micro

    aggs = [F.count(F.lit(1)).alias("n_sampled")]
    for p in KMV_PROBS:
        name = f"p{int(p * 100)}_micro"
        aggs.append(micro(F.expr(f"percentile(value, {p})")).alias(name))
    return s.agg(*aggs)


def sql_kmv_value_quantiles() -> str:
    """DuckDB twin of ``kmv_value_quantiles`` — identical hash order,
    tie-break, and interpolation."""
    from ..functions.portable import sql_hash32

    h = sql_hash32("CAST(event_id AS VARCHAR)", salt=KMV_SALT)
    from ..functions.portable import sql_micro

    qs = ",\n       ".join(
        f"{sql_micro(f'quantile_cont(value, {p})')} AS p{int(p * 100)}_micro"
        for p in KMV_PROBS
    )
    return f"""
WITH s AS (SELECT value FROM (
  SELECT event_id, value, {h} AS h FROM events
  ORDER BY h ASC, event_id ASC LIMIT {KMV_K}))
SELECT COUNT(*) AS n_sampled,
       {qs}
FROM s
"""


KMV_GROUP_K = 128


def kmv_value_quantiles_by_type(events: DataFrame) -> DataFrame:
    """(event_type, n_sampled, p50, p90) — the KMV bottom-k quantile
    sketch PER GROUP: each event_type keeps its own k-smallest-hash
    sample, so grouped percentile estimates stay reproducible and
    mergeable per key (per-shard, per-day group samples union →
    re-take bottom-k, exactly like the global ``kmv_sample``).

    Scale: delegates to the shared two-phase ``topk_per_key``
    primitive (bucketed pre-top-k, tiny final window) so no group's
    full membership funnels through one sort task — the same
    parallelism fix sample_k_per_group uses; the grouped percentile
    then runs over ≤ groups × k rows."""
    from ..functions.portable import hash32
    from .similarity import topk_per_key

    scored = events.select(
        "event_type",
        "event_id",
        "value",
        hash32(F.col("event_id").cast("string"), salt=KMV_SALT).alias("__h"),
    )
    sample = topk_per_key(
        scored,
        "event_type",
        [F.asc("__h"), F.asc("event_id")],
        KMV_GROUP_K,
        salt_col="event_id",
    )
    from ..functions.portable import micro

    return sample.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        micro(F.expr("percentile(value, 0.5)")).alias("p50_micro"),
        micro(F.expr("percentile(value, 0.9)")).alias("p90_micro"),
    )


def sql_kmv_value_quantiles_by_type() -> str:
    """DuckDB twin — identical per-group hash order and
    interpolation (a plain per-group ROW_NUMBER: the oracle engine
    doesn't need the two-phase parallelism trick, the OUTPUT is
    defined to be identical)."""
    from ..functions.portable import sql_hash32

    h = sql_hash32("CAST(event_id AS VARCHAR)", salt=KMV_SALT)
    return f"""
WITH s AS (SELECT event_type, value FROM (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY {h} ASC, event_id ASC) AS rn
  FROM events) WHERE rn <= {KMV_GROUP_K})
SELECT event_type, COUNT(*) AS n_sampled,
       CAST(FLOOR(quantile_cont(value, 0.5) * 1000000 + 0.5) AS BIGINT)
         AS p50_micro,
       CAST(FLOOR(quantile_cont(value, 0.9) * 1000000 + 0.5) AS BIGINT)
         AS p90_micro
FROM s GROUP BY event_type
"""
