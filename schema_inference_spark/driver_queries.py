"""Driver-contract queries over /root/testdata tables.

Each entry maps one engine operator (SURVEY.md §2.D / extras) onto the
driver's parquet tables with a DuckDB-SQL oracle. `events` stands in for
the transcripts table (FIXTURES.md F7): uniqueness on (user_id,
event_type), vocab on event_type, ordering on (user_id, ts), drift on
value.

Conventions (driver compare is column-name + value-hash based):
- every computed column is aliased identically in Spark and SQL;
- float aggregates are rounded on BOTH sides (driver hashes values);
- outputs carry a deterministic total order via their key columns.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EVENT_VOCAB = ["click", "purchase", "signup", "view"]  # 'error' is planted out-of-vocab


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SCAN_PARTS_CACHE: Dict[tuple, int] = {}


def _t_redist(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver table, redistributing starved scans.

    The sf tables are single-file, single-ROW-GROUP parquet, and the row
    group is parquet's split unit — so every scan otherwise plans as ONE
    task and all scan-side compute (JSON parsing, tokenization, regex)
    serializes on one core regardless of maxPartitionBytes (guide §6).
    When the scan yields 4x fewer splits than the session has cores,
    append a round-robin repartition to the core count: the exchanged
    bytes are the small local table itself (MBs), and the condition is
    derived from the actual split count, so production multi-row-group
    tables (e.g. a 49-group lineitem) never take the exchange. The
    split count is cached per (session, file); the probe is plan-time
    only.

    ONLY for queries whose outputs are partition-order independent:
    integer/string/hash-exact aggregates, min/max, or scalar formulas
    over them (the extras family is such by design — its scores are
    integer basis points precisely so engines agree). The
    CORE stats + TPC-H queries keep the plain reader: a double SUM/AVG
    accumulates in partition order, and a repartitioned scan can flip
    their round()ed fourth decimal vs the single-threaded oracle
    (observed on window_stats)."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    cores = spark.sparkContext.defaultParallelism
    key = (spark.sparkContext.applicationId, path)
    n = _SCAN_PARTS_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _SCAN_PARTS_CACHE[key] = n
    if n * 4 < cores:
        return df.repartition(cores)
    return df


# ---------------------------------------------------------------------------
# Column stats (D7) — the :LIT-analog value->stats path, SQL form
# ---------------------------------------------------------------------------

def q_stats_value(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_value"),
        (F.count(F.lit(1)) - F.count("value")).alias("n_nulls"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.avg("value"), 4).alias("avg_value")))


SQL_STATS_VALUE = """
SELECT count(*) AS n_rows,
       count(value) AS n_value,
       count(*) - count(value) AS n_nulls,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value,
       round(avg(value), 4) AS avg_value
FROM events
"""


def q_profile_stats(spark, sf_dir):
    """The D7 column profile through the REAL engine operators
    (partition_profile -> snapshot_profile): per-column typed min/max
    merged across partitions on the native type — the oracle computes the
    same extremes globally, so any lexicographic merge would hash-mismatch
    (e.g. events.value max 490.02 vs lexicographic '99.93')."""
    from .operators.stats import partition_profile, snapshot_profile

    ev = _t(spark, sf_dir, "events").withColumn(
        "bucket", F.pmod(F.crc32(F.col("event_id").cast("string")), F.lit(8)))
    part = partition_profile(
        ev, "sf", columns=["event_id", "ts", "user_id", "event_type", "value"])
    snap = snapshot_profile(part)
    str_only = lambda c: F.when(F.col("column") == "event_type",  # noqa: E731
                                F.col(c)).otherwise(F.lit(None).cast("string"))
    return (snap.select(
        "column",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        F.round("min_num", 4).alias("min_num"),
        F.round("max_num", 4).alias("max_num"),
        str_only("min_str").alias("min_str"),
        str_only("max_str").alias("max_str"))
        .orderBy("column"))


SQL_PROFILE_STATS = """
SELECT 'event_id' AS "column", count(*) AS n_rows,
       count(*) - count(event_id) AS n_nulls,
       round(min(event_id), 4) AS min_num, round(max(event_id), 4) AS max_num,
       NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM events
UNION ALL
SELECT 'event_type', count(*), count(*) - count(event_type),
       NULL::DOUBLE, NULL::DOUBLE, min(event_type), max(event_type) FROM events
UNION ALL
SELECT 'ts', count(*), count(*) - count(ts),
       round(epoch(min(ts)), 4), round(epoch(max(ts)), 4),
       NULL::VARCHAR, NULL::VARCHAR FROM events
UNION ALL
SELECT 'user_id', count(*), count(*) - count(user_id),
       round(min(user_id), 4), round(max(user_id), 4),
       NULL::VARCHAR, NULL::VARCHAR FROM events
UNION ALL
SELECT 'value', count(*), count(*) - count(value),
       round(min(value), 4), round(max(value), 4),
       NULL::VARCHAR, NULL::VARCHAR FROM events
ORDER BY "column"
"""


def q_window_stats(spark, sf_dir):
    """Per-event-time-window column stats (D7 in windowed form). One
    tumbling-window groupBy: partial+final agg, no Python."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("value").isNull().cast("long")).alias("n_value_null"),
                 F.min("event_id").alias("min_event_id"),
                 F.max("event_id").alias("max_event_id"),
                 F.round(F.avg("value"), 4).alias("avg_value"))
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("w_start"),
                    "n_rows", "n_value_null", "min_event_id",
                    "max_event_id", "avg_value")
            .orderBy("w_start"))


SQL_WINDOW_STATS = """
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS w_start,
       count(*) AS n_rows,
       count(*) - count(value) AS n_value_null,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id,
       round(avg(value), 4) AS avg_value
FROM events
GROUP BY 1
ORDER BY w_start
"""


def q_window_drift(spark, sf_dir):
    """Distribution drift per event-time window (oracle-gated): bin edges = exact interior deciles of `value`
    over the whole table (the baseline), per-day windows count rows per
    bin, PSI = sum (q-p)·ln(q/p) with the same 1e-6 clamp drift.py uses.
    Plan: one decile agg broadcast as a 1-row dimension, two grouped
    counts, and a windows-x-bins grid left-join so a window that misses
    a bin still contributes that bin's clamped term — no Python, no
    driver collect, scales as a pair of key-grouped aggregations."""
    from pyspark.sql import Window as W

    # null `value` rows are excluded outright: NULL > edge is NULL, so
    # they would otherwise fall through every WHEN into bin 0 while the
    # decile edges are computed null-excluded — inflating bin-0 mass and
    # PSI
    ev = (_t(spark, sf_dir, "events").select("ts", "value")
          .filter(F.col("value").isNotNull()))
    probs = [i / 10 for i in range(1, 10)]
    edges = ev.agg(*[F.expr(f"percentile(value, {p})").alias(f"e{i + 1}")
                     for i, p in enumerate(probs)])
    j = ev.join(F.broadcast(edges))
    bin_col = F.lit(0)
    for i in range(1, 10):
        # wrap ascending so the final expression tests the HIGHEST edge
        # outermost: v > e9 -> 9, else v > e8 -> 8, ... else 0
        bin_col = F.when(F.col("value") > F.col(f"e{i}"),
                         F.lit(i)).otherwise(bin_col)
    b = j.select("ts", bin_col.alias("bin"))

    tot = (b.groupBy("bin").agg(F.count(F.lit(1)).alias("nb"))
           .withColumn("p", F.col("nb") / F.sum("nb").over(W.partitionBy())))
    wins = (b.groupBy(F.window("ts", "1 day").alias("w"), "bin")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("nw", F.sum("c").over(
                W.partitionBy("w"))))
    # windows-x-bins grid (#windows·10 rows): a window missing a bin
    # still contributes that bin's clamped (eps - p)·ln(eps/p) term
    grid = (wins.select("w", "nw").distinct()
            .crossJoin(tot.select("bin", "p")))
    full = (grid.join(wins.select("w", "bin", "c"), ["w", "bin"], "left")
            .fillna({"c": 0}))
    eps = 1e-6
    q = F.greatest(F.col("c") / F.col("nw"), F.lit(eps))
    term = (q - F.col("p")) * F.log(q / F.col("p"))
    return (full.groupBy("w", "nw")
            .agg(F.round(F.sum(term), 4).alias("psi"))
            .select(F.date_format("w.start", "yyyy-MM-dd").alias("w_start"),
                    F.col("nw").cast("bigint").alias("n_rows"),
                    "psi",
                    (F.col("psi") > 0.25).cast("int").alias("drifted"))
            .orderBy("w_start"))


SQL_WINDOW_DRIFT = """
WITH e AS (
  SELECT quantile_cont(value, 0.1) AS e1, quantile_cont(value, 0.2) AS e2,
         quantile_cont(value, 0.3) AS e3, quantile_cont(value, 0.4) AS e4,
         quantile_cont(value, 0.5) AS e5, quantile_cont(value, 0.6) AS e6,
         quantile_cont(value, 0.7) AS e7, quantile_cont(value, 0.8) AS e8,
         quantile_cont(value, 0.9) AS e9
  FROM events),
b AS (
  SELECT ts,
         CASE WHEN value > e9 THEN 9 WHEN value > e8 THEN 8
              WHEN value > e7 THEN 7 WHEN value > e6 THEN 6
              WHEN value > e5 THEN 5 WHEN value > e4 THEN 4
              WHEN value > e3 THEN 3 WHEN value > e2 THEN 2
              WHEN value > e1 THEN 1 ELSE 0 END AS bin
  FROM events, e WHERE value IS NOT NULL),
tot AS (
  SELECT bin, count(*) AS nb,
         count(*) * 1.0 / sum(count(*)) OVER () AS p
  FROM b GROUP BY bin),
wins AS (
  SELECT time_bucket(INTERVAL 1 DAY, ts) AS w, bin, count(*) AS c
  FROM b GROUP BY 1, 2),
wn AS (SELECT w, sum(c) AS nw FROM wins GROUP BY w),
grid AS (SELECT wn.w, wn.nw, tot.bin, tot.p FROM wn CROSS JOIN tot),
full_g AS (
  SELECT g.w, g.nw, g.p, coalesce(wins.c, 0) AS c
  FROM grid g LEFT JOIN wins ON g.w = wins.w AND g.bin = wins.bin)
SELECT strftime(w, '%Y-%m-%d') AS w_start,
       CAST(nw AS BIGINT) AS n_rows,
       round(sum((greatest(c * 1.0 / nw, 1e-6) - p)
                 * ln(greatest(c * 1.0 / nw, 1e-6) / p)), 4) AS psi,
       CAST(round(sum((greatest(c * 1.0 / nw, 1e-6) - p)
                 * ln(greatest(c * 1.0 / nw, 1e-6) / p)), 4) > 0.25
            AS INT) AS drifted
FROM full_g
GROUP BY w, nw
ORDER BY w_start
"""


def q_null_rates(spark, sf_dir):
    """Per-column null counts over events — one pass, partial+final agg."""
    ev = _t(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in ["event_id", "ts", "user_id", "event_type", "value", "props"]:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"nulls_{c}"))
    return ev.agg(*aggs)


SQL_NULL_RATES = """
SELECT count(*) AS n_rows,
       count(*) - count(event_id) AS nulls_event_id,
       count(*) - count(ts) AS nulls_ts,
       count(*) - count(user_id) AS nulls_user_id,
       count(*) - count(event_type) AS nulls_event_type,
       count(*) - count(value) AS nulls_value,
       count(*) - count(props) AS nulls_props
FROM events
"""


def q_distinct_exact(spark, sf_dir):
    """Exact distinct counts (the oracle side of the HLL sketch, D8)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("d_users"),
        F.countDistinct("event_type").alias("d_types"),
        F.countDistinct("event_id").alias("d_events"))


SQL_DISTINCT_EXACT = """
SELECT count(DISTINCT user_id) AS d_users,
       count(DISTINCT event_type) AS d_types,
       count(DISTINCT event_id) AS d_events
FROM events
"""


def q_distinct_hll(spark, sf_dir):
    """HLL sketch estimates (D8) — no SQL oracle (sketches are estimates;
    SURVEY.md §5.2-6): driver records a rows-only check; tests assert
    bounded relative error against q_distinct_exact."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("d_users_est"),
        F.hll_sketch_estimate(F.hll_sketch_agg("event_type")).alias("d_types_est"))


def q_quantiles_value(spark, sf_dir):
    """Exact interpolated percentiles (oracle for the KLL path, D9)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("p75"))


SQL_QUANTILES_VALUE = """
SELECT round(quantile_cont(value, 0.25), 4) AS p25,
       round(quantile_cont(value, 0.50), 4) AS p50,
       round(quantile_cont(value, 0.75), 4) AS p75
FROM events
"""


def q_quantiles_kll(spark, sf_dir):
    """KLL sketch quantiles (D9) — rows-only (randomized sketch)."""
    ev = _t(spark, sf_dir, "events")
    sk = ev.agg(F.kll_sketch_agg_double(F.col("value").cast("double")).alias("kll"))
    return sk.select(
        F.kll_sketch_get_quantile_double("kll", F.lit(0.5)).alias("p50_est"),
        F.kll_sketch_get_quantile_double("kll", F.lit(0.9)).alias("p90_est"))


# ---------------------------------------------------------------------------
# Uniqueness (D10) — salted two-phase duplicate detection
# ---------------------------------------------------------------------------

def q_unique_key(spark, sf_dir, n_salts: int = 16):
    ev = _t(spark, sf_dir, "events")
    keys = ["user_id", "event_type"]
    salted = (ev.select(*keys,
                        F.pmod(F.crc32(F.concat_ws("\u001f",
                                                   *[F.col(k).cast("string")
                                                     for k in keys])),
                               F.lit(n_salts)).alias("_salt"))
              .groupBy(*keys, "_salt")
              .agg(F.count(F.lit(1)).alias("_cnt")))
    return (salted.groupBy(*keys)
            .agg(F.sum("_cnt").alias("n_copies"))
            .filter(F.col("n_copies") > 1)
            .orderBy(*keys))


SQL_UNIQUE_KEY = """
SELECT user_id, event_type, count(*) AS n_copies
FROM events
GROUP BY user_id, event_type
HAVING count(*) > 1
ORDER BY user_id, event_type
"""


# ---------------------------------------------------------------------------
# Referential integrity (D11) — broadcast anti-join against vocab
# ---------------------------------------------------------------------------

def q_ref_vocab(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    vocab = spark.createDataFrame([(v,) for v in EVENT_VOCAB],
                                  "event_type string")
    return (ev.select("event_id", "event_type")
            .join(F.broadcast(vocab), on="event_type", how="left_anti")
            .select("event_id", "event_type")
            .orderBy("event_id"))


SQL_REF_VOCAB = """
SELECT event_id, event_type
FROM events
WHERE event_type NOT IN ('click', 'purchase', 'signup', 'view')
ORDER BY event_id
"""


def q_vocab_diff(spark, sf_dir):
    """Set-op variant (D16): distinct observed values minus vocab."""
    ev = _t(spark, sf_dir, "events")
    vocab = spark.createDataFrame([(v,) for v in EVENT_VOCAB],
                                  "event_type string")
    return (ev.select("event_type").distinct()
            .exceptAll(vocab).orderBy("event_type"))


SQL_VOCAB_DIFF = """
SELECT DISTINCT event_type FROM events
WHERE event_type NOT IN ('click', 'purchase', 'signup', 'view')
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Ordering (D12) — one window pass per user
# ---------------------------------------------------------------------------

def q_ordering(spark, sf_dir):
    """Events whose ts regresses in event_id order within a user — the
    ts_order check on the driver's stand-in table."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (ev.select("user_id", "event_id", "ts")
            .withColumn("prev_ts", F.lag("ts").over(w))
            .filter(F.col("prev_ts").isNotNull()
                    & (F.col("ts") < F.col("prev_ts")))
            .select("user_id", "event_id")
            .orderBy("user_id", "event_id"))


SQL_ORDERING = """
SELECT user_id, event_id FROM (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
  FROM events
) WHERE prev_ts IS NOT NULL AND ts < prev_ts
ORDER BY user_id, event_id
"""


def q_session_stats(spark, sf_dir):
    """Per-user running stats (window agg): max gap between consecutive
    events in seconds — per-key ordered processing at scale."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # fractional epoch seconds, like DuckDB epoch(); NTZ needs a hop via
    # TIMESTAMP (session tz is pinned UTC in get_spark)
    epoch = F.col("ts").cast("timestamp").cast("double")
    gaps = (ev.select("user_id", "ts", "event_id")
            .withColumn("gap_s", epoch - F.lag(epoch).over(w)))
    return (gaps.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.max("gap_s"), 3).alias("max_gap_s"))
            .orderBy("user_id"))


SQL_SESSION_STATS = """
SELECT user_id, count(*) AS n_events, round(max(gap_s), 3) AS max_gap_s FROM (
  SELECT user_id,
         epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_s
  FROM events
) GROUP BY user_id
ORDER BY user_id
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (operators/sessions.py): per-user session
    assignment at a 1-hour inactivity gap, aggregated to per-session
    stats. One shuffle on the key; lag + running-sum windows share the
    same sort."""
    from .operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev.select("user_id", "ts", "event_id"),
                   "user_id", "ts", 3600.0, order_cols=["event_id"])
    # NTZ needs the hop via TIMESTAMP before double (same as session_stats)
    epoch = F.col("ts").cast("timestamp").cast("double")
    return (s.groupBy("user_id", "sess_idx")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.max(epoch) - F.min(epoch), 3).alias("dur_s"))
            .filter(F.col("n_events") >= 3)
            .orderBy("user_id", "sess_idx"))


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 3600 THEN 1
              ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess_idx
  FROM g
)
SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
       count(*) AS n_events,
       round(epoch(max(ts)) - epoch(min(ts)), 3) AS dur_s
FROM s GROUP BY user_id, sess_idx
HAVING count(*) >= 3
ORDER BY user_id, sess_idx
"""


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-stratum sample (operators/sessions.py): 5 events
    per event_type ranked by md5(event_id) — identical rows in any engine
    with md5, i.e. a reproducible training-data sample."""
    from .operators.sessions import stratified_sample

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    s = stratified_sample(ev.select("event_type", "event_id"),
                          "event_type", "event_id", 5)
    return (s.select("event_type", "event_id",
                     F.col("sample_rank").cast("bigint").alias("sample_rank"))
            .orderBy("event_type", "sample_rank"))


SQL_SAMPLE_STRATIFIED = """
SELECT event_type, event_id, sample_rank FROM (
  SELECT event_type, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
           AS sample_rank
  FROM events WHERE event_type IS NOT NULL
) WHERE sample_rank <= 5
ORDER BY event_type, sample_rank
"""


# ---------------------------------------------------------------------------
# Relational core (D3/D15/D22): pruning, joins, top-k
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary: scan-heavy groupBy with partial
    aggregation — the throughput workhorse of the bench."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_segment_revenue(spark, sf_dir):
    """Broadcast-join rollup: orders x customer (dim side broadcast)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (orders.join(F.broadcast(customer.select("c_custkey", "c_mktsegment")),
                        orders.o_custkey == customer.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders"))
            .orderBy("c_mktsegment"))


SQL_SEGMENT_REVENUE = """
SELECT c_mktsegment,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_top_orders(spark, sf_dir, k: int = 10):
    """Top-k (D15): global order + limit with deterministic tiebreak."""
    orders = _t(spark, sf_dir, "orders")
    return (orders
            .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
            .orderBy(F.desc("total"), F.asc("o_orderkey"))
            .limit(k))


SQL_TOP_ORDERS = """
SELECT o_orderkey, round(o_totalprice, 2) AS total
FROM orders
ORDER BY total DESC, o_orderkey ASC
LIMIT 10
"""


def q_region_rollup(spark, sf_dir):
    """Three-way broadcast join chain: supplier -> nation -> region."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_suppliers"),
                 F.round(F.sum("s_acctbal"), 2).alias("sum_acctbal"))
            .orderBy("r_name"))


SQL_REGION_ROLLUP = """
SELECT r_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS sum_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def q_rollup_revenue(spark, sf_dir):
    """Multi-level ROLLUP aggregate (grouping sets): supplier account
    balances at (region, nation), (region) subtotal, and grand-total
    levels in ONE pass — Spark's rollup() emits all three grouping sets
    from a single partial-aggregated scan instead of three scans or a
    union. Null group keys at subtotal levels are disambiguated to
    'ALL' plus an explicit integer level (grouping() bits, computed the
    same way in both engines)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
              .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (joined.rollup("r_name", "n_name")
            .agg(F.count(F.lit(1)).alias("n_suppliers"),
                 F.round(F.sum("s_acctbal"), 2).alias("sum_acctbal"),
                 (F.grouping("r_name") * 2 + F.grouping("n_name"))
                 .cast("bigint").alias("lvl"))
            .select(F.coalesce("r_name", F.lit("ALL")).alias("region"),
                    F.coalesce("n_name", F.lit("ALL")).alias("nation"),
                    "lvl", "n_suppliers", "sum_acctbal")
            .orderBy("lvl", "region", "nation"))


SQL_ROLLUP_REVENUE = """
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(n_name, 'ALL') AS nation,
       CAST(grouping(r_name) * 2 + grouping(n_name) AS BIGINT) AS lvl,
       count(*) AS n_suppliers,
       round(sum(s_acctbal), 2) AS sum_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY lvl, region, nation
"""


# ---------------------------------------------------------------------------
# D22/D15 semi-join form — TPC-H Q4 shape on the available columns
# ---------------------------------------------------------------------------

def q_order_priority(spark, sf_dir):
    """Q4-shaped EXISTS: orders placed in [1996-01-01, 1996-04-01)
    having at least one lineitem shipped more than 90 days after the
    order date, counted per priority. Executed in the asymmetric
    broadcast form — the date window prunes orders to a broadcastable
    slice, lineitem joins against it WITHOUT shuffling (the 100-TB-fact
    shape; a 3-month window too large to broadcast falls back to a
    bucketed SortMergeJoin LeftSemi), and only the distinct hit keys
    reach an exchange. The oracle states the EXISTS directly."""
    o = (_t(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                 & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
         .select("o_orderkey", "o_orderdate", "o_orderpriority"))
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hits = (li.join(F.broadcast(o),
                    (F.col("l_orderkey") == F.col("o_orderkey"))
                    & (F.col("l_shipdate")
                       > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
                    "inner")
            .select("o_orderkey", "o_orderpriority")
            .distinct())
    return (hits.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("bigint").alias("late_orders"))
            .orderBy("o_orderpriority"))


SQL_ORDER_PRIORITY = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS late_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

GROUP_QS = (0.25, 0.5, 0.75, 0.9)


def q_group_quantiles(spark, sf_dir):
    """EXACT per-role quantiles of the payload length by ordinal
    selection — the per-stratum form of the D9 quantile family (the
    shape drift a global sketch blends away). Selection, not
    interpolation, so both engines pick the identical element."""
    from .operators.stats import grouped_quantiles
    ev = _t(spark, sf_dir, "events")
    base = ev.select(F.col("event_type").alias("role"), "props")
    return (grouped_quantiles(
                base, "role",
                F.coalesce(F.length("props"), F.lit(0)).cast("bigint"),
                qs=GROUP_QS)
            .orderBy("role", "q"))


SQL_GROUP_QUANTILES = f"""
WITH base AS (
  SELECT event_type AS role,
         CAST(coalesce(length(props), 0) AS BIGINT) AS v
  FROM events
), ranked AS (
  SELECT role, v,
         row_number() OVER (PARTITION BY role ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY role) AS n
  FROM base
), qs AS (SELECT unnest(CAST([{", ".join(str(q) for q in GROUP_QS)}] AS DOUBLE[])) AS q)
SELECT r.role, q.q, r.v AS value
FROM ranked r JOIN qs q ON r.rn = 1 + floor(q.q * (r.n - 1))
ORDER BY role, q
"""


CORE_QUERIES: Dict[str, Callable] = {
    "stats_value": q_stats_value,
    "profile_stats": q_profile_stats,
    "window_stats": q_window_stats,
    "window_drift": q_window_drift,
    "null_rates": q_null_rates,
    "distinct_exact": q_distinct_exact,
    "distinct_hll": q_distinct_hll,
    "quantiles_value": q_quantiles_value,
    "group_quantiles": q_group_quantiles,
    "quantiles_kll": q_quantiles_kll,
    "unique_key": q_unique_key,
    "ref_vocab": q_ref_vocab,
    "vocab_diff": q_vocab_diff,
    "ordering": q_ordering,
    "session_stats": q_session_stats,
    "sessionize": q_sessionize,
    "sample_stratified": q_sample_stratified,
    "pricing_summary": q_pricing_summary,
    "segment_revenue": q_segment_revenue,
    "top_orders": q_top_orders,
    "order_priority": q_order_priority,
    "region_rollup": q_region_rollup,
    "rollup_revenue": q_rollup_revenue,
}

CORE_ORACLES: Dict[str, str] = {
    "stats_value": SQL_STATS_VALUE,
    "profile_stats": SQL_PROFILE_STATS,
    "window_stats": SQL_WINDOW_STATS,
    "window_drift": SQL_WINDOW_DRIFT,
    "null_rates": SQL_NULL_RATES,
    "distinct_exact": SQL_DISTINCT_EXACT,
    # distinct_hll / quantiles_kll: sketch estimates, rows-only by design
    "quantiles_value": SQL_QUANTILES_VALUE,
    "group_quantiles": SQL_GROUP_QUANTILES,
    "unique_key": SQL_UNIQUE_KEY,
    "ref_vocab": SQL_REF_VOCAB,
    "vocab_diff": SQL_VOCAB_DIFF,
    "ordering": SQL_ORDERING,
    "session_stats": SQL_SESSION_STATS,
    "sessionize": SQL_SESSIONIZE,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "segment_revenue": SQL_SEGMENT_REVENUE,
    "top_orders": SQL_TOP_ORDERS,
    "order_priority": SQL_ORDER_PRIORITY,
    "region_rollup": SQL_REGION_ROLLUP,
    "rollup_revenue": SQL_ROLLUP_REVENUE,
}
