"""Driver-contract query catalog: Spark queries + DuckDB oracle SQL.

One entry per implemented operator from SURVEY.md §2 (the ES/Lucene query
surface B*, the reference-ETL analogues A*, the engine's text/IR layer, and
the training-data pipeline ops). Every SQL-expressible entry has a DuckDB
oracle returning the SAME column names and (rounded) values, so the
driver's row-count + schema + order-insensitive value-hash check passes;
genuinely non-SQL ops (the indexed BM25 engine itself, approx dedup/ANN)
are exported without an oracle and get the rows-only check.

Parity rules used throughout:
  * every computed column aliased identically in Spark and SQL;
  * floats rounded to 6 (or 5) decimals on BOTH sides;
  * any LIMIT/top-k goes through an explicit total order (unique
    tie-break) so both engines select the same rows;
  * timestamps emitted as formatted strings (engine-neutral hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from .functions.parity import duck_round

# ---------------------------------------------------------------------------
# shared constants

TOK = r"[a-z0-9_]+"
BM25_QUERY = ["spark", "table", "join", "scan"]
BM25_K = 20
AND_TERMS = ["spark", "join"]
STOPWORDS = ["the", "a", "of", "to", "and", "in"]
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "simple": ["data", "row", "table"],
    "tech": ["spark", "query", "join"],
}
FP_MOD = 1_000_000_007


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _toks(col):
    # coalesce('') so a NULL text tokenizes to [] (dl=0) — identical to the
    # oracle's coalesce(dl, 0), instead of NULL silently dropping the doc
    # from avg(dl)
    return F.regexp_extract_all(F.lower(F.coalesce(col, F.lit(""))), F.lit(TOK), 0)


# DuckDB-side tokenizer expression (same \w+ semantics)
SQL_TOKS = "regexp_extract_all(lower({col}), '[a-z0-9_]+')"


# ---------------------------------------------------------------------------
# B*: ES/Lucene query-DSL analogues over the driver tables

def q_range_query(spark, sf_dir):  # B6
    return (
        _t(spark, sf_dir, "events")
        .filter(
            (F.col("ts") >= "2024-01-03")
            & (F.col("ts") < "2024-01-06")
            & (F.col("value") > 50.0)
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), duck_round(F.sum("value"), 6).alias("sum_value"))
    )


SQL_RANGE_QUERY = """
SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-06' AND value > 50.0
GROUP BY event_type
"""


def q_sort_topk(spark, sf_dir):  # B8
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", duck_round("o_totalprice", 6).alias("price"))
    )


SQL_SORT_TOPK = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
"""


def q_pagination(spark, sf_dir):  # B9: from/size = rows 21..40 of the ranking
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > 20) & (F.col("rn") <= 40))
        .select("rn", "o_orderkey", duck_round("o_totalprice", 6).alias("price"))
    )


SQL_PAGINATION = """
SELECT rn, o_orderkey, price FROM (
  SELECT row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
         o_orderkey, round(o_totalprice, 6) AS price
  FROM orders
) WHERE rn > 20 AND rn <= 40
"""


def q_terms_agg(spark, sf_dir):  # B10: top buckets by doc count
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("lang"))
        .limit(3)
    )


SQL_TERMS_AGG = """
SELECT lang, count(*) AS doc_count FROM documents
GROUP BY lang ORDER BY doc_count DESC, lang ASC LIMIT 3
"""


def q_date_histogram(spark, sf_dir):  # B11
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n"), duck_round(F.sum("value"), 6).alias("sum_value"))
    )


SQL_DATE_HISTOGRAM = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) AS n, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1
"""


def q_stats_agg(spark, sf_dir):  # B12 (TPC-H Q1 shape)
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            duck_round(F.sum("l_quantity"), 6).alias("sum_qty"),
            duck_round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            duck_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias("sum_disc_price"),
            duck_round(F.avg("l_quantity"), 6).alias("avg_qty"),
            duck_round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


SQL_STATS_AGG = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       round(sum(l_extendedprice), 6) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_cardinality(spark, sf_dir):  # B13 (exact; HLL++ variant is rows-only q_hll)
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("unique_users"))
    )


SQL_CARDINALITY = """
SELECT event_type, count(DISTINCT user_id) AS unique_users
FROM events GROUP BY event_type
"""


def q_percentiles(spark, sf_dir):  # B14
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            duck_round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            duck_round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        )
    )


SQL_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM events GROUP BY event_type
"""


def q_composite_agg(spark, sf_dir):  # B15
    df = _t(spark, sf_dir, "documents")
    df.createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
               count(*) AS n,
               floor(avg(n_chars) * 1000000 + 0.5) / 1000000 AS avg_chars
        FROM documents_v GROUP BY GROUPING SETS ((lang), (source), ())
        """
    )


SQL_COMPOSITE_AGG = """
SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
       count(*) AS n, round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY GROUPING SETS ((lang), (source), ())
"""


def q_top_hits(spark, sf_dir):  # B16: top-2 docs per lang bucket
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _t(spark, sf_dir, "documents")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("lang", "rn", "doc_id", "n_chars")
    )


SQL_TOP_HITS = """
SELECT lang, rn, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 2
"""


# ---------------------------------------------------------------------------
# A*: reference-ETL relational analogues

def q_join_revenue(spark, sf_dir):  # A4: equi-join chain + agg
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(duck_round(F.sum("o_totalprice"), 6).alias("revenue"), F.count("*").alias("n_orders"))
    )


SQL_JOIN_REVENUE = """
SELECT n_name, round(sum(o_totalprice), 6) AS revenue, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_balance_rollup(spark, sf_dir):  # A5: per-key balance = sum of amounts
    o = _t(spark, sf_dir, "orders")
    top = (
        o.groupBy("o_custkey")
        .agg(duck_round(F.sum("o_totalprice"), 6).alias("balance"), F.count("*").alias("n_orders"))
        .orderBy(F.desc("balance"), F.asc("o_custkey"))
        .limit(50)
    )
    return top


SQL_BALANCE_ROLLUP = """
SELECT o_custkey, round(sum(o_totalprice), 6) AS balance, count(*) AS n_orders
FROM orders GROUP BY o_custkey
ORDER BY balance DESC, o_custkey ASC LIMIT 50
"""


def q_anti_semi_join(spark, sf_dir):
    """A7 reorg-delete analogues in one entry: LEFT ANTI (customers with
    no orders, counted per nation — keys absent downstream) and LEFT SEMI
    (nations having at least one supplier), tagged by kind over a shared
    (kind, key, n) schema."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    anti = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("anti").alias("kind"),
            F.col("c_nationkey").cast("long").alias("key"),
            "n",
        )
    )
    n_ = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    semi = (
        n_.join(s, n_["n_nationkey"] == s["s_nationkey"], "left_semi")
        .select(
            F.lit("semi").alias("kind"),
            F.col("n_nationkey").cast("long").alias("key"),
            F.lit(1).cast("long").alias("n"),
        )
    )
    return anti.unionByName(semi)


SQL_ANTI_SEMI_JOIN = """
SELECT 'anti' AS kind, CAST(c_nationkey AS BIGINT) AS key, count(*) AS n
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_nationkey
UNION ALL
SELECT 'semi' AS kind, CAST(n_nationkey AS BIGINT) AS key, CAST(1 AS BIGINT) AS n
FROM nation
WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
"""


def q_json_extract(spark, sf_dir):  # events.props JSON -> typed field + agg
    return (
        _t(spark, sf_dir, "events")
        .withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(duck_round(F.avg("k"), 6).alias("avg_k"), F.max("k").alias("max_k"))
    )


SQL_JSON_EXTRACT = """
SELECT event_type, round(avg(k), 6) AS avg_k, max(k) AS max_k
FROM (SELECT event_type, cast(json_extract(props, '$.k') AS INT) AS k FROM events)
GROUP BY event_type
"""


EQL_STEPS = ("signup", "purchase", "error")
EQL_MAXSPAN_S = 24 * 3600


def q_window_lag(spark, sf_dir):
    """Event analytics over `events` in ONE entry, tagged by kind:

    * ``lag_increases`` — per-user count of value increases over the
      (ts, event_id) order (analytic lag window); key = user_id,
      n = count.
    * ``eql_seq`` — the ES EQL ``sequence`` surface (plans/eql.py,
      pinned earliest-continuation reading): ``sequence by user_id
      [signup] [purchase] [error] with maxspan=24h``; key =
      user:e1:e2:e3 event ids, n = span_us (integer microseconds —
      unix_micros both sides, exact). The engine runs k-1 struct-min
      window passes on one Exchange; the twin mirrors the semantics
      with row_number + min-over-following-frame + self-joins.
    * ``eql_sample`` — EQL ``sample by user_id`` over the same three
      conditions (un-sequenced: earliest match per condition, key
      emits iff all conditions match — ONE groupBy with struct-min
      aggregates); key = user:e1:e2:e3, n = spread_us (max - min of
      the bound timestamps).
    * ``esql`` — the ES|QL piped language (plans/esql.py): a
      WHERE/EVAL/STATS/SORT/LIMIT pipeline lowered onto
      filter/withColumn/groupBy/top-n, integer-cents exact; key =
      user_id:count, n = sum_cents — the twin is the literally
      equivalent SQL.
    * ``esql_inline`` — ES|QL ``INLINESTATS`` (8.x): per-user purchase
      totals APPENDED to every purchase row (groupBy/agg + equi-join
      back on the BY key — NOT a window, which would shuffle the full
      row payload and can't express DISTINCT aggs), then rows whose
      cents exceed half their user's total; integer-cents exact, the
      LIMIT edge orders on the unique (cents DESC, event_id ASC); the
      twin is a window-sum + QUALIFY.
    * ``esql_mv`` — ES|QL multivalue functions MV_COUNT/MV_MAX/MV_MIN
      over the embeddings array column; the selection edge orders on
      the RAW float MV_MAX (never rounded — both engines compare the
      identical f32 values; vec_id breaks ties), emission is the
      integer MV_COUNT, so the entry is bit-exact with zero float
      emission.
    * ``esql_bucket`` — the session-3 ``STATS ... BY b = BUCKET(value,
      25.0), event_type`` surface: floor-arithmetic bucket keys (DOUBLE-
      pinned span) with integer-cents sums; key = et:bucket:count,
      n = sum_cents — exact on both sides.
    * ``esql_cast`` — session-4 ``::LONG`` postfix casts +
      ``DATE_EXTRACT`` ChronoField literals grouping by extracted
      year/month (BIGINT both sides); key = et:yr:mo:count,
      n = sum_cents.
    * ``esql_mvx`` — session-4 MV_SLICE (head-8) + MV_MEDIAN: the
      selection edge orders on the RAW f64 median of double-cast f32
      elements (even count — the middle pair averages two identical
      f64s on both sides), vec_id ties; emission is the integer slice
      length."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag = (
        _t(spark, sf_dir, "events")
        .withColumn("prev", F.lag("value").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("value") > F.col("prev")))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("lag_increases").alias("kind"),
            F.col("user_id").cast("string").alias("key"),
            "n",
        )
    )
    from bitcoin_ledger_2es_spark.plans.eql import eql_sequence

    seq = eql_sequence(
        _t(spark, sf_dir, "events"),
        [F.col("event_type") == t for t in EQL_STEPS],
        by="user_id", maxspan_s=EQL_MAXSPAN_S,
    ).select(
        F.lit("eql_seq").alias("kind"),
        F.concat_ws(
            ":", F.col("user_id").cast("string"),
            F.col("e1_id").cast("string"), F.col("e2_id").cast("string"),
            F.col("e3_id").cast("string"),
        ).alias("key"),
        F.col("span_us").alias("n"),
    )
    from bitcoin_ledger_2es_spark.plans.eql import eql_sample

    smp = eql_sample(
        _t(spark, sf_dir, "events"),
        [F.col("event_type") == t for t in EQL_STEPS],
        by="user_id",
    ).select(
        F.lit("eql_sample").alias("kind"),
        F.concat_ws(
            ":", F.col("user_id").cast("string"),
            F.col("e1_id").cast("string"), F.col("e2_id").cast("string"),
            F.col("e3_id").cast("string"),
        ).alias("key"),
        F.col("spread_us").alias("n"),
    )
    from bitcoin_ledger_2es_spark.plans.esql import esql

    eq = esql(
        'FROM events'
        ' | WHERE event_type == "purchase"'
        ' | EVAL cents = TO_LONG(ROUND(value * 100))'
        ' | STATS n = COUNT(*), sum_cents = SUM(cents) BY user_id'
        ' | SORT sum_cents DESC, user_id ASC'
        ' | LIMIT 10',
        {"events": _t(spark, sf_dir, "events")},
    ).select(
        F.lit("esql").alias("kind"),
        F.concat_ws(
            ":", F.col("user_id").cast("string"), F.col("n").cast("string")
        ).alias("key"),
        F.col("sum_cents").alias("n"),
    )
    inl = esql(
        'FROM events'
        ' | WHERE event_type == "purchase"'
        ' | EVAL cents = TO_LONG(ROUND(value * 100))'
        ' | INLINESTATS user_cents = SUM(cents) BY user_id'
        ' | WHERE cents * 2 > user_cents'
        ' | SORT cents DESC, event_id ASC'
        ' | LIMIT 20',
        {"events": _t(spark, sf_dir, "events")},
    ).select(
        F.lit("esql_inline").alias("kind"),
        F.concat_ws(
            ":", F.col("event_id").cast("string"),
            F.col("user_id").cast("string"), F.col("cents").cast("string"),
        ).alias("key"),
        F.col("user_cents").alias("n"),
    )
    mv = esql(
        'FROM embeddings'
        ' | EVAL n = TO_LONG(MV_COUNT(embedding)), mx = MV_MAX(embedding),'
        '        mn = MV_MIN(embedding)'
        ' | WHERE mn < 0'
        ' | SORT mx DESC, vec_id ASC'
        ' | LIMIT 15',
        {"embeddings": _t(spark, sf_dir, "embeddings")},
    ).select(
        F.lit("esql_mv").alias("kind"),
        F.col("vec_id").cast("string").alias("key"),
        F.col("n"),
    )
    bk = esql(
        'FROM events'
        ' | EVAL cents = TO_LONG(ROUND(value * 100))'
        ' | STATS n_ev = COUNT(*), sc = SUM(cents)'
        ' BY b = BUCKET(value, 25.0), event_type',
        {"events": _t(spark, sf_dir, "events")},
    ).select(
        F.lit("esql_bucket").alias("kind"),
        F.concat_ws(
            ":", "event_type", F.col("b").cast("long").cast("string"),
            F.col("n_ev").cast("string"),
        ).alias("key"),
        F.col("sc").alias("n"),
    )
    ec = esql(
        'FROM events'
        ' | EVAL cents = ROUND(value * 100)::LONG,'
        '        yr = DATE_EXTRACT("year", ts),'
        '        mo = DATE_EXTRACT("month_of_year", ts)'
        ' | STATS n_ev = COUNT(*), sc = SUM(cents) BY yr, mo, event_type',
        {"events": _t(spark, sf_dir, "events")},
    ).select(
        F.lit("esql_cast").alias("kind"),
        F.concat_ws(
            ":", "event_type", F.col("yr").cast("string"),
            F.col("mo").cast("string"), F.col("n_ev").cast("string"),
        ).alias("key"),
        F.col("sc").alias("n"),
    )
    mvx = esql(
        'FROM embeddings'
        ' | EVAL hd = MV_SLICE(embedding, 0, 7),'
        '        n = MV_COUNT(hd)::LONG, md = MV_MEDIAN(hd)'
        ' | WHERE md > 0'
        ' | SORT md DESC, vec_id ASC'
        ' | LIMIT 12',
        {"embeddings": _t(spark, sf_dir, "embeddings")},
    ).select(
        F.lit("esql_mvx").alias("kind"),
        F.col("vec_id").cast("string").alias("key"),
        F.col("n"),
    )
    return (lag.unionByName(seq).unionByName(smp).unionByName(eq)
            .unionByName(inl).unionByName(mv).unionByName(bk)
            .unionByName(ec).unionByName(mvx))


SQL_WINDOW_LAG = f"""
WITH ev AS (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
-- earliest FOLLOWING match of the next step, per row (the twin of the
-- engine's struct-min window pass): n3 = next step-3 row, n2 = next
-- step-2 row; the chain walks n2 then that row's n3 — no backtracking.
nx AS (
  SELECT *, min(CASE WHEN event_type = '{EQL_STEPS[2]}' THEN rn END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n3
  FROM ev
),
nx2 AS (
  SELECT *, min(CASE WHEN event_type = '{EQL_STEPS[1]}' THEN rn END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n2
  FROM nx
)
SELECT 'lag_increases' AS kind, CAST(user_id AS VARCHAR) AS key,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT user_id, value, lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
) WHERE prev IS NOT NULL AND value > prev
GROUP BY user_id
UNION ALL
SELECT 'eql_seq' AS kind,
       concat_ws(':', s1.user_id, s1.event_id, s2.event_id, s3.event_id) AS key,
       epoch_us(s3.ts) - epoch_us(s1.ts) AS n
FROM nx2 s1
JOIN nx2 s2 ON s2.user_id = s1.user_id AND s2.rn = s1.n2
JOIN nx2 s3 ON s3.user_id = s2.user_id AND s3.rn = s2.n3
WHERE s1.event_type = '{EQL_STEPS[0]}'
  AND epoch_us(s3.ts) - epoch_us(s1.ts) <= CAST({EQL_MAXSPAN_S} AS BIGINT) * 1000000
UNION ALL
SELECT 'eql_sample' AS kind,
       concat_ws(':', a.user_id, a.event_id, b.event_id, c.event_id) AS key,
       greatest(epoch_us(a.ts), epoch_us(b.ts), epoch_us(c.ts))
         - least(epoch_us(a.ts), epoch_us(b.ts), epoch_us(c.ts)) AS n
FROM (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = '{EQL_STEPS[0]}'
) a
JOIN (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = '{EQL_STEPS[1]}'
) b ON b.user_id = a.user_id AND b.rn = 1
JOIN (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = '{EQL_STEPS[2]}'
) c ON c.user_id = a.user_id AND c.rn = 1
WHERE a.rn = 1
UNION ALL
SELECT 'esql' AS kind, concat_ws(':', user_id, n) AS key, sum_cents AS n
FROM (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
  ORDER BY sum_cents DESC, user_id ASC
  LIMIT 10
)
UNION ALL
-- esql_inline: INLINESTATS twin = window-sum appended per row + QUALIFY;
-- integer cents both sides, selection edge = unique (cents, event_id)
SELECT 'esql_inline' AS kind,
       concat_ws(':', event_id, user_id, cents) AS key,
       user_cents AS n
FROM (
  SELECT event_id, user_id, cents,
         CAST(sum(cents) OVER (PARTITION BY user_id) AS BIGINT) AS user_cents
  FROM (
    SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
  )
  QUALIFY cents * 2 > user_cents
  ORDER BY cents DESC, event_id ASC
  LIMIT 20
)
UNION ALL
-- esql_mv: MV_COUNT/MV_MAX/MV_MIN; order on the RAW f32 list_max (no
-- rounding — identical float values compare identically), emit the
-- integer count only
SELECT 'esql_mv' AS kind, key, n
FROM (
  SELECT CAST(vec_id AS VARCHAR) AS key, CAST(len(embedding) AS BIGINT) AS n
  FROM embeddings
  WHERE list_min(embedding) < 0
  ORDER BY list_max(embedding) DESC, vec_id ASC
  LIMIT 15
)
UNION ALL
-- esql_bucket: the session-3 BUCKET(expr, span) grouping key — floor
-- arithmetic at a DOUBLE-pinned span, integer-cents sums; the bucket
-- key re-renders as its exact BIGINT (spans of 25 keep it integral)
SELECT 'esql_bucket' AS kind,
       concat_ws(':', event_type, CAST(CAST(b AS BIGINT) AS VARCHAR),
                 CAST(n_ev AS VARCHAR)) AS key,
       sc AS n
FROM (
  SELECT floor(value / CAST(25.0 AS DOUBLE)) * CAST(25.0 AS DOUBLE) AS b,
         event_type,
         CAST(count(*) AS BIGINT) AS n_ev,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc
  FROM events GROUP BY 1, 2
)
UNION ALL
-- esql_cast: ::LONG postfix casts + DATE_EXTRACT ChronoField literals;
-- the extracted year/month are BIGINT (ES long) on both sides
SELECT 'esql_cast' AS kind,
       concat_ws(':', event_type, CAST(yr AS VARCHAR), CAST(mo AS VARCHAR),
                 CAST(n_ev AS VARCHAR)) AS key,
       sc AS n
FROM (
  SELECT CAST(year(ts) AS BIGINT) AS yr, CAST(month(ts) AS BIGINT) AS mo,
         event_type,
         CAST(count(*) AS BIGINT) AS n_ev,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc
  FROM events GROUP BY 1, 2, 3
)
UNION ALL
-- esql_mvx: MV_SLICE head-8 + MV_MEDIAN selection edge. The engine
-- casts elements to DOUBLE BEFORE sorting; f32->f64 preserves order,
-- and the even-count middle pair averages two identical f64s both
-- sides — the edge orders on the RAW median (never rounded), vec_id
-- breaks ties, emission is the integer slice length only.
SELECT 'esql_mvx' AS kind, key, n
FROM (
  SELECT CAST(vec_id AS VARCHAR) AS key, CAST(len(hd) AS BIGINT) AS n,
         (CAST(s[cast((len(hd) + 1) // 2 AS BIGINT)] AS DOUBLE)
          + CAST(s[cast(len(hd) // 2 + 1 AS BIGINT)] AS DOUBLE)) / 2.0 AS md
  FROM (
    SELECT vec_id, hd,
           list_sort(list_transform(hd, x -> CAST(x AS DOUBLE))) AS s
    FROM (SELECT vec_id, embedding[1:8] AS hd FROM embeddings)
  )
  WHERE (CAST(s[cast((len(hd) + 1) // 2 AS BIGINT)] AS DOUBLE)
         + CAST(s[cast(len(hd) // 2 + 1 AS BIGINT)] AS DOUBLE)) / 2.0 > 0
  ORDER BY md DESC, vec_id ASC
  LIMIT 12
)
"""


# ---------------------------------------------------------------------------
# B1-B4: analyzer + BM25 over the `documents` corpus, fully relational
# (the indexed engine path is exercised by entry() and the pytest oracle
# gate; this SQL-expressible replica proves scoring parity against DuckDB)

def _doc_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", _toks(F.col("text")).alias("toks"))
    return d.withColumn("dl", F.size("toks"))


def _bm25_relational(spark, sf_dir, terms: list[str], mode: str, k: int):
    """BM25 (k1=1.2, b=0.75) via pure DataFrame ops; rank by rounded score."""
    d = _doc_tokens(spark, sf_dir).cache()
    n_docs_avgdl = d.agg(F.count("*").alias("n"), F.avg("dl").alias("a")).collect()[0]
    n_docs, avgdl = int(n_docs_avgdl["n"]), float(n_docs_avgdl["a"])
    tok = d.select("doc_id", "dl", F.explode("toks").alias("term")).filter(
        F.col("term").isin(terms)
    )
    tf = tok.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn("idf", F.log(1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)))
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (1.2 + 1.0))
            / (F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.lit(avgdl))),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        duck_round(F.sum("contrib"), 6).alias("score"), F.count("*").alias("n_terms")
    )
    if mode == "and":
        agg = agg.filter(F.col("n_terms") == len(set(terms)))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("rank", "doc_id", "score")
    )


def _sql_bm25(terms: list[str], mode: str, k: int) -> str:
    term_list = ", ".join(f"'{t}'" for t in terms)
    and_filter = f"HAVING count(*) = {len(set(terms))}" if mode == "and" else ""
    return f"""
WITH toks AS (
  SELECT doc_id, u.tok AS term
  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
),
dls AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
),
corpus AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
),
tf AS (
  SELECT t.doc_id, t.term, count(*) AS tf FROM toks t
  WHERE t.term IN ({term_list}) GROUP BY t.doc_id, t.term
),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
  FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
),
agg AS (
  SELECT doc_id, round(sum(contrib), 6) AS score, count(*) AS n_terms
  FROM scored GROUP BY doc_id {and_filter}
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id, score
  FROM agg
) WHERE rank <= {k}
"""


def q_bm25_topk(spark, sf_dir):  # B3 match query, OR, top-k
    return _bm25_relational(spark, sf_dir, BM25_QUERY, "or", BM25_K)


SQL_BM25_TOPK = _sql_bm25(BM25_QUERY, "or", BM25_K)


def q_term_query(spark, sf_dir):  # B2 single exact term
    return _bm25_relational(spark, sf_dir, ["window"], "or", 10)


SQL_TERM_QUERY = _sql_bm25(["window"], "or", 10)


def q_bool_and_query(spark, sf_dir):  # B4 bool must
    return _bm25_relational(spark, sf_dir, AND_TERMS, "and", 10)


SQL_BOOL_AND_QUERY = _sql_bm25(AND_TERMS, "and", 10)


def q_ids_lookup(spark, sf_dir):  # B7: fetch by _id
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin([5, 17, 42, 333]))
        .select("doc_id", "lang", "source", "n_chars")
    )


SQL_IDS_LOOKUP = """
SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id IN (5, 17, 42, 333)
"""


def q_set_ops(spark, sf_dir):  # union/except over key sets
    e = _t(spark, sf_dir, "events")
    clickers = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    erroring = e.filter(F.col("event_type") == "error").select("user_id").distinct()
    return clickers.exceptAll(erroring).withColumnRenamed("user_id", "click_only_user")


SQL_SET_OPS = """
SELECT user_id AS click_only_user FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error'
"""


ENGINE_QUERIES = [  # (query_id, text, mode) for the indexed-engine oracle
    (0, "spark table join scan", "or"),
    (1, "window", "or"),
    (2, "spark join", "and"),
]


def _docs_as_transcripts(docs: DataFrame) -> DataFrame:
    """documents -> transcripts shape, conv rank == doc_id (dense ids)."""
    return docs.select(
        F.format_string("c%08d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )



# One BM25 index per (sf_dir, variant) per process: ~10 gate entries query
# the same engine index; building it once cuts the driver-gate wall time
# by the ~9 redundant SPIMI builds. Content is deterministic, so sharing
# is observationally identical to per-entry builds.
_ENGINE_CACHE: dict = {}


def _engine_searcher(spark, sf_dir: str, positions: bool = False):
    from bitcoin_ledger_2es_spark import BM25Searcher, build_index
    from bitcoin_ledger_2es_spark.config import DEFAULT

    key = (sf_dir, positions)
    if key not in _ENGINE_CACHE:
        cfg = DEFAULT.with_(
            docs_per_shard=256, block_size=64, index_rollups=False,
            store_positions=positions,
        )
        docs = _t(spark, sf_dir, "documents")
        _ENGINE_CACHE[key] = BM25Searcher(build_index(_docs_as_transcripts(docs), cfg))
    return _ENGINE_CACHE[key]


def q_bm25_indexed_engine(spark, sf_dir):
    """The REAL engine (SPIMI index -> block-max WAND / vectorized scorer)
    vs the DuckDB full-scoring oracle: every matching doc for each query
    (k unbounded, so no selection boundary), scores f32-quantized then
    rounded identically on both sides — a driver-checked, order-
    insensitive exact match of the indexed engine's output."""
    s = _engine_searcher(spark, sf_dir)
    out = None
    for qid, text, mode in ENGINE_QUERIES:
        r = s.top_k(text, k=1_000_000, mode=mode, with_meta=False).select(
            F.lit(qid).cast("long").alias("query_id"),
            "doc_id",
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
        )
        out = r if out is None else out.unionByName(r)
    return out


def _sql_bm25_allmatch(
    qid: int, terms: list[str], mode: str, src: str = "documents"
) -> str:
    """Full-match BM25 twin over corpus ``src`` (a table name or a
    parenthesized subquery — the expunged-index twin scores over the
    LIVE corpus only, which is exactly the post-merge Lucene statistics
    model)."""
    term_list = ", ".join(f"'{t}'" for t in terms)
    and_filter = f"HAVING count(*) = {len(set(terms))}" if mode == "and" else ""
    return f"""
SELECT {qid} AS query_id, doc_id,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3
FROM (
  WITH toks AS (
    SELECT doc_id, u.tok AS term
    FROM {src} AS documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  ),
  dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
  corpus AS (
    SELECT (SELECT count(*) FROM {src} AS d0) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM {src} AS documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  tf AS (
    SELECT t.doc_id, t.term, count(*) AS tf FROM toks t
    WHERE t.term IN ({term_list}) GROUP BY t.doc_id, t.term
  ),
  dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
  scored AS (
    SELECT tf.doc_id,
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
    FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
  )
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id {and_filter}
)
"""


SQL_BM25_INDEXED_ENGINE = "\nUNION ALL\n".join(
    _sql_bm25_allmatch(qid, text.split(), mode) for qid, text, mode in ENGINE_QUERIES
)


# ---------------------------------------------------------------------------
# B5 match_phrase: the REAL positional engine (positions stream in the
# posting blocks, consecutive-position intersection kernel) vs a DuckDB
# positional self-join oracle. Lucene PhraseQuery scoring: tf = phrase
# frequency, idf = sum of per-term idfs in query order.

PHRASE_QUERIES = [
    (0, "spark table"),
    (1, "the data"),
    (2, "data row table"),
]


def q_match_phrase(spark, sf_dir):
    s = _engine_searcher(spark, sf_dir, positions=True)
    out = None
    for qid, text in PHRASE_QUERIES:
        r = s.phrase_query(text, k=1_000_000).select(
            F.lit(qid).cast("long").alias("query_id"),
            "doc_id",
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
            "phrase_freq",
        )
        out = r if out is None else out.unionByName(r)
    return out


def _sql_phrase_allmatch(qid: int, terms: list[str]) -> str:
    # idf summed in QUERY order (duplicates counted), left-associated like
    # the engine's python accumulation
    idf_terms = " + ".join(
        "ln(1.0 + (c.n_docs - "
        f"(SELECT count(DISTINCT doc_id) FROM toks WHERE tok = '{t}')"
        " + 0.5) / ("
        f"(SELECT count(DISTINCT doc_id) FROM toks WHERE tok = '{t}')"
        " + 0.5))"
        for t in terms
    )
    joins = "\n    ".join(
        f"JOIN toks t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.pos = t0.pos + {i} "
        f"AND t{i}.tok = '{terms[i]}'"
        for i in range(1, len(terms))
    )
    return f"""
SELECT {qid} AS query_id, doc_id,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3, phrase_freq
FROM (
  WITH toks AS (
    SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t FROM documents)
  ),
  dls AS (
    SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS dl FROM documents
  ),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  sumidf AS (SELECT ({idf_terms}) AS sidf FROM corpus c),
  pf AS (
    SELECT t0.doc_id, count(*) AS phrase_freq
    FROM toks t0
    {joins}
    WHERE t0.tok = '{terms[0]}'
    GROUP BY t0.doc_id
  )
  SELECT pf.doc_id,
         s.sidf * pf.phrase_freq * 2.2
           / (pf.phrase_freq + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS score,
         pf.phrase_freq
  FROM pf JOIN dls USING (doc_id), corpus c, sumidf s
)
"""


SQL_MATCH_PHRASE = "\nUNION ALL\n".join(
    _sql_phrase_allmatch(qid, text.split()) for qid, text in PHRASE_QUERIES
)

# ---------------------------------------------------------------------------
# B4 full bool surface: must_not (postings-derived exclusion) and
# should + minimum_should_match, answered by the REAL indexed engine
# (score_shard_clauses kernel) with k unbounded (no selection boundary), vs a
# DuckDB full-scoring oracle with conditional clause counts. Terms are
# chosen non-overlapping across clauses so occurrence weights are all 1.

BOOL_QUERIES = [
    # (qid, must, should, must_not, minimum_should_match)
    (0, "spark table", "", "join", None),
    (1, "window", "", "the", None),
    (2, "", "spark join scan table", "", 2),
    (3, "", "the data row", "window", 2),
    (4, "data", "spark join", "scan", 1),
]


def q_bool_must_not_query(spark, sf_dir):
    s = _engine_searcher(spark, sf_dir)
    out = None
    for qid, must, should, must_not, min_m in BOOL_QUERIES:
        r = s.bool_query(
            must=must, should=should, must_not=must_not, k=1_000_000,
            minimum_should_match=min_m, with_meta=False,
        ).select(
            F.lit(qid).cast("long").alias("query_id"),
            "doc_id",
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
        )
        out = r if out is None else out.unionByName(r)
    return out


def _sql_bool_allmatch(qid, must, should, must_not, min_m) -> str:
    musts, shoulds, nots = must.split(), should.split(), must_not.split()
    if min_m is None:
        min_m = 1 if (shoulds and not musts) else 0
    scoring = ", ".join(f"'{t}'" for t in dict.fromkeys(musts + shoulds))
    conds = []
    if musts:
        mlist = ", ".join(f"'{t}'" for t in musts)
        conds.append(f"count(CASE WHEN term IN ({mlist}) THEN 1 END) = {len(set(musts))}")
    if min_m > 0:
        slist = ", ".join(f"'{t}'" for t in shoulds)
        conds.append(f"count(CASE WHEN term IN ({slist}) THEN 1 END) >= {min_m}")
    having = "HAVING " + " AND ".join(conds) if conds else ""
    excl = ""
    if nots:
        nlist = ", ".join(f"'{t}'" for t in nots)
        excl = f"WHERE doc_id NOT IN (SELECT doc_id FROM toks WHERE term IN ({nlist}))"
    return f"""
SELECT {qid} AS query_id, doc_id,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3
FROM (
  WITH toks AS (
    SELECT doc_id, u.tok AS term
    FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  ),
  dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  tf AS (
    SELECT t.doc_id, t.term, count(*) AS tf FROM toks t
    WHERE t.term IN ({scoring}) GROUP BY t.doc_id, t.term
  ),
  dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
  scored AS (
    SELECT tf.doc_id, tf.term,
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
    FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
  ),
  agg AS (
    SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id {having}
  )
  SELECT doc_id, score FROM agg {excl}
)
"""


SQL_BOOL_MUST_NOT_QUERY = "\nUNION ALL\n".join(
    _sql_bool_allmatch(*q) for q in BOOL_QUERIES
)


def q_bm25_nrt_compaction(spark, sf_dir):
    """The full NRT segment LIFECYCLE in one gate entry: the documents
    corpus is split into TWO index segments (docs below/above the median
    id), (a) ``segmented`` — queried through SegmentedSearcher with
    GLOBAL corpus stats; (b) ``compacted`` — the raw transcripts are
    DELETED and the segments merged from their postings alone
    (Lucene-style posting-level compaction), queried again; both must
    score exactly like one from-scratch index (full-corpus BM25 oracle).
    Round 4 extends the lifecycle with the deleted-docs era:
    (c) ``tombstoned`` — after ``delete_by_query('window')`` the same
    queries must return exactly the compacted scores MINUS the deleted
    docs (Lucene deleted-docs model: df/idf/avgdl keep counting
    tombstones, so surviving scores are bit-unchanged — oracle = the
    full-corpus twin filtered by the delete set); (d) ``expunged`` —
    after ``expunge()`` statistics are recomputed over live docs only
    (oracle = the same BM25 twin with the corpus src replaced by the
    live subset). Round 5 adds the DURABLE per-doc soft-delete path on
    a copy of the store: (e) ``soft_deleted`` — sidecar tombstones,
    zero segment rewrites, segmented scores minus deleted docs;
    (f) ``soft_expunged`` — expunge_store rewrite, live-corpus stats.
    Segment doc_ids are internal (offset by seg base); the stable
    external id is recovered from conv_id on the segmented side."""
    import shutil
    import tempfile
    from pathlib import Path

    from bitcoin_ledger_2es_spark import BM25Searcher
    from bitcoin_ledger_2es_spark.config import DEFAULT
    from bitcoin_ledger_2es_spark.streaming.incremental import (
        SegmentedSearcher,
        build_segment,
        compact,
    )

    docs = _t(spark, sf_dir, "documents")
    transcripts = _docs_as_transcripts(docs)
    cfg = DEFAULT.with_(docs_per_shard=256, block_size=64, index_rollups=False)
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    root = tempfile.mkdtemp(prefix="nrtidx_")
    build_segment(
        spark, transcripts.filter(F.col("conv_id") < f"c{int(median):08d}"), root, 0, cfg
    )
    build_segment(
        spark, transcripts.filter(F.col("conv_id") >= f"c{int(median):08d}"), root, 1, cfg
    )
    seg = SegmentedSearcher(spark, root, cfg)
    out = None
    for qid, text, mode in ENGINE_QUERIES:
        r = seg.top_k(text, k=1_000_000, mode=mode).select(
            F.lit("segmented").alias("variant"),
            F.lit(qid).cast("long").alias("query_id"),
            F.substring("conv_id", 2, 8).cast("long").alias("doc_id"),
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
        )
        out = r if out is None else out.unionByName(r)
    out = out.localCheckpoint()  # materialize BEFORE the raws are deleted

    # Round 5 extends the lifecycle with the DURABLE per-doc soft-delete
    # path, on a COPY of the store (the main lifecycle below must keep
    # its full corpus): (e) ``soft_deleted`` — soft_delete_by_query
    # writes tombstone SIDECARS (zero segment rewrites); a fresh
    # SegmentedSearcher must serve the segmented scores MINUS the
    # deleted docs, stats unchanged (same twin shape as ``tombstoned``);
    # (f) ``soft_expunged`` — expunge_store rewrites only the affected
    # segments; statistics recompute over live docs (same twin as
    # ``expunged``, ids recovered from conv_id because a rebuild
    # renumbers internal doc_ids).
    from bitcoin_ledger_2es_spark.streaming.incremental import (
        expunge_store,
        soft_delete_by_query,
    )

    root2 = root + "_soft"
    shutil.copytree(root, root2)
    soft_delete_by_query(spark, root2, NRT_DELETE_TERM, cfg=cfg)
    seg_soft = SegmentedSearcher(spark, root2, cfg)
    for qid, text, mode in ENGINE_QUERIES:
        r = seg_soft.top_k(text, k=1_000_000, mode=mode).select(
            F.lit("soft_deleted").alias("variant"),
            F.lit(qid).cast("long").alias("query_id"),
            F.substring("conv_id", 2, 8).cast("long").alias("doc_id"),
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
        )
        out = out.unionByName(r)
    # materialize: expunge_store REPLACES segment files; lazy frames over
    # the pre-expunge store would read dead part files
    out = out.localCheckpoint()
    expunge_store(spark, root2, cfg)
    seg_clean = SegmentedSearcher(spark, root2, cfg)
    for qid, text, mode in ENGINE_QUERIES:
        r = seg_clean.top_k(text, k=1_000_000, mode=mode).select(
            F.lit("soft_expunged").alias("variant"),
            F.lit(qid).cast("long").alias("query_id"),
            F.substring("conv_id", 2, 8).cast("long").alias("doc_id"),
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
        )
        out = out.unionByName(r)

    for d in (Path(root) / "segments").iterdir():  # postings-only merge
        t = d / "transcripts"
        if t.exists():
            shutil.rmtree(t)
    s = BM25Searcher(compact(spark, root, cfg, from_postings=True))
    for qid, text, mode in ENGINE_QUERIES:
        r = s.top_k(text, k=1_000_000, mode=mode, with_meta=False).select(
            F.lit("compacted").alias("variant"),
            F.lit(qid).cast("long").alias("query_id"),
            "doc_id",
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
        )
        out = out.unionByName(r)
    s.delete_by_query(NRT_DELETE_TERM)
    for qid, text, mode in ENGINE_QUERIES:
        r = s.top_k(text, k=1_000_000, mode=mode, with_meta=False).select(
            F.lit("tombstoned").alias("variant"),
            F.lit(qid).cast("long").alias("query_id"),
            "doc_id",
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
        )
        out = out.unionByName(r)
    s2 = s.expunge()
    for qid, text, mode in ENGINE_QUERIES:
        r = s2.top_k(text, k=1_000_000, mode=mode, with_meta=False).select(
            F.lit("expunged").alias("variant"),
            F.lit(qid).cast("long").alias("query_id"),
            "doc_id",
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
        )
        out = out.unionByName(r)
    return out


NRT_DELETE_TERM = "window"
_SQL_NRT_DELSET = (
    "SELECT DISTINCT doc_id FROM documents, "
    "unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok) "
    f"WHERE u.tok = '{NRT_DELETE_TERM}'"
)
_SQL_NRT_LIVE = f"(SELECT * FROM documents WHERE doc_id NOT IN ({_SQL_NRT_DELSET}))"

SQL_BM25_NRT_COMPACTION = "\nUNION ALL\n".join(
    [
        # segmentation AND compaction must both be invisible to scoring
        f"SELECT '{variant}' AS variant, * FROM ({SQL_BM25_INDEXED_ENGINE})"
        for variant in ("segmented", "compacted")
    ]
    + [
        # tombstone era: FULL-corpus statistics, live rows only (the
        # Lucene deleted-docs model — surviving scores bit-unchanged)
        "SELECT 'tombstoned' AS variant, * FROM "
        f"({SQL_BM25_INDEXED_ENGINE}) WHERE doc_id NOT IN ({_SQL_NRT_DELSET})",
        # expunged: statistics recomputed over the LIVE corpus only
        "SELECT 'expunged' AS variant, * FROM ("
        + "\nUNION ALL\n".join(
            _sql_bm25_allmatch(qid, text.split(), mode, src=_SQL_NRT_LIVE)
            for qid, text, mode in ENGINE_QUERIES
        )
        + ")",
        # durable soft-delete sidecar era: same statistics model as the
        # in-memory tombstone era (full-corpus stats, live rows only)
        "SELECT 'soft_deleted' AS variant, * FROM "
        f"({SQL_BM25_INDEXED_ENGINE}) WHERE doc_id NOT IN ({_SQL_NRT_DELSET})",
        # after expunge_store: live-corpus statistics, like 'expunged'
        "SELECT 'soft_expunged' AS variant, * FROM ("
        + "\nUNION ALL\n".join(
            _sql_bm25_allmatch(qid, text.split(), mode, src=_SQL_NRT_LIVE)
            for qid, text, mode in ENGINE_QUERIES
        )
        + ")",
    ]
)


def q_search_after(spark, sf_dir):
    """ES search_after deep pagination on the REAL engine: fetch page 1
    (k=20), take its last (score_f32, doc_id) as the cursor, return pages
    2-3 via two stateless cursor queries. The oracle ranks the full
    scoring and takes rows 21..60 — identical iff cursor paging reproduces
    the absolute ranking (rank offset re-added for the hash)."""
    s = _engine_searcher(spark, sf_dir)
    text, k = " ".join(BM25_QUERY), 20
    out = None
    cursor = None
    for page in range(3):
        r = s.top_k(text, k=k, mode="or", with_meta=False, search_after=cursor)
        pdf = r.select("rank", "doc_id", "score").toPandas()
        if page > 0:  # pages 2-3 are the checked output
            page_df = r.select(
                (F.col("rank") + F.lit(page * k)).alias("rank"),
                "doc_id",
                duck_round(F.col("score").cast("double"), 3).alias("score3"),
            )
            out = page_df if out is None else out.unionByName(page_df)
        cursor = (float(pdf["score"].iloc[-1]), int(pdf["doc_id"].iloc[-1]))
    return out


SQL_SEARCH_AFTER = f"""
SELECT rank, doc_id, round(CAST(score AS DOUBLE), 3) AS score3
FROM (
  WITH toks AS (
    SELECT doc_id, u.tok AS term
    FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  ),
  dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  tf AS (
    SELECT t.doc_id, t.term, count(*) AS tf FROM toks t
    WHERE t.term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)}) GROUP BY t.doc_id, t.term
  ),
  dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
  scored AS (
    SELECT tf.doc_id,
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
    FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
  ),
  agg AS (SELECT doc_id, CAST(sum(contrib) AS REAL) AS score FROM scored GROUP BY doc_id)
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM agg
) WHERE rank > 20 AND rank <= 60
"""


def q_bm25_msearch(spark, sf_dir):
    """ES _msearch analogue under the driver gate: top_k_batch answers all
    ENGINE_QUERIES in ONE job over the real index; the oracle ranks each
    query's full scoring by the EXACT f32-cast score (CAST AS REAL) with
    doc_id tie-break — the same ordering key the engine uses."""
    import pandas as pd

    s = _engine_searcher(spark, sf_dir)
    qset = pd.DataFrame(
        [(qid, text, 20, mode) for qid, text, mode in ENGINE_QUERIES],
        columns=["query_id", "query_text", "k", "mode"],
    )
    return s.top_k_batch(qset).select(
        "query_id", "rank", "doc_id",
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
    )


def _sql_msearch_one(qid: int, terms: list[str], mode: str, k: int) -> str:
    # rank by the exact f32 score (CAST(score AS REAL)) then doc_id — the
    # engine's ordering key — so both engines select identical rows even
    # at tie boundaries; emit the 3dp-rounded score for hashing
    term_list = ", ".join(f"'{t}'" for t in terms)
    and_filter = f"HAVING count(*) = {len(set(terms))}" if mode == "and" else ""
    return f"""
SELECT query_id, rank, doc_id,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3
FROM (
  WITH toks AS (
    SELECT doc_id, u.tok AS term
    FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  ),
  dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  tf AS (
    SELECT t.doc_id, t.term, count(*) AS tf FROM toks t
    WHERE t.term IN ({term_list}) GROUP BY t.doc_id, t.term
  ),
  dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
  scored AS (
    SELECT tf.doc_id,
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
    FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
  ),
  agg AS (SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id {and_filter})
  SELECT {qid} AS query_id, doc_id, score,
         row_number() OVER (ORDER BY CAST(score AS REAL) DESC, doc_id ASC) AS rank
  FROM agg
) WHERE rank <= {k}
"""


SQL_BM25_MSEARCH = "\nUNION ALL\n".join(
    _sql_msearch_one(qid, text.split(), mode, 20) for qid, text, mode in ENGINE_QUERIES
)


# slop variant (bigram, ordered within window): pf counts start positions
# p0 of term0 with SOME term1 occurrence in (p0, p0 + 1 + slop]
SLOP_PHRASE = ("spark", "table")
SLOP = 2


def q_match_phrase_slop(spark, sf_dir):
    s = _engine_searcher(spark, sf_dir, positions=True)
    return s.phrase_query(" ".join(SLOP_PHRASE), k=1_000_000, slop=SLOP).select(
        "doc_id",
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        "phrase_freq",
    )


def _sql_phrase_slop(t0: str, t1: str, slop: int) -> str:
    idf_terms = " + ".join(
        "ln(1.0 + (c.n_docs - "
        f"(SELECT count(DISTINCT doc_id) FROM toks WHERE tok = '{t}')"
        " + 0.5) / ("
        f"(SELECT count(DISTINCT doc_id) FROM toks WHERE tok = '{t}')"
        " + 0.5))"
        for t in (t0, t1)
    )
    return f"""
SELECT doc_id, round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3, phrase_freq
FROM (
  WITH toks AS (
    SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t FROM documents)
  ),
  dls AS (
    SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS dl FROM documents
  ),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  sumidf AS (SELECT ({idf_terms}) AS sidf FROM corpus c),
  pf AS (
    SELECT t0.doc_id, count(*) AS phrase_freq
    FROM toks t0
    WHERE t0.tok = '{t0}' AND EXISTS (
      SELECT 1 FROM toks t1 WHERE t1.doc_id = t0.doc_id AND t1.tok = '{t1}'
        AND t1.pos > t0.pos AND t1.pos <= t0.pos + 1 + {slop})
    GROUP BY t0.doc_id
  )
  SELECT pf.doc_id,
         s.sidf * pf.phrase_freq * 2.2
           / (pf.phrase_freq + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS score,
         pf.phrase_freq
  FROM pf JOIN dls USING (doc_id), corpus c, sumidf s
)
"""


SQL_MATCH_PHRASE_SLOP = _sql_phrase_slop(*SLOP_PHRASE, SLOP)


# unordered (ES match_phrase shape) sloppy bigram: minimal windows over
# slot-adjusted positions, each weighted 1/(1+width) — Lucene's sloppy-freq
# weighting. For a bigram the minimal windows are the mutually-nearest
# occurrence pairs, which DuckDB can enumerate with correlated min/max
# subqueries (general n-term closure is pinned by tests/test_phrase.py
# against the combinatorial oracle instead).
USLOP = 3


def q_match_phrase_slop_unordered(spark, sf_dir):
    s = _engine_searcher(spark, sf_dir, positions=True)
    return s.phrase_query(
        " ".join(SLOP_PHRASE), k=1_000_000, slop=USLOP, ordered=False
    ).select(
        "doc_id",
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        duck_round(F.col("phrase_freq"), 6).alias("sloppy_freq"),
    )


def _sql_phrase_slop_unordered(t0: str, t1: str, slop: int) -> str:
    idf_terms = " + ".join(
        "ln(1.0 + (c.n_docs - "
        f"(SELECT count(DISTINCT doc_id) FROM toks WHERE tok = '{t}')"
        " + 0.5) / ("
        f"(SELECT count(DISTINCT doc_id) FROM toks WHERE tok = '{t}')"
        " + 0.5))"
        for t in (t0, t1)
    )
    return f"""
SELECT doc_id, round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3,
       round(pf, 6) AS sloppy_freq
FROM (
  WITH toks AS (
    SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t FROM documents)
  ),
  dls AS (
    SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS dl FROM documents
  ),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  sumidf AS (SELECT ({idf_terms}) AS sidf FROM corpus c),
  A AS (SELECT doc_id, pos AS p FROM toks WHERE tok = '{t0}'),
  B AS (SELECT doc_id, pos - 1 AS p FROM toks WHERE tok = '{t1}'),
  w1 AS (  -- windows led by an A occurrence: nearest B at/after it
    SELECT a.doc_id, a.p AS l,
           (SELECT min(b.p) FROM B b WHERE b.doc_id = a.doc_id AND b.p >= a.p) AS r
    FROM A a
  ),
  w1m AS (
    SELECT doc_id, l, r FROM w1
    WHERE r IS NOT NULL
      AND l = (SELECT max(a2.p) FROM A a2 WHERE a2.doc_id = w1.doc_id AND a2.p <= w1.r)
  ),
  w2 AS (  -- windows led by a B occurrence: nearest A at/after it (an A at
           -- the same position makes the W1 zero-width window the minimal
           -- one, so those are excluded by r > l below)
    SELECT b.doc_id, b.p AS l,
           (SELECT min(a.p) FROM A a WHERE a.doc_id = b.doc_id AND a.p >= b.p) AS r
    FROM B b
  ),
  w2m AS (
    SELECT doc_id, l, r FROM w2
    WHERE r IS NOT NULL AND r > l
      AND l = (SELECT max(b2.p) FROM B b2 WHERE b2.doc_id = w2.doc_id AND b2.p <= w2.r)
  ),
  wins AS (SELECT doc_id, l, r FROM w1m UNION SELECT doc_id, l, r FROM w2m),
  -- f64 summation order is part of the contract: sum windows left-to-right
  pfreq AS (
    SELECT doc_id, sum(1.0 / (1 + r - l) ORDER BY l, r) AS pf
    FROM wins WHERE r - l <= {slop} GROUP BY doc_id
  )
  SELECT pfreq.doc_id,
         s.sidf * pf * 2.2 / (pf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS score,
         pf
  FROM pfreq JOIN dls USING (doc_id), corpus c, sumidf s
)
"""


SQL_MATCH_PHRASE_SLOP_UNORDERED = _sql_phrase_slop_unordered(*SLOP_PHRASE, USLOP)


# ---------------------------------------------------------------------------
# Multi-term expansions (ES prefix / wildcard / fuzzy, rewrite=
# scoring_boolean): expand against the corpus vocabulary — top
# max_expansions terms by (df desc, term asc), ES's top_terms pick — then
# score as a weight-1-per-term BM25 OR. The engine path lives on
# BM25Searcher (prefix_query/wildcard_query/fuzzy_query, dictionary-
# pruned); this relational twin proves the semantics against DuckDB.

MAX_EXPANSIONS = 50


def _expanded_terms(spark, sf_dir, cond, max_exp: int = MAX_EXPANSIONS) -> list[str]:
    toks = _doc_tokens(spark, sf_dir).select("doc_id", F.explode("toks").alias("term"))
    rows = (
        toks.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(cond)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_exp)
        .collect()
    )
    return [r["term"] for r in rows]


def _sql_bm25_expanded(cond_sql: str, k: int, max_exp: int = MAX_EXPANSIONS) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, u.tok AS term
  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
),
expansion AS (
  SELECT term FROM (
    SELECT term, count(DISTINCT doc_id) AS xdf FROM toks WHERE {cond_sql}
    GROUP BY term ORDER BY xdf DESC, term ASC LIMIT {max_exp}
  )
),
dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
),
tf AS (
  SELECT t.doc_id, t.term, count(*) AS tf FROM toks t
  WHERE t.term IN (SELECT term FROM expansion) GROUP BY t.doc_id, t.term
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
  FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
),
agg AS (SELECT doc_id, round(sum(contrib), 6) AS score FROM scored GROUP BY doc_id)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id, score
  FROM agg
) WHERE rank <= {k}
"""


_EXPAND_KINDS = [
    ("prefix", "term LIKE 'wor%'"),
    ("wildcard", "term LIKE 'd%ta'"),
    ("fuzzy", "levenshtein(term, 'tables') <= 1"),
    ("regexp", "regexp_matches(term, '^(?:d[ao]ta|wind.*)$')"),
]


def q_expand_queries(spark, sf_dir):
    """B2 term-level query surface in ONE gate entry (term / prefix /
    wildcard / fuzzy / regexp, tagged by kind): the exact term query plus the
    multi-term expansions — each expansion resolves against the term
    dictionary (top-df, capped) and scores as a weight-1-per-term BM25
    OR, the rewrite=scoring_boolean semantics the engine methods
    (BM25Searcher.term_query/prefix_query/wildcard_query/fuzzy_query,
    pinned by tests/test_phrase.py) implement over the index dictionary.
    (term_query folded in from its own entry to free driver-window
    slots.)"""
    conds = {
        "prefix": F.col("term").startswith("wor"),
        "wildcard": F.col("term").like("d%ta"),
        "fuzzy": F.levenshtein(F.col("term"), F.lit("tables")) <= 1,
        # the regexp query's own anchoring: ^(?:pattern)$
        "regexp": F.col("term").rlike("^(?:d[ao]ta|wind.*)$"),
    }
    out = _bm25_relational(spark, sf_dir, ["window"], "or", 10).select(
        F.lit("term").alias("kind"), "rank", "doc_id", "score"
    )
    for kind, _ in _EXPAND_KINDS:
        terms = _expanded_terms(spark, sf_dir, conds[kind])
        r = _bm25_relational(spark, sf_dir, terms, "or", 10).select(
            F.lit(kind).alias("kind"), "rank", "doc_id", "score"
        )
        out = out.unionByName(r)
    return out


SQL_EXPAND_QUERIES = "\nUNION ALL\n".join(
    [f"SELECT 'term' AS kind, * FROM ({_sql_bm25(['window'], 'or', 10)})"]
    + [
        f"SELECT '{kind}' AS kind, * FROM ({_sql_bm25_expanded(cond, 10)})"
        for kind, cond in _EXPAND_KINDS
    ]
)


# ---------------------------------------------------------------------------
# B18 highlight: token-stream highlighter over the BM25 top hits


def q_highlight(spark, sf_dir):
    from .functions.highlight import with_highlight

    hits = _bm25_relational(spark, sf_dir, BM25_QUERY, "or", 5).select("rank", "doc_id")
    docs = _t(spark, sf_dir, "documents")
    return with_highlight(hits, docs, BM25_QUERY).select(
        "rank", "doc_id", "highlighted", "fragment"
    )


def _sql_highlight(terms: list[str], k: int) -> str:
    term_list = ", ".join(f"'{t}'" for t in terms)
    bm25 = _sql_bm25(terms, "or", k)
    return f"""
WITH hits AS ({bm25}),
marked AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9_]+'),
                        t -> CASE WHEN t IN ({term_list})
                                  THEN '<em>' || t || '</em>' ELSE t END) AS m,
         greatest(1, coalesce(list_position(
             list_transform(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9_]+'),
                            t -> t IN ({term_list})), true), 0) - 3) AS frag_start
  FROM documents
)
SELECT h.rank, h.doc_id,
       array_to_string(m.m, ' ') AS highlighted,
       array_to_string(list_slice(m.m, m.frag_start, m.frag_start + 6), ' ') AS fragment
FROM hits h JOIN marked m USING (doc_id)
"""


SQL_HIGHLIGHT = _sql_highlight(BM25_QUERY, 5)


HL_PHRASE = ["the", "data"]


def q_highlight_phrase(spark, sf_dir):
    """Phrase-AWARE highlighting: only tokens inside an actual ordered
    occurrence of the phrase are wrapped (a stray 'data' stays unmarked),
    and the snippet is the best-scoring 7-token fragment (most marked
    tokens covered; ties -> earliest), not the first hit."""
    from .functions.highlight import phrase_highlight

    return phrase_highlight(_t(spark, sf_dir, "documents"), HL_PHRASE)


SQL_HIGHLIGHT_PHRASE = f"""
WITH t AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS tok
  FROM (SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9_]+') AS toks
        FROM documents)
),
s AS (
  SELECT doc_id, i AS st
  FROM (SELECT doc_id, i, tok,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
        FROM t)
  WHERE tok = '{HL_PHRASE[0]}' AND nxt = '{HL_PHRASE[1]}'
),
m AS (SELECT DISTINCT doc_id, u.p FROM s, unnest([s.st, s.st + 1]) AS u(p)),
hl AS (
  SELECT t.doc_id,
         string_agg(CASE WHEN m.p IS NOT NULL THEN '<em>' || t.tok || '</em>'
                         ELSE t.tok END, ' ' ORDER BY t.i) AS highlighted
  FROM t LEFT JOIN m ON m.doc_id = t.doc_id AND m.p = t.i
  WHERE t.doc_id IN (SELECT doc_id FROM s)
  GROUP BY t.doc_id
),
cand AS (SELECT DISTINCT doc_id, greatest(1, p - 3) AS fs FROM m),
scored AS (
  SELECT c.doc_id, c.fs, count(m.p) AS hits
  FROM cand c JOIN m ON m.doc_id = c.doc_id AND m.p BETWEEN c.fs AND c.fs + 6
  GROUP BY c.doc_id, c.fs
),
best AS (
  SELECT doc_id, fs FROM (
    SELECT doc_id, fs,
           row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, fs ASC) AS r
    FROM scored
  ) WHERE r = 1
),
frag AS (
  SELECT t.doc_id,
         string_agg(CASE WHEN m.p IS NOT NULL THEN '<em>' || t.tok || '</em>'
                         ELSE t.tok END, ' ' ORDER BY t.i) AS fragment
  FROM t
  JOIN best b ON b.doc_id = t.doc_id AND t.i BETWEEN b.fs AND b.fs + 6
  LEFT JOIN m ON m.doc_id = t.doc_id AND m.p = t.i
  GROUP BY t.doc_id
),
nh AS (SELECT doc_id, CAST(count(*) AS INT) AS n_phrase_hits FROM s GROUP BY doc_id)
SELECT hl.doc_id, hl.highlighted, frag.fragment, nh.n_phrase_hits
FROM hl JOIN frag USING (doc_id) JOIN nh USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Further ES aggregation/scoring surface (round 3): significant_terms,
# pipeline aggs (derivative + cumulative_sum over date_histogram),
# function_score (field_value_factor rescoring of a BM25 ranking).


def q_term_suggest(spark, sf_dir):
    """BOTH suggester surfaces in ONE entry (kind-tagged union, schema
    (kind, input, term, score6, n)):

    * ``term`` — ES term suggester on the REAL engine dictionary:
      corrections for three misspelled inputs within 2 edits, ranked
      (distance asc, df desc, term asc), 5 per input; score6 = distance,
      n = df.
    * ``phrase`` — ES phrase suggester ("did you mean") for 'dat tabl'
      (both tokens OOV in the documents vocab): per-slot candidates
      within 1 edit (original kept as a cf=0 candidate, cap 5), the
      candidate cross product scored by the index-derived Laplace bigram
      LM (alpha 0.5) times the pinned error model (log10(0.95)
      unchanged / distance*log10(0.1) per edit), summed left-to-right
      in gram order; score6 = round(score, 6), n = rank under
      (score desc, suggestion asc).
    * ``completion`` — ES completion suggester over the dictionary
      weighted by df: exact prefix 'tab' (pushed-down startswith) and
      fuzzy prefix 'tha' within 1 edit, 5 each by (weight desc, term
      asc); score6 = prefix edit distance, n = weight."""
    s = _engine_searcher(spark, sf_dir)
    term = s.suggest("dat spak tabel", fuzziness=2, size=5).select(
        F.lit("term").alias("kind"),
        "input",
        "term",
        F.col("distance").cast("double").alias("score6"),
        F.col("df").cast("long").alias("n"),
    )
    sp = _engine_searcher(spark, sf_dir, positions=True)
    phrase = sp.phrase_suggest(
        "dat tabl", max_edits=1, candidates_per_term=5, size=5
    ).select(
        F.lit("phrase").alias("kind"),
        F.lit("dat tabl").alias("input"),
        F.col("suggestion").alias("term"),
        duck_round(F.col("score"), 6).alias("score6"),
        F.col("rank").cast("long").alias("n"),
    )
    comp = s.suggest_completion("tab", size=5).unionByName(
        s.suggest_completion("tha", size=5, fuzziness=1)
    ).select(
        F.lit("completion").alias("kind"),
        "input",
        "term",
        F.col("distance").cast("double").alias("score6"),
        F.col("weight").alias("n"),
    )
    return term.unionByName(phrase).unionByName(comp)


_SQL_SUGGEST_TERM = """
WITH dict AS (
  SELECT u.tok AS term, count(DISTINCT doc_id) AS df
  FROM documents, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9_]+')) AS u(tok)
  GROUP BY term
),
inputs AS (SELECT unnest(['dat', 'spak', 'tabel']) AS input)
SELECT 'term' AS kind, input, term, CAST(distance AS DOUBLE) AS score6,
       CAST(df AS BIGINT) AS n
FROM (
  SELECT i.input, d.term, levenshtein(d.term, i.input) AS distance, d.df,
         row_number() OVER (
           PARTITION BY i.input
           ORDER BY levenshtein(d.term, i.input) ASC, d.df DESC, d.term ASC
         ) AS r
  FROM dict d CROSS JOIN inputs i
  WHERE levenshtein(d.term, i.input) <= 2
) WHERE r <= 5
"""

# phrase-suggester twin: both gate tokens ('dat', 'tabl') are OOV in the
# documents vocabulary, so each slot is the original cf=0 candidate
# prepended to the top-4 scanned corrections (mirroring the engine's
# [original, *scanned][:cap]); score summed LEFT-TO-RIGHT in gram order
# exactly as the engine does (head lp + err0 + bigram lp + err1).
_SQL_SUGGEST_PHRASE = """
WITH toks AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t FROM documents)
),
vocab AS (
  SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS cf FROM toks GROUP BY tok
),
tot AS (
  SELECT CAST(sum(cf) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM vocab
),
big AS (
  SELECT t0.tok AS a, t1.tok AS b, count(*) AS c
  FROM toks t0 JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
  GROUP BY 1, 2
),
c0 AS (
  SELECT 'dat' AS tok, CAST(0 AS BIGINT) AS cf, 0 AS d
  UNION ALL
  SELECT tok, cf, d FROM (
    SELECT tok, cf, levenshtein(tok, 'dat') AS d,
           row_number() OVER (
             ORDER BY levenshtein(tok, 'dat') ASC, df DESC, tok ASC
           ) AS r
    FROM vocab WHERE levenshtein(tok, 'dat') <= 1
  ) WHERE r <= 4
),
c1 AS (
  SELECT 'tabl' AS tok, CAST(0 AS BIGINT) AS cf, 0 AS d
  UNION ALL
  SELECT tok, cf, d FROM (
    SELECT tok, cf, levenshtein(tok, 'tabl') AS d,
           row_number() OVER (
             ORDER BY levenshtein(tok, 'tabl') ASC, df DESC, tok ASC
           ) AS r
    FROM vocab WHERE levenshtein(tok, 'tabl') <= 1
  ) WHERE r <= 4
),
phr AS (
  SELECT c0.tok || ' ' || c1.tok AS suggestion,
         log10((c0.cf + 0.5) / (tot.n + 0.5 * tot.v))
         + (CASE WHEN c0.d = 0 THEN log10(0.95) ELSE c0.d * log10(0.1) END)
         + log10((coalesce(b.c, 0) + 0.5) / (c0.cf + 0.5 * tot.v))
         + (CASE WHEN c1.d = 0 THEN log10(0.95) ELSE c1.d * log10(0.1) END)
         AS score
  FROM c0 CROSS JOIN c1 CROSS JOIN tot
  LEFT JOIN big b ON b.a = c0.tok AND b.b = c1.tok
)
SELECT 'phrase' AS kind, 'dat tabl' AS input, suggestion AS term,
       round(score, 6) AS score6, CAST(rnk AS BIGINT) AS n
FROM (
  SELECT suggestion, score,
         row_number() OVER (ORDER BY score DESC, suggestion ASC) AS rnk
  FROM phr
) WHERE rnk <= 5
"""

# completion suggester twin: dictionary prefix match weighted by df —
# exact prefix 'tab' and fuzzy prefix 'tha' (first-3-chars Levenshtein)
_SQL_SUGGEST_COMPLETION = """
WITH dict AS (
  SELECT u.tok AS term, count(DISTINCT doc_id) AS df
  FROM documents, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9_]+')) AS u(tok)
  GROUP BY term
)
SELECT 'completion' AS kind, input, term, CAST(distance AS DOUBLE) AS score6,
       CAST(df AS BIGINT) AS n
FROM (
  SELECT 'tab' AS input, term, 0 AS distance, df,
         row_number() OVER (ORDER BY df DESC, term ASC) AS r
  FROM dict WHERE term LIKE 'tab%'
) WHERE r <= 5
UNION ALL
SELECT 'completion', input, term, CAST(distance AS DOUBLE), CAST(df AS BIGINT)
FROM (
  SELECT 'tha' AS input, term,
         levenshtein(substr(term, 1, 3), 'tha') AS distance, df,
         row_number() OVER (ORDER BY df DESC, term ASC) AS r
  FROM dict WHERE levenshtein(substr(term, 1, 3), 'tha') <= 1
) WHERE r <= 5
"""

SQL_TERM_SUGGEST = (
    "SELECT * FROM (" + _SQL_SUGGEST_TERM + ")\nUNION ALL\n"
    "SELECT * FROM (" + _SQL_SUGGEST_PHRASE + ")\nUNION ALL\n"
    "SELECT * FROM (" + _SQL_SUGGEST_COMPLETION + ")"
)


def q_significant_terms(spark, sf_dir):
    """ES significant_terms agg (JLH heuristic): terms whose document
    frequency in a FOREGROUND set (docs with lang='en') is unusually high
    vs the background corpus. JLH = (fg% - bg%) * (fg% / bg%), doc-freq
    based, top 15 by (score desc, term asc); min_doc_count 3."""
    d = _doc_tokens(spark, sf_dir).join(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id"
    )
    tok = d.select("doc_id", "lang", F.explode("toks").alias("term")).distinct()
    bg = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("bg_df"))
    fg = (
        tok.filter(F.col("lang") == "en")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("fg_df"))
    )
    totals = d.agg(
        F.count("*").alias("n_bg"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_fg"),
    ).collect()[0]
    n_bg, n_fg = float(totals["n_bg"]), float(totals["n_fg"])
    scored = (
        fg.join(bg, "term")
        .filter(F.col("fg_df") >= 3)
        .withColumn("fgp", F.col("fg_df") / F.lit(n_fg))
        .withColumn("bgp", F.col("bg_df") / F.lit(n_bg))
        .withColumn("jlh", duck_round((F.col("fgp") - F.col("bgp")) * (F.col("fgp") / F.col("bgp")), 6))
    )
    return (
        scored.orderBy(F.desc("jlh"), F.asc("term"))
        .limit(15)
        .select("term", "fg_df", "bg_df", "jlh")
    )


SQL_SIGNIFICANT_TERMS = """
WITH tok AS (
  SELECT DISTINCT d.doc_id, d.lang, u.tok AS term
  FROM documents d, unnest(regexp_extract_all(lower(coalesce(d.text, '')), '[a-z0-9_]+')) AS u(tok)
),
bg AS (SELECT term, count(DISTINCT doc_id) AS bg_df FROM tok GROUP BY term),
fg AS (
  SELECT term, count(DISTINCT doc_id) AS fg_df FROM tok WHERE lang = 'en' GROUP BY term
),
tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_bg,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS n_fg
  FROM documents
)
SELECT term, fg_df, bg_df,
       round((fg_df / t.n_fg - bg_df / t.n_bg) * ((fg_df / t.n_fg) / (bg_df / t.n_bg)), 6) AS jlh
FROM fg JOIN bg USING (term), tot t
WHERE fg_df >= 3
ORDER BY jlh DESC, term ASC LIMIT 15
"""


def q_pipeline_aggs(spark, sf_dir):
    """ES pipeline aggregations over a date_histogram, the full surface
    in one composition (evaluation order mirrors ES: sibling pipelines
    over the COMPLETE histogram first, then bucket_selector prunes, then
    bucket_sort ranks/truncates): derivative, cumulative_sum, moving_fn
    (avg over the 3 buckets before the current one, ES shift=0 exclusive
    window), serial_diff (lag 2), bucket_selector (keep days at or above
    their moving average — first bucket's null window drops, as a null
    script result does in ES), bucket_sort (sum desc, day asc tiebreak,
    size 15) with the resulting rank. Session-2 additions on EXACT
    integer cents (order-independent sums): bucket_script (per-day
    mean = cents/count/100 — the Painless script as a Column),
    percentiles_bucket p50 and extended_stats_bucket std ACROSS the
    complete histogram (sibling eval order: computed BEFORE the
    selector prunes), attached as constant columns via a broadcast
    1-row cross join. Session-3 additions, same exactness recipe:
    max_bucket (value + ES ``keys`` list of ALL attaining days, sorted
    asc comma-joined) and moving_percentiles p50 over the 3 buckets
    before the current one (exclusive window, exact interpolation ==
    DuckDB quantile_cont)."""
    from .operators.aggs import (
        bucket_script,
        bucket_selector,
        bucket_sort,
        extended_stats_bucket,
        max_bucket,
        moving_fn,
        moving_percentiles,
        percentiles_bucket,
        serial_diff,
    )

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum("value").alias("sv"),
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sc"),
        )
    )
    # sibling pipelines run over the COMPLETE histogram (before the
    # selector): exact integer cents make them order-independent
    pb = percentiles_bucket(daily, "sc", [50.0]).select(
        (F.col("p50") / F.lit(100.0)).alias("__p50")
    )
    eb = extended_stats_bucket(daily, "sc").select(
        (F.col("std_deviation") / F.lit(100.0)).alias("__std")
    )
    mb = max_bucket(daily, "day", "sc").select(
        (F.col("value") / F.lit(100.0)).alias("__mxv"),
        F.col("keys").alias("__mxk"),
    )
    daily = (
        bucket_script(
            daily,
            F.col("sc").cast("double") / F.col("cnt") / F.lit(100.0),
            out="per_doc",
        )
        .crossJoin(F.broadcast(pb))
        .crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(mb))
    )
    w = Window.orderBy("day")
    piped = daily.select(
        "day",
        "sv",
        "sc",
        "per_doc",
        "__p50",
        "__std",
        "__mxv",
        "__mxk",
        (F.col("sv") - F.lag("sv").over(w)).alias("deriv"),
        F.sum("sv").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    piped = moving_fn(piped, "day", "sv", window=3, fn="avg", out="mv3")
    piped = serial_diff(piped, "day", "sv", lag=2, out="sd2")
    piped = moving_percentiles(
        piped, "day", "sc", window=3, percents=[50.0], prefix="__mp"
    ).withColumn("__mp50", F.col("__mp50") / F.lit(100.0))
    kept = bucket_selector(piped, F.col("sv") >= F.col("mv3"))
    top = bucket_sort(kept, [("sv", "desc"), ("day", "asc")], size=15)
    wr = Window.orderBy(F.desc("sv"), F.asc("day"))
    return top.withColumn("rank", F.row_number().over(wr)).select(
        "rank",
        "day",
        duck_round("sv", 6).alias("sum_value"),
        duck_round("deriv", 6).alias("derivative"),
        duck_round("cum", 6).alias("cumulative"),
        duck_round("mv3", 6).alias("moving_avg3"),
        duck_round("sd2", 6).alias("serial_diff2"),
        duck_round("per_doc", 6).alias("bucket_script_per_doc"),
        duck_round("__p50", 6).alias("p50_bucket"),
        duck_round("__std", 6).alias("extended_stats_bucket_std"),
        duck_round("__mxv", 6).alias("max_bucket_value"),
        F.col("__mxk").alias("max_bucket_keys"),
        duck_round("__mp50", 6).alias("moving_p50_3"),
    )


SQL_PIPELINE_AGGS = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, sum(value) AS sv,
         count(*) AS cnt,
         sum(CAST(round(value * 100) AS BIGINT)) AS sc
  FROM events GROUP BY 1
),
-- sibling pipelines over the COMPLETE histogram (before the selector);
-- exact integer cents, closed-form std (extended_stats recipe),
-- quantile_cont == Spark percentile interpolation
sib AS (
  SELECT quantile_cont(CAST(sc AS DOUBLE), 0.5) / 100.0 AS p50,
         sqrt(sum(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) / count(sc)
              - (sum(CAST(sc AS DOUBLE)) / count(sc))
                * (sum(CAST(sc AS DOUBLE)) / count(sc))) / 100.0 AS std,
         (SELECT CAST(max(sc) AS DOUBLE) / 100.0 FROM daily) AS mxv,
         (SELECT string_agg(day, ',' ORDER BY day) FROM daily
          WHERE sc = (SELECT max(sc) FROM daily)) AS mxk
  FROM daily
),
piped AS (
  SELECT day, sv,
         sv - lag(sv) OVER (ORDER BY day) AS deriv,
         sum(sv) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         avg(sv) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS mv3,
         sv - lag(sv, 2) OVER (ORDER BY day) AS sd2,
         CAST(sc AS DOUBLE) / cnt / 100.0 AS per_doc,
         quantile_cont(CAST(sc AS DOUBLE), 0.5)
           OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
           / 100.0 AS mp50
  FROM daily
)
SELECT row_number() OVER (ORDER BY sv DESC, day ASC) AS rank, day,
       round(sv, 6) AS sum_value, round(deriv, 6) AS derivative,
       round(cum, 6) AS cumulative, round(mv3, 6) AS moving_avg3,
       round(sd2, 6) AS serial_diff2,
       round(per_doc, 6) AS bucket_script_per_doc,
       round(p50, 6) AS p50_bucket,
       round(std, 6) AS extended_stats_bucket_std,
       round(mxv, 6) AS max_bucket_value,
       mxk AS max_bucket_keys,
       round(mp50, 6) AS moving_p50_3
FROM piped, sib WHERE sv >= mv3
ORDER BY sv DESC, day ASC LIMIT 15
"""


def q_function_score(spark, sf_dir):
    """ES function_score: field_value_factor(n_chars, modifier=log1p,
    factor=0.1) multiplied onto the BM25 relevance score
    (boost_mode=multiply), re-ranked; ties (final desc, doc_id asc)."""
    base = _bm25_relational(spark, sf_dir, BM25_QUERY, "or", 50)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.orderBy(F.desc("final"), F.asc("doc_id"))
    return (
        base.join(docs, "doc_id")
        .withColumn("factor", F.log1p(F.col("n_chars") * 0.1))
        .withColumn("final", duck_round(F.col("score") * F.col("factor"), 6))
        .withColumn("new_rank", F.row_number().over(w))
        .filter(F.col("new_rank") <= 20)
        .select(
            F.col("new_rank").alias("rank"), "doc_id", "final",
            duck_round("factor", 6).alias("factor"),
        )
    )


SQL_FUNCTION_SCORE = f"""
WITH base AS ({_sql_bm25(BM25_QUERY, "or", 50)}),
joined AS (
  SELECT b.doc_id, b.score, ln(1 + d.n_chars * 0.1) AS factor,
         round(b.score * ln(1 + d.n_chars * 0.1), 6) AS final
  FROM base b JOIN documents d USING (doc_id)
)
SELECT rank, doc_id, final, round(factor, 6) AS factor FROM (
  SELECT row_number() OVER (ORDER BY final DESC, doc_id ASC) AS rank,
         doc_id, final, factor
  FROM joined
) WHERE rank <= 20
"""


def q_function_score_decay(spark, sf_dir):
    """ES function_score with DECAY functions + score_mode/boost_mode:
    gauss(n_chars; origin 800, scale 400, offset 100, decay 0.5) and
    linear(n_chars; origin 800, scale 600, decay 0.3) folded with
    score_mode=avg, combined with the BM25 score via boost_mode=sum,
    re-ranked (rounded final desc, doc_id asc). The decay constants are
    precomputed Python doubles embedded as literals on BOTH sides, so the
    closed forms match bit-for-bit before rounding."""
    from .functions.function_score import (
        apply_boost_mode,
        combine_functions,
        decay_col,
    )

    base = _bm25_relational(spark, sf_dir, BM25_QUERY, "or", 50).drop("rank")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    g = decay_col("gauss", F.col("n_chars"), origin=800, scale=400, offset=100, decay=0.5)
    lin = decay_col("linear", F.col("n_chars"), origin=800, scale=600, decay=0.3)
    fn = combine_functions([g, lin], "avg")
    final = apply_boost_mode(F.col("score"), fn, "sum")
    w = Window.orderBy(F.desc("final"), F.asc("doc_id"))
    return (
        base.join(docs, "doc_id")
        .withColumn("fn_value", duck_round(fn, 6))
        .withColumn("final", duck_round(final, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("rank", "doc_id", "final", "fn_value")
    )


import math as _math  # noqa: E402

_FSD_CG = -_math.log(0.5) / 400.0**2  # gauss exponent multiplier
_FSD_SPAN = 600.0 / (1.0 - 0.3)  # linear decay span

SQL_FUNCTION_SCORE_DECAY = f"""
WITH base AS ({_sql_bm25(BM25_QUERY, "or", 50)}),
j AS (
  SELECT b.doc_id, b.score,
         greatest(abs(d.n_chars - 800.0) - 100.0, 0.0) AS dg,
         greatest(abs(d.n_chars - 800.0), 0.0) AS dl
  FROM base b JOIN documents d USING (doc_id)
),
f AS (
  SELECT doc_id, score,
         (exp(-(dg * dg) * {_FSD_CG!r})
          + greatest(({_FSD_SPAN!r} - dl) / {_FSD_SPAN!r}, 0.0)) / 2.0 AS fn
  FROM j
)
SELECT rank, doc_id, final, fn_value FROM (
  SELECT row_number() OVER (ORDER BY round(score + fn, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(score + fn, 6) AS final, round(fn, 6) AS fn_value
  FROM f
) WHERE rank <= 20
"""


MLT_TEXT = "data data table spark row window the"
_MLT_MAX_TERMS = 5
SPAN_FIRST = ("data", 5)
# span composition family: clause strings + composition params (the
# phrase clause "sort table" matches ordered within SPAN_OR_SLOP)
SPAN_OR_CLAUSES = ["scan", "merge", "sort table"]
SPAN_OR_SLOP = 2
SPAN_NOT = ("join", "row", 1, 2)  # include, exclude, pre, post
SPAN_CONTAIN = ("table scan", "merge", 4)  # big, little, slop
SPAN_WITHIN = ("scan", "table merge", 6)  # little, big, slop
# intervals query: all_of([any_of(IV_ANY), match(IV_NEXT)], ordered,
# max_gaps=IV_MAX_GAPS).not_containing(match(IV_NOT))
IV_ANY = ("scan", "merge")
IV_NEXT = "table"
IV_MAX_GAPS = 3
IV_NOT = "join"
# _explain breakdown: query terms x one doc (same doc the termvectors kind pins)
EXPLAIN_QUERY = "data row table"
EXPLAIN_DOC = 7
# terms_set: >= ceil(n/2) of these exact terms must match (callable msm form)
TERMS_SET_TERMS = ["spark", "join", "scan", "merge"]
# scroll: three search_after-cursored pages of 10
SCROLL_QUERY = "data table"
SCROLL_PAGE_SIZE = 10
SCROLL_PAGES = 3
# rrf: the ES 8.x reciprocal-rank-fusion retriever — two independently
# RANKED retrievers fused by rank alone (rank_constant 60, window 20,
# final top-10). Hybrid lexical+vector uses the identical combiner:
# only ranks cross the fusion boundary, so two lexical retrievers pin
# the exact same math the oracle can mirror.
RRF_QUERIES = ("data row", "table spark")
RRF_CONST = 60
RRF_WINDOW = 20
RRF_TOPK = 10
# linear retriever (ES 8.16 hybrid combiner #2): weighted minmax-
# normalized score sum over the SAME two retriever windows
LINEAR_WEIGHTS = (0.7, 0.3)
# esql_fork: the ES|QL FORK/FUSE surface (9.x) — two scored MATCH
# branches (SORT _score/doc_id | LIMIT window), FUSE = rrf at the same
# rank_constant 60, distinct queries/window/topk from the rrf kind so
# the two kinds never alias each other's result set
FORK_QUERIES = ("data table", "spark row")
FORK_WINDOW = 15
FORK_TOPK = 8
# terms_lookup: the ES terms query's lookup form — the lookup doc's
# analyzed terms are fetched from the index itself (same-index lookup,
# the common ES case); a doc_id % 7 == 3 bound keeps the filter-context
# match set k-rows for the gate
TL_DOC_ID = 42
TL_MOD = 7
TL_REM = 3
# has_parent: the inner query matches ROLLUP (parent) docs of the conv5
# hierarchy; every child turn carries its parent's f32 score verbatim
HAS_PARENT_QUERY = ["data", "row"]
# parent_id: pure containment — children of one named parent, score 1.0
PARENT_ID_CONV = 7
# sparse_vector: query token weights (dyadic rationals so w*tf products
# and their sums are EXACT in f64 regardless of fold order — the DuckDB
# twin's plain SUM is then bit-identical to the engine's ordered fold)
SPARSE_WEIGHTS = {"data": 2.5, "row": 0.75, "table": 1.25}
# distance_feature: synthetic per-doc timestamp 2024-01-01 + doc_id
# MINUTES (doc_id*6e7 us stays far below 2^53 — exact f64 arithmetic on
# both sides even at sf1), origin 2024-03-01 UTC, pivot 7 days, boost 1.5
DISTF_QUERY = "data row"
DISTF_EPOCH_US = 1704067200000000   # 2024-01-01 00:00:00 UTC
DISTF_ORIGIN_US = 1709251200000000  # 2024-03-01 00:00:00 UTC
DISTF_PIVOT_US = 604800000000.0     # 7 days
DISTF_BOOST = 1.5
# match_fuzzy: two misspelled tokens, AUTO ladder (len 4/5 -> 1 edit);
# the twin recomputes the expansion sets from the corpus vocabulary with
# DuckDB's levenshtein under the same (df desc, term asc) LIMIT cap
MATCH_FUZZY_TOKENS = ["datq", "tible"]
MATCH_FUZZY_EXPANSIONS = 50
PERCOLATE_QUERIES = [
    (0, "data row", "and", 0),
    (1, "data table window", "or", 2),
    (2, "spark", "or", 1),
]


def _engine_source_searcher(spark, sf_dir: str):
    """Engine index over the documents' SOURCE keyword as a second
    analyzed field (same doc space / doc_ids as the text index — conv
    rank preserves documents.doc_id): the per-field index multi_match
    scores with its own statistics (every doc has dl=1, so avgdl=1 and a
    source hit scores exactly its idf)."""
    from bitcoin_ledger_2es_spark import BM25Searcher, build_index
    from bitcoin_ledger_2es_spark.config import DEFAULT

    key = (sf_dir, "source-field")
    if key not in _ENGINE_CACHE:
        cfg = DEFAULT.with_(
            docs_per_shard=256, block_size=64, index_rollups=False,
        )
        docs = _t(spark, sf_dir, "documents")
        _ENGINE_CACHE[key] = BM25Searcher(
            build_index(
                _docs_as_transcripts(docs.withColumn("text", F.col("source"))),
                cfg,
            )
        )
    return _ENGINE_CACHE[key]


def _engine_conv_searcher(spark, sf_dir: str):
    """Engine index over documents grouped 5-to-a-conversation (conv_id =
    doc_id // 5, turn_idx = doc_id % 5) — the parent-child corpus for the
    has_child / join-field surface. Dense engine doc_ids coincide with
    documents.doc_id because conv rank * turn order preserves the
    original order."""
    from bitcoin_ledger_2es_spark import BM25Searcher, build_index
    from bitcoin_ledger_2es_spark.config import DEFAULT

    key = (sf_dir, "conv5")
    if key not in _ENGINE_CACHE:
        cfg = DEFAULT.with_(
            docs_per_shard=256, block_size=64, index_rollups=False
        )
        docs = _t(spark, sf_dir, "documents")
        conv = docs.select(
            F.format_string(
                "c%08d", (F.col("doc_id") / 5).cast("long")
            ).alias("conv_id"),
            (F.col("doc_id") % 5).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
        _ENGINE_CACHE[key] = BM25Searcher(build_index(conv, cfg))
    return _ENGINE_CACHE[key]


def _engine_conv_roll_searcher(spark, sf_dir: str):
    """The conv5 corpus indexed WITH rollup docs (index_rollups=True) —
    the parent/child corpus where the rollups ARE the parent documents
    (has_parent / parent_id). Statistics include the rollups, exactly
    like ES keeps parents and children in one index."""
    from bitcoin_ledger_2es_spark import BM25Searcher, build_index
    from bitcoin_ledger_2es_spark.config import DEFAULT

    key = (sf_dir, "conv5roll")
    if key not in _ENGINE_CACHE:
        cfg = DEFAULT.with_(
            docs_per_shard=256, block_size=64, index_rollups=True
        )
        docs = _t(spark, sf_dir, "documents")
        conv = docs.select(
            F.format_string(
                "c%08d", (F.col("doc_id") / 5).cast("long")
            ).alias("conv_id"),
            (F.col("doc_id") % 5).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
        _ENGINE_CACHE[key] = BM25Searcher(build_index(conv, cfg))
    return _ENGINE_CACHE[key]


def q_advanced_queries(spark, sf_dir):
    """Six relevance surfaces in ONE entry, tagged by kind, k unbounded
    (no selection edge), shape (kind, key, score3, n):

    * ``mlt`` — ES more_like_this: top tf*idf terms of a literal input
      (max_query_terms cap, min_doc_freq 2) run as a weight-1 OR;
      key = doc_id, n = 0.
    * ``span_first`` — Lucene SpanFirstQuery: 'data' within the first 5
      positions, tf = span freq; key = doc_id, n = 0.
    * ``has_child`` — join-field ranking over the conv->turn hierarchy
      (5 docs per conv): conversation score = max of child BM25 scores
      (score_mode=max), n = matching children; key = conv_id.
    * ``dis_max`` — Lucene DisjunctionMaxQuery over ['data row',
      'table'], tie_breaker 0.3: best sub-score + 0.3 * rest, f64 fold
      in subquery order, f32 emit; key = doc_id, n = 0.
    * ``boosting`` — ES boosting query: 'data row' demoted (not
      excluded) by 0.4 where 'table' also matches; key = doc_id, n = 0.
    * ``collapse`` — ES field collapsing on the conv hierarchy: best
      turn per conversation, key = conv_id:rep_doc_id, n = inner_hits.
    * ``multi_match`` — per-FIELD indexes (text body + source keyword,
      each with its own df/avgdl statistics, the ES/Lucene model) for
      'data src3', best_fields with tie_breaker 0.2; key = doc_id,
      n = 0.
    * ``percolate`` — reverse search: three registered queries (AND /
      OR-with-msm / single-term) matched against every document in one
      broadcast-join pass; key = doc_id:query_id, n = matched terms,
      score3 = 0.
    * ``rank_eval`` — ES _rank_eval metrics (precision@10, MRR, dcg,
      idcg, ndcg) for the engine's top-10 on two queries against a
      text-derived judgment pool; key = q<id>:<metric>, score3 = the
      metric, n = 0.
    * ``synonyms`` — Lucene SynonymQuery BLENDED semantics for 'data
      table' with data->{row}: tf summed across group members BEFORE
      BM25 saturation, idf from the max member docFreq; key = doc_id,
      n = 0.
    * ``phrase_prefix`` — ES match_phrase_prefix for 'data s': ordered
      bigram whose last slot is the union of dictionary terms starting
      with 's' (alphabetical expansion, Lucene MultiPhraseQuery), tf =
      multi-phrase freq, idf = idf(data) + blended idf from the MAX
      expansion docFreq; key = doc_id, n = phrase_freq.
    * ``bool_prefix`` — ES match_bool_prefix for 'table s': pure-should
      bool of BM25 term clauses (here: 'table') + a CONSTANT-SCORE
      prefix clause (+1.0 for docs containing any 's'-expansion term,
      Lucene CONSTANT_SCORE_REWRITE); score = f32(f64(or_f32) + 1.0 *
      prefix_hit); key = doc_id, n = 0.
    * ``termvectors`` — ES _termvectors for doc 7, from the index alone
      (block-pruned shard-slice decode): key = term '@' the 0-based
      positions CSV, n = tf, score3 = df + ttf/1000 (both term
      statistics pinned in one f64 — identical expression both sides).
    * ``pinned`` — ES pinned query: docs [7, 3] rank 1-2 in pin order
      (score3 = -1 sentinel, the pin constants are engine-internal),
      then 'data row' organic hits at ranks 3..15 with pins removed;
      n = rank, ORDER verified against the oracle's (f32 desc, doc_id
      asc) ranking — the one selection-edged kind here, made safe by
      ordering both sides on the pre-rounding f32 score.
    * ``combined_fields`` — ES combined_fields (blended statistics, the
      model multi_match's per-field scoring deliberately is not) for
      'data src3' over body+source: tf/dl/df/avgdl of the literally
      combined pseudo-field, BM25 once per term, f64 fold in ascending
      term order; key = doc_id, n = 0.
    * ``span_or`` / ``span_not`` / ``span_containing`` / ``span_within``
      — the Lucene span composition family (operators/spans.py): union /
      overlap-exclusion (pre/post slack) / containment both ways over
      greedy-earliest clause spans, freq = sum of 1/(1+gap) folded in
      (start, end) order (SQL twin: sum(... ORDER BY s, e)), idf from
      the scoring side's terms; key = doc_id, n = 0.
    * ``intervals`` — the ES intervals algebra (operators/intervals.py,
      minimal-interval semantics): all_of(ordered, max_gaps) over
      [any_of(two terms), term], then not_containing — greedy chain +
      minimalization (SQL twin: GROUP-BY-min chain + NOT EXISTS
      domination test), gaps filter AFTER minimalization, weight
      1/(1+gaps); key = doc_id, n = 0.
    * ``mtermvectors`` — the batched _mtermvectors API (docs 19 + 42 in
      ONE scan/job, interval-pruned blocks, decode skipped for blocks
      with no target); key = doc_id@term@positions, same stat packing
      as ``termvectors``.
    * ``explain`` — the ES ``_explain`` API: per-term BM25 breakdown for
      (EXPLAIN_QUERY, doc 7) straight from the doc's shard slice of the
      postings; key = term, n = tf, score3 = the f64 contribution
      rounded 3dp (the twin mirrors the engine's exact expression
      association, w*idf*tf*(k1+1)/(tf+k1*(1-b+b*dl/avgdl))).
    * ``terms_set`` — ES terms_set query with the
      minimum_should_match_script shape (ceil(n/2) of 4 exact terms):
      should+msm bool kernel, score = sum of MATCHED term contribs (f64
      asc term order, f32 emit), k unbounded; key = doc_id, n = rank in
      the (f32 desc, doc_id asc) total order — the twin re-ranks with
      row_number() over the identical key.
    * ``scroll`` — the scroll/PIT cursor surface: three
      search_after-advanced pages of 10 for SCROLL_QUERY, each page an
      O(k) job (no from/size rescan); key = doc_id, n = page index —
      the twin assigns pages via (row_number()-1)//page_size over the
      same unique total order.
    * ``rrf`` — the ES 8.x reciprocal-rank-fusion retriever
      (plans/query.py rrf_fuse): two ranked top-RRF_WINDOW retrievers
      fused by 1/(rank_constant+rank) alone, final top-RRF_TOPK ordered
      on the pre-rounding f64 rrf (desc, doc_id asc); key = doc_id,
      score3 = round(rrf, 3), n = fused rank.
    * ``linear`` — the ES ``linear`` retriever (plans/query.py
      linear_fuse): the same two retriever windows fused by a WEIGHTED
      SUM of minmax-normalized f64 scores (weights 0.7/0.3, degenerate
      window -> 1.0, absent doc -> bit-neutral 0.0), top-RRF_TOPK on
      the pre-rounding fused score; key = doc_id, n = fused rank.
    * ``runtime`` — ES runtime_mappings (plans/query.py runtime_search):
      two query-time computed fields over _source (size_bucket =
      floor(n_chars/100), src_num = the numeric tail of source) used in
      FILTER context over the scored full match set of 'data row' — a
      runtime filter never alters scores (Lucene filter context), so
      survivors' score3 equal the plain all-match twin's; key = doc_id,
      n = size_bucket, k unbounded (no selection edge).
    * ``has_parent`` — ES has_parent over the conv5roll index (rollup
      docs ARE the parents, one index with SHARED statistics): children
      of matching parents, each carrying the parent's f32 score
      verbatim; key = child doc_id, n = turn_idx.
    * ``parent_id`` — children of parent c%08d(PARENT_ID_CONV), pure
      containment at constant 1.0; key = doc_id, n = turn_idx.
    * ``sparse_vector`` — the ES 8.15 learned-sparse query: dot product
      of query token weights x the deterministic doc-weight stand-in
      tf(token, doc); dyadic-rational weights make every f64 sum exact
      in ANY order, so the twin's plain SUM is bit-identical to the
      engine's ordered fold; key = doc_id, n = 0.
    * ``distance_feature`` — recency boosting: f32(f64(bm25_f32) +
      (boost*pivot)/(pivot + |ts_us - origin|)) over a synthetic
      doc_id-minutes timeline (all integers < 2^53 — exact f64 both
      sides); key = doc_id, n = 0.
    * ``match_fuzzy`` — ES match with fuzziness=AUTO for two misspelled
      tokens: per-token dictionary expansion (levenshtein <= ladder
      step, (df desc, term asc) cap, exact token force-included), each
      expansion set scored as ONE blended group (tf summed before
      saturation, idf from max member df — Lucene
      top_terms_blended_freqs); the twin recomputes the DATA-DEPENDENT
      expansion sets in SQL under the identical cap; key = doc_id,
      n = 0.
    * ``esql_fork`` — the ES|QL FORK/FUSE surface (9.x, plans/esql.py):
      two scored MATCH branches, each `SORT _score DESC, doc_id ASC |
      LIMIT FORK_WINDOW`, FUSE = rrf (rank_constant 60; a branch's rank
      is row_number over its pinned total order, the fused f64 sum folds
      in _fork order — 0.0 + x is bit-neutral, so the twin's coalesce
      sum mirrors it verbatim), final `SORT _score DESC, doc_id ASC |
      LIMIT FORK_TOPK` on the PRE-rounding f64 fused score; key =
      doc_id, score3 = round(_score, 3), n = fused rank.
    * ``terms_lookup`` — the ES terms query's lookup form
      (plans/query.py terms_lookup): the lookup doc's distinct analyzed
      terms fetched from the index's own term_vectors decode, then a
      non-scoring filter-context OR match (score3 pinned 0.0); bounded
      by doc_id % TL_MOD == TL_REM; key = doc_id, n = doc_len.
    * ``nested`` — the ES nested field/query model (plans/query.py
      nested_query): users as parents, their events as sort_array'd
      array<struct> children; inner query purchases > 100.00,
      score_mode=avg over integer cents (exact ratio, /100 at 3dp);
      key = user_id, n = matched children.
    * ``rule`` — ES 8.10 query rules (plans/query.py rule_query):
      driver-side criteria over request metadata gate pinned/exclude
      actions; pins [7, 3] (exact), excludes 5 (contains), one
      non-applicable rule; sentinel -1.0 for pinned rows, organic
      tail on the (f32 desc, doc_id asc) order; key = doc_id,
      n = rank."""
    s = _engine_searcher(spark, sf_dir, positions=True)
    mlt = s.more_like_this(
        MLT_TEXT, k=1_000_000, max_query_terms=_MLT_MAX_TERMS, with_meta=False
    ).select(
        F.lit("mlt").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.lit(0).cast("long").alias("n"),
    )
    sp = s.span_first_query(
        SPAN_FIRST[0], SPAN_FIRST[1], k=1_000_000, with_meta=False
    ).select(
        F.lit("span_first").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.lit(0).cast("long").alias("n"),
    )
    hc = _engine_conv_searcher(spark, sf_dir).conversations_topk(
        "data row", k=1_000_000, mode="or", score_mode="max"
    ).select(
        F.lit("has_child").alias("kind"),
        F.col("conv_id").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.col("n_matching").cast("long").alias("n"),
    )
    dm = s.dis_max(
        ["data row", "table"], tie_breaker=0.3, k=1_000_000, with_meta=False
    ).select(
        F.lit("dis_max").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.lit(0).cast("long").alias("n"),
    )
    bo = s.boosting(
        "data row", "table", negative_boost=0.4, k=1_000_000, with_meta=False
    ).select(
        F.lit("boosting").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.lit(0).cast("long").alias("n"),
    )
    co = _engine_conv_searcher(spark, sf_dir).collapse_topk(
        "data row", k=1_000_000
    ).select(
        F.lit("collapse").alias("kind"),
        F.concat_ws(":", "conv_id", F.col("doc_id").cast("string")).alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.col("inner_hits").cast("long").alias("n"),
    )
    from bitcoin_ledger_2es_spark.plans.query import multi_match

    mm = multi_match(
        {"body": s, "source": _engine_source_searcher(spark, sf_dir)},
        "data src3", "best_fields", tie_breaker=0.2, k=1_000_000,
    ).select(
        F.lit("multi_match").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.lit(0).cast("long").alias("n"),
    )
    from bitcoin_ledger_2es_spark.operators.percolate import (
        analyzed_queries,
        percolate,
    )

    pq = analyzed_queries(spark, PERCOLATE_QUERIES)
    pc = percolate(_t(spark, sf_dir, "documents"), pq).select(
        F.lit("percolate").alias("kind"),
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("query_id").cast("string")
        ).alias("key"),
        F.lit(0.0).alias("score3"),
        F.col("n_matched").alias("n"),
    )
    from bitcoin_ledger_2es_spark.functions.rank_eval import rank_eval

    docs = _t(spark, sf_dir, "documents")
    rating = (
        F.when(
            F.col("text").contains("data") & F.col("text").contains("row"),
            2,
        )
        .when(F.col("text").contains("data"), 1)
        .otherwise(0)
    )
    judgments = None
    for qid in (0, 1):
        jq = docs.select(
            F.lit(qid).cast("long").alias("query_id"), "doc_id",
            rating.alias("rating"),
        )
        judgments = jq if judgments is None else judgments.unionByName(jq)
    res = None
    for qid, text in ((0, "data row"), (1, "table")):
        r = s.top_k(text, k=10, with_meta=False).select(
            F.lit(qid).cast("long").alias("query_id"), "rank", "doc_id"
        )
        res = r if res is None else res.unionByName(r)
    metrics = rank_eval(res, judgments, k=10, relevant_min=1)
    re_rows = metrics.select(
        F.lit("rank_eval").alias("kind"),
        F.explode(
            F.array(*[
                F.struct(
                    F.concat_ws(
                        ":", F.col("query_id").cast("string"), F.lit(mname)
                    ).alias("key"),
                    duck_round(F.col(mname), 3).alias("score3"),
                )
                for mname in ("precision", "reciprocal_rank", "dcg", "idcg", "ndcg")
            ])
        ).alias("b"),
    ).select("kind", "b.key", "b.score3", F.lit(0).cast("long").alias("n"))
    sy = s.match_synonyms(
        "data table", {"data": ["row"]}, k=1_000_000, with_meta=False
    ).select(
        F.lit("synonyms").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.lit(0).cast("long").alias("n"),
    )
    pp = s.phrase_prefix_query("data s", k=1_000_000, with_meta=False).select(
        F.lit("phrase_prefix").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.col("phrase_freq").cast("long").alias("n"),
    )
    bp = s.match_bool_prefix(
        "table s", k=1_000_000, with_meta=False
    ).select(
        F.lit("bool_prefix").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.lit(0).cast("long").alias("n"),
    )
    tv = s.term_vectors(7).select(
        F.lit("termvectors").alias("kind"),
        F.concat_ws(
            "@", F.col("term"),
            F.array_join(F.col("positions").cast("array<string>"), ","),
        ).alias("key"),
        duck_round(
            F.col("df").cast("double") + F.col("ttf").cast("double") / 1000.0, 3
        ).alias("score3"),
        F.col("tf").cast("long").alias("n"),
    )
    mtv = s.mtermvectors([19, 42]).select(
        F.lit("mtermvectors").alias("kind"),
        F.concat_ws(
            "@", F.col("doc_id").cast("string"), F.col("term"),
            F.array_join(F.col("positions").cast("array<string>"), ","),
        ).alias("key"),
        duck_round(
            F.col("df").cast("double") + F.col("ttf").cast("double") / 1000.0, 3
        ).alias("score3"),
        F.col("tf").cast("long").alias("n"),
    )
    from bitcoin_ledger_2es_spark.plans.query import combined_fields

    cf = combined_fields(
        {"body": s, "source": _engine_source_searcher(spark, sf_dir)},
        "data src3", k=1_000_000,
    ).select(
        F.lit("combined_fields").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.lit(0).cast("long").alias("n"),
    )
    pn = s.pinned([7, 3], "data row", k=15, with_meta=False).select(
        F.lit("pinned").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.when(F.col("doc_id").isin(7, 3), F.lit(-1.0))
        .otherwise(duck_round(F.col("score").cast("double"), 3))
        .alias("score3"),
        F.col("rank").cast("long").alias("n"),
    )
    # rule: ES 8.10 query rules — driver-side criteria evaluation over
    # request metadata gates pinned/exclude actions; here rule 1 (exact
    # match) pins [7, 3], rule 2 (contains) excludes 5, rule 3 (prefix
    # miss) never applies. Same pinned-ladder discipline: sentinel -1.0
    # for pins, organic scores f32-rounded, selection on the engine's
    # (f32 desc, doc_id asc) order.
    rq = s.rule_query(
        [
            {"type": "pinned",
             "criteria": [{"type": "exact", "metadata": "user_query",
                           "values": ["data row"]}],
             "ids": [7, 3]},
            {"type": "exclude",
             "criteria": [{"type": "contains", "metadata": "user_query",
                           "values": ["row"]}],
             "ids": [5]},
            {"type": "pinned",
             "criteria": [{"type": "prefix", "metadata": "user_query",
                           "values": ["zzz"]}],
             "ids": [11]},
        ],
        {"user_query": "data row"}, "data row", k=15, with_meta=False,
    ).select(
        F.lit("rule").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.when(F.col("doc_id").isin(7, 3), F.lit(-1.0))
        .otherwise(duck_round(F.col("score").cast("double"), 3))
        .alias("score3"),
        F.col("rank").cast("long").alias("n"),
    )

    def _span_rows(kind, df):
        return df.select(
            F.lit(kind).alias("kind"),
            F.col("doc_id").cast("string").alias("key"),
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
            F.lit(0).cast("long").alias("n"),
        )

    so = _span_rows("span_or", s.span_or_query(
        SPAN_OR_CLAUSES, slop=SPAN_OR_SLOP, k=1_000_000, with_meta=False
    ))
    sn = _span_rows("span_not", s.span_not_query(
        SPAN_NOT[0], SPAN_NOT[1], pre=SPAN_NOT[2], post=SPAN_NOT[3],
        k=1_000_000, with_meta=False,
    ))
    sc = _span_rows("span_containing", s.span_containing_query(
        SPAN_CONTAIN[0], SPAN_CONTAIN[1], slop=SPAN_CONTAIN[2],
        k=1_000_000, with_meta=False,
    ))
    sw = _span_rows("span_within", s.span_within_query(
        SPAN_WITHIN[0], SPAN_WITHIN[1], slop=SPAN_WITHIN[2],
        k=1_000_000, with_meta=False,
    ))
    from bitcoin_ledger_2es_spark.operators.intervals import Iv

    iv = _span_rows("intervals", s.intervals_query(
        Iv.all_of(
            [Iv.any_of(Iv.match(IV_ANY[0]), Iv.match(IV_ANY[1])),
             Iv.match(IV_NEXT)],
            max_gaps=IV_MAX_GAPS, ordered=True,
        ).not_containing(Iv.match(IV_NOT)),
        k=1_000_000, with_meta=False,
    ))
    ex = s.explain_score(EXPLAIN_QUERY, EXPLAIN_DOC, mode="or").select(
        F.lit("explain").alias("kind"),
        F.col("term").alias("key"),
        duck_round(F.col("contrib"), 3).alias("score3"),
        F.col("tf").cast("long").alias("n"),
    )
    tset = s.terms_set_query(
        TERMS_SET_TERMS, minimum_should_match=lambda n: (n + 1) // 2,
        k=1_000_000, with_meta=False,
    ).select(
        F.lit("terms_set").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.col("rank").cast("long").alias("n"),
    )
    from bitcoin_ledger_2es_spark.plans.query import rrf_fuse

    rr = rrf_fuse(
        [s.top_k(q, k=RRF_WINDOW, with_meta=False) for q in RRF_QUERIES],
        rank_constant=RRF_CONST, rank_window=RRF_WINDOW, k=RRF_TOPK,
    ).select(
        F.lit("rrf").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("rrf"), 3).alias("score3"),
        F.col("rank").cast("long").alias("n"),
    )
    from bitcoin_ledger_2es_spark.plans.query import linear_fuse

    ln = linear_fuse(
        [s.top_k(q, k=RRF_WINDOW, with_meta=False) for q in RRF_QUERIES],
        weights=list(LINEAR_WEIGHTS), normalizer="minmax",
        rank_window=RRF_WINDOW, k=RRF_TOPK,
    ).select(
        F.lit("linear").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score"), 3).alias("score3"),
        F.col("rank").cast("long").alias("n"),
    )
    from bitcoin_ledger_2es_spark.plans.query import runtime_search

    rt_src = _t(spark, sf_dir, "documents").select(
        F.format_string("c%08d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        "lang", "source", "n_chars",
    )
    rt = runtime_search(
        s, rt_src,
        {
            "size_bucket": "CAST(floor(n_chars / 100.0) AS BIGINT)",
            "src_num": "CAST(substring(source, 4) AS BIGINT)",
        },
        query_text="data row", mode="or",
        runtime_filter="size_bucket >= 2 AND src_num % 2 = 0",
    ).select(
        F.lit("runtime").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.col("size_bucket").cast("long").alias("n"),
    )
    rolls = _engine_conv_roll_searcher(spark, sf_dir)
    hp = rolls.has_parent(
        " ".join(HAS_PARENT_QUERY), mode="or", score=True
    ).select(
        F.lit("has_parent").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.col("turn_idx").cast("long").alias("n"),
    )
    pid = rolls.parent_id(f"c{PARENT_ID_CONV:08d}").select(
        F.lit("parent_id").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.col("turn_idx").cast("long").alias("n"),
    )
    sv = s.sparse_vector_query(SPARSE_WEIGHTS).select(
        F.lit("sparse_vector").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.lit(0).cast("long").alias("n"),
    )
    df_src = _t(spark, sf_dir, "documents").select(
        F.format_string("c%08d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + (doc_id * INTERVAL 1 MINUTE)"
        ).alias("ts"),
    )
    dfq = s.distance_feature(
        DISTF_QUERY, df_src, "unix_micros(ts)",
        origin=DISTF_ORIGIN_US, pivot=DISTF_PIVOT_US, boost=DISTF_BOOST,
        mode="or",
    ).select(
        F.lit("distance_feature").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.lit(0).cast("long").alias("n"),
    )
    mf = s.match_fuzzy(
        " ".join(MATCH_FUZZY_TOKENS), fuzziness="AUTO", k=1_000_000,
        mode="or", max_expansions=MATCH_FUZZY_EXPANSIONS, with_meta=False,
    ).select(
        F.lit("match_fuzzy").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("score").cast("double"), 3).alias("score3"),
        F.lit(0).cast("long").alias("n"),
    )
    from bitcoin_ledger_2es_spark.plans.esql import esql as _esql_run

    fk_frame = _esql_run(
        'FROM ix METADATA _score'
        f' | FORK (WHERE MATCH(text, "{FORK_QUERIES[0]}")'
        f' | SORT _score DESC, doc_id ASC | LIMIT {FORK_WINDOW})'
        f' (WHERE MATCH(text, "{FORK_QUERIES[1]}")'
        f' | SORT _score DESC, doc_id ASC | LIMIT {FORK_WINDOW})'
        ' | FUSE | SORT _score DESC, doc_id ASC'
        f' | LIMIT {FORK_TOPK} | KEEP doc_id, _score',
        indexes={"ix": s},
    )
    fk = fk_frame.select(
        F.lit("esql_fork").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        duck_round(F.col("_score"), 3).alias("score3"),
        F.row_number().over(
            Window.orderBy(F.col("_score").desc(), F.col("doc_id").asc())
        ).cast("long").alias("n"),
    )
    # terms_lookup: non-scoring filter context (score3 pinned 0.0); the
    # twin re-derives the lookup doc's term set by tokenizing its text
    # and list_has_any's it against every doc's tokens — identical to
    # "contains ANY distinct term of doc TL_DOC_ID"; n = doc_len
    tl = s.terms_lookup(
        s, TL_DOC_ID,
        doc_filter=(F.col("doc_id") % TL_MOD == TL_REM),
    ).select(
        F.lit("terms_lookup").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.lit(0.0).cast("double").alias("score3"),
        F.col("doc_len").cast("long").alias("n"),
    )
    # nested: the ES nested field/query model (plans/query.py
    # nested_query) — parents = users, children = their events as a
    # sort_array'd array<struct> (array order IS the f64 fold order);
    # inner query: purchases over 100.00; score_mode=avg over integer
    # cents (exact ratio), emitted /100 at 6dp-free 3dp rounding; the
    # twin recomputes relationally (same sums, same division shape)
    from bitcoin_ledger_2es_spark.plans.query import nested_query as _nq

    nev = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.struct(
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("et"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ).alias("kid"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("kid")).alias("kids"))
    )
    nst = _nq(
        nev, "kids",
        lambda k: (k["et"] == "purchase") & (k["cents"] > 10000),
        lambda k: k["cents"],
        score_mode="avg",
    ).select(
        F.lit("nested").alias("kind"),
        F.col("user_id").cast("string").alias("key"),
        duck_round(F.col("nested_score") / 100.0, 3).alias("score3"),
        F.col("n_inner").alias("n"),
    )
    import pandas as pd  # local: driver-side page concat only

    pages = []
    for pg, page in enumerate(s.scroll(
        SCROLL_QUERY, page_size=SCROLL_PAGE_SIZE, mode="or",
        max_pages=SCROLL_PAGES,
    )):
        page = page.copy()
        page["page"] = pg
        pages.append(page)
    if pages:
        scr_pdf = pd.concat(pages, ignore_index=True)
        scr = spark.createDataFrame(
            scr_pdf[["doc_id", "score", "page"]]
        ).select(
            F.lit("scroll").alias("kind"),
            F.col("doc_id").cast("string").alias("key"),
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
            F.col("page").cast("long").alias("n"),
        )
    else:  # pragma: no cover - SCROLL_QUERY always matches on this corpus
        scr = spark.createDataFrame(
            [], "kind string, key string, score3 double, n long"
        )
    return (
        mlt.unionByName(sp).unionByName(hc)
        .unionByName(dm).unionByName(bo).unionByName(co).unionByName(mm)
        .unionByName(pc).unionByName(re_rows).unionByName(sy)
        .unionByName(pp).unionByName(bp).unionByName(tv).unionByName(pn)
        .unionByName(cf)
        .unionByName(so).unionByName(sn).unionByName(sc).unionByName(sw)
        .unionByName(iv).unionByName(mtv)
        .unionByName(ex).unionByName(tset).unionByName(scr)
        .unionByName(rr).unionByName(ln).unionByName(rt)
        .unionByName(hp).unionByName(pid).unionByName(sv).unionByName(dfq)
        .unionByName(mf).unionByName(fk).unionByName(tl)
        .unionByName(nst).unionByName(rq)
    )


_SQL_MLT = f"""
SELECT 'mlt' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3,
       CAST(0 AS BIGINT) AS n
FROM (
  WITH toks AS (
    SELECT doc_id, u.tok AS term
    FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  ),
  dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  qtf AS (
    SELECT tok AS term, count(*) AS qf FROM (
      SELECT unnest(regexp_extract_all(lower('{MLT_TEXT}'), '[a-z0-9_]+')) AS tok
    ) GROUP BY tok
  ),
  alldf AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
  selection AS (
    SELECT term FROM (
      SELECT q.term,
             q.qf * ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5)) AS sig
      FROM qtf q JOIN alldf d USING (term), corpus c
      WHERE d.df >= 2
      ORDER BY sig DESC, term ASC LIMIT {_MLT_MAX_TERMS}
    )
  ),
  tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks
    WHERE term IN (SELECT term FROM selection) GROUP BY doc_id, term
  ),
  scored AS (
    SELECT tf.doc_id,
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
    FROM tf JOIN alldf d USING (term) JOIN dls USING (doc_id), corpus c
  )
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id
)
"""

_SQL_SPAN_FIRST = f"""
SELECT 'span_first' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3,
       CAST(0 AS BIGINT) AS n
FROM (
  WITH toks AS (
    SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t FROM documents)
  ),
  dls AS (
    SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS dl FROM documents
  ),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  tidf AS (
    SELECT ln(1.0 + (c.n_docs -
             (SELECT count(DISTINCT doc_id) FROM toks WHERE tok = '{SPAN_FIRST[0]}')
           + 0.5) / (
             (SELECT count(DISTINCT doc_id) FROM toks WHERE tok = '{SPAN_FIRST[0]}')
           + 0.5)) AS v
    FROM corpus c
  ),
  pf AS (
    SELECT doc_id, count(*) AS tf FROM toks
    WHERE tok = '{SPAN_FIRST[0]}' AND pos < {SPAN_FIRST[1]}
    GROUP BY doc_id
  )
  SELECT pf.doc_id,
         t.v * pf.tf * 2.2 / (pf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS score
  FROM pf JOIN dls USING (doc_id), corpus c, tidf t
)
"""

_SQL_HAS_CHILD = """
SELECT 'has_child' AS kind, printf('c%08d', conv) AS key,
       round(CAST(mx AS DOUBLE), 3) AS score3, n
FROM (
  SELECT doc_id // 5 AS conv, max(CAST(score AS REAL)) AS mx,
         count(*) AS n
  FROM (
    WITH toks AS (
      SELECT doc_id, u.tok AS term
      FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
    ),
    dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    corpus AS (
      SELECT (SELECT count(*) FROM documents) AS n_docs,
             (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
    ),
    tf AS (
      SELECT t.doc_id, t.term, count(*) AS tf FROM toks t
      WHERE t.term IN ('data', 'row') GROUP BY t.doc_id, t.term
    ),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
      FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
    )
    SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id
  )
  GROUP BY doc_id // 5
)
"""

def _sql_doc_scores(terms: list[str], mode: str = "or") -> str:
    """Per-doc f64 BM25 scores over ``documents`` for a term list — the
    reusable inner CTE of the engine-twin oracles: (doc_id, score)."""
    term_list = ", ".join(f"'{t}'" for t in terms)
    and_filter = f"HAVING count(*) = {len(set(terms))}" if mode == "and" else ""
    return f"""
  WITH toks AS (
    SELECT doc_id, u.tok AS term
    FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  ),
  dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  tf AS (
    SELECT t.doc_id, t.term, count(*) AS tf FROM toks t
    WHERE t.term IN ({term_list}) GROUP BY t.doc_id, t.term
  ),
  dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
  scored AS (
    SELECT tf.doc_id,
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
    FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
  )
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id {and_filter}
"""


# dis_max over ['data row', 'table'], tie_breaker 0.3: per-sub scores are
# the engine's f32 emissions (CAST AS REAL), the combination folds them in
# f64 — max is order-free, the 2-element tie_breaker sum is absorbed by
# the 3dp rounding like every other engine-twin oracle here.
_SQL_DIS_MAX = f"""
SELECT 'dis_max' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(mx + 0.3 * (sm - mx) AS REAL) AS DOUBLE), 3) AS score3,
       CAST(0 AS BIGINT) AS n
FROM (
  SELECT doc_id,
         max(CAST(CAST(score AS REAL) AS DOUBLE)) AS mx,
         sum(CAST(CAST(score AS REAL) AS DOUBLE)) AS sm
  FROM (
    SELECT doc_id, score FROM ({_sql_doc_scores(["data", "row"])})
    UNION ALL
    SELECT doc_id, score FROM ({_sql_doc_scores(["table"])})
  ) GROUP BY doc_id
)
"""

# boosting: positive 'data row', negative 'table', negative_boost 0.4 —
# demoted docs keep f32(f64(pos_f32) * 0.4), others pass through f32.
_SQL_BOOSTING = f"""
SELECT 'boosting' AS kind, CAST(p.doc_id AS VARCHAR) AS key,
       round(CAST(CASE WHEN n.doc_id IS NOT NULL
             THEN CAST(CAST(CAST(p.score AS REAL) AS DOUBLE) * 0.4 AS REAL)
             ELSE CAST(p.score AS REAL) END AS DOUBLE), 3) AS score3,
       CAST(0 AS BIGINT) AS n
FROM ({_sql_doc_scores(["data", "row"])}) p
LEFT JOIN (SELECT DISTINCT doc_id FROM ({_sql_doc_scores(["table"])})) n
  USING (doc_id)
"""

# collapse on the conv5 corpus (conv = doc_id // 5): representative =
# best (f32 score desc, doc_id asc) turn per conversation, n = inner_hits.
_SQL_COLLAPSE = f"""
SELECT 'collapse' AS kind,
       printf('c%08d', conv) || ':' || CAST(doc_id AS VARCHAR) AS key,
       round(CAST(s32 AS DOUBLE), 3) AS score3, n
FROM (
  SELECT doc_id // 5 AS conv, doc_id, s32,
         count(*) OVER (PARTITION BY doc_id // 5) AS n,
         row_number() OVER (PARTITION BY doc_id // 5
                            ORDER BY s32 DESC, doc_id ASC) AS r
  FROM (SELECT doc_id, CAST(score AS REAL) AS s32
        FROM ({_sql_doc_scores(["data", "row"])}))
) WHERE r = 1
"""

# multi_match best_fields (tie_breaker 0.2) over two per-field indexes:
# body = documents.text (full BM25 twin), source = the keyword field where
# every doc has dl=1 (avgdl=1, so a hit scores exactly its idf — the
# formula below is written in full anyway to stay structurally parallel).
_SQL_MULTI_MATCH = f"""
SELECT 'multi_match' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(mx + 0.2 * (sm - mx) AS REAL) AS DOUBLE), 3) AS score3,
       CAST(0 AS BIGINT) AS n
FROM (
  SELECT doc_id,
         max(CAST(CAST(score AS REAL) AS DOUBLE)) AS mx,
         sum(CAST(CAST(score AS REAL) AS DOUBLE)) AS sm
  FROM (
    SELECT doc_id, score FROM ({_sql_doc_scores(["data", "src3"])})
    UNION ALL
    SELECT doc_id, score FROM (
      WITH src AS (SELECT doc_id, lower(source) AS tok FROM documents),
      corpus AS (SELECT count(*) AS n_docs FROM documents),
      dfreq AS (SELECT tok, count(*) AS df FROM src GROUP BY tok)
      SELECT s.doc_id,
             ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 1.0 / 1.0)) AS score
      FROM src s JOIN dfreq d USING (tok), corpus c
      WHERE s.tok IN ('data', 'src3')
    )
  ) GROUP BY doc_id
)
"""

# percolate: distinct doc terms joined to the registered query terms,
# matched-count thresholded per query (AND = all terms, OR = msm).
# Lockstep with analyzed_queries: an OR query whose msm exceeds its
# distinct-term count is unsatisfiable and is dropped, not clamped.
_PERC_ROWS = ", ".join(
    f"({qid}, '{t}', {len(set(text.split())) if mode == 'and' else max(1, msm)})"
    for qid, text, mode, msm in PERCOLATE_QUERIES
    if mode == "and" or max(1, msm) <= len(set(text.split()))
    for t in sorted(set(text.split()))
)
_SQL_PERCOLATE = f"""
SELECT 'percolate' AS kind,
       CAST(doc_id AS VARCHAR) || ':' || CAST(query_id AS VARCHAR) AS key,
       CAST(0.0 AS DOUBLE) AS score3, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT DISTINCT doc_id, u.tok AS term
  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
) dt JOIN (VALUES {_PERC_ROWS}) AS qt(query_id, term, n_required) USING (term)
GROUP BY doc_id, query_id, n_required
HAVING count(*) >= n_required
"""

# rank_eval: engine top-10 (f32 ordering) joined to a text-derived
# judgment pool; ES metric formulas — precision over retrieved, MRR,
# dcg with 2^rating-1 gains, idcg over the judged pool's top-10.
def _sql_rank_eval(qid: int, terms: list[str]) -> str:
    return f"""
SELECT 'rank_eval' AS kind, '{qid}:' || u.k AS key, round(u.v, 3) AS score3,
       CAST(0 AS BIGINT) AS n
FROM (
  WITH res AS (
    SELECT * FROM (
      SELECT row_number() OVER (ORDER BY CAST(score AS REAL) DESC, doc_id ASC) AS rank,
             doc_id
      FROM ({_sql_doc_scores(terms)})
    ) WHERE rank <= 10
  ),
  rat AS (
    SELECT doc_id,
           CASE WHEN contains(text, 'data') AND contains(text, 'row') THEN 2
                WHEN contains(text, 'data') THEN 1 ELSE 0 END AS rating
    FROM documents
  ),
  hits AS (
    SELECT r.rank, CAST(coalesce(t.rating, 0) AS DOUBLE) AS rating
    FROM res r LEFT JOIN rat t USING (doc_id)
  ),
  mets AS (
    SELECT CAST(sum(CASE WHEN rating >= 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS prec,
           coalesce(max(CASE WHEN rating >= 1 THEN 1.0 / rank END), 0) AS rr,
           sum((pow(2.0, rating) - 1.0) / log2(rank + 1.0)) AS dcg
    FROM hits
  ),
  ideal AS (
    SELECT coalesce(sum((pow(2.0, rating) - 1.0) / log2(rn + 1.0)), 0) AS idcg
    FROM (
      SELECT CAST(rating AS DOUBLE) AS rating,
             row_number() OVER (ORDER BY rating DESC, doc_id ASC) AS rn
      FROM rat WHERE rating > 0
    ) WHERE rn <= 10
  )
  SELECT unnest(['precision', 'reciprocal_rank', 'dcg', 'idcg', 'ndcg']) AS k,
         unnest([m.prec, m.rr, m.dcg, i.idcg,
                 CASE WHEN i.idcg > 0 THEN m.dcg / i.idcg ELSE 0 END]) AS v
  FROM mets m, ideal i
) u
"""


# synonyms: blended SynonymQuery — group 0 = {data, row} (tf summed per
# doc BEFORE saturation, idf from max member df), group 1 = {table}; OR.
_SQL_SYNONYMS = """
SELECT 'synonyms' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3,
       CAST(0 AS BIGINT) AS n
FROM (
  WITH toks AS (
    SELECT doc_id, u.tok AS term
    FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  ),
  dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks
    WHERE term IN ('data', 'row', 'table') GROUP BY doc_id, term
  ),
  dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
  gidf AS (
    SELECT 0 AS g, ln(1.0 + (c.n_docs - mx + 0.5) / (mx + 0.5)) AS v
    FROM (SELECT max(df) AS mx FROM dfreq WHERE term IN ('data', 'row')), corpus c
    UNION ALL
    SELECT 1, ln(1.0 + (c.n_docs - mx + 0.5) / (mx + 0.5))
    FROM (SELECT max(df) AS mx FROM dfreq WHERE term = 'table'), corpus c
  ),
  gtf AS (
    SELECT doc_id, 0 AS g, sum(tf) AS tf FROM tf
    WHERE term IN ('data', 'row') GROUP BY doc_id
    UNION ALL
    SELECT doc_id, 1, sum(tf) FROM tf WHERE term = 'table' GROUP BY doc_id
  ),
  contrib AS (
    SELECT gtf.doc_id,
           i.v * (gtf.tf * 2.2) / (gtf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS x
    FROM gtf JOIN gidf i USING (g) JOIN dls USING (doc_id), corpus c
    WHERE i.v IS NOT NULL
  )
  SELECT doc_id, sum(x) AS score FROM contrib GROUP BY doc_id
)
"""

# phrase_prefix twin: the expansion set is the DISTINCT corpus vocabulary
# starting with the stem, capped alphabetically (LIMIT mirrors the engine's
# _expanded_alpha orderBy(term).limit); phrase freq is the positional bigram
# join with the last slot IN the expansion; idf = idf(df(fixed)) + one
# blended idf from the MAX expansion df (Lucene SynonymQuery blend, same
# convention as _SQL_SYNONYMS).
_SQL_PHRASE_PREFIX = """
SELECT 'phrase_prefix' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3,
       CAST(phrase_freq AS BIGINT) AS n
FROM (
  WITH toks AS (
    SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t FROM documents)
  ),
  dls AS (
    SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS dl FROM documents
  ),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  exp AS (
    SELECT tok FROM (SELECT DISTINCT tok FROM toks WHERE tok LIKE 's%')
    ORDER BY tok LIMIT 50
  ),
  dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
  sumidf AS (
    SELECT ln(1.0 + (c.n_docs - d1.df + 0.5) / (d1.df + 0.5))
         + ln(1.0 + (c.n_docs - mx.df + 0.5) / (mx.df + 0.5)) AS sidf
    FROM corpus c,
         (SELECT df FROM dfreq WHERE tok = 'data') d1,
         (SELECT max(df) AS df FROM dfreq WHERE tok IN (SELECT tok FROM exp)) mx
  ),
  pf AS (
    SELECT t0.doc_id, count(*) AS phrase_freq
    FROM toks t0
    JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
    WHERE t0.tok = 'data' AND t1.tok IN (SELECT tok FROM exp)
    GROUP BY t0.doc_id
  )
  SELECT pf.doc_id,
         s.sidf * pf.phrase_freq * 2.2
           / (pf.phrase_freq + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS score,
         pf.phrase_freq
  FROM pf JOIN dls USING (doc_id), corpus c, sumidf s
)
"""

# bool_prefix twin: fixed-term BM25 OR with the kernel's f32 emission
# mirrored BEFORE the f64 combine (CAST(... AS REAL) on the or-part), then
# +1.0 where the doc contains any expansion term; final f32 at emission.
_SQL_BOOL_PREFIX = """
SELECT 'bool_prefix' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3,
       CAST(0 AS BIGINT) AS n
FROM (
  WITH toks AS (
    SELECT doc_id, u.tok AS tok
    FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  ),
  dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  exp AS (
    SELECT tok FROM (SELECT DISTINCT tok FROM toks WHERE tok LIKE 's%')
    ORDER BY tok LIMIT 50
  ),
  tf AS (
    SELECT doc_id, count(*) AS tf FROM toks WHERE tok = 'table' GROUP BY doc_id
  ),
  dfx AS (SELECT count(DISTINCT doc_id) AS df FROM tf),
  orpart AS (
    SELECT tf.doc_id,
           CAST(ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl))
                AS REAL) AS s32
    FROM tf JOIN dls USING (doc_id), corpus c, dfx d
  ),
  pref AS (
    SELECT DISTINCT doc_id FROM toks WHERE tok IN (SELECT tok FROM exp)
  )
  SELECT coalesce(o.doc_id, p.doc_id) AS doc_id,
         coalesce(CAST(o.s32 AS DOUBLE), 0.0)
           + (CASE WHEN p.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END) AS score
  FROM orpart o FULL OUTER JOIN pref p ON o.doc_id = p.doc_id
)
"""

# termvectors twin: re-derive doc 7's term vector + corpus term stats
# from first principles (the engine reads them from its posting blocks
# and dictionary); score3 packs (df, ttf) into one f64 with the SAME
# expression shape as the engine side.
_SQL_TERMVECTORS = """
SELECT 'termvectors' AS kind, key, score3, n FROM (
  WITH toks AS (
    SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t FROM documents)
  ),
  stats AS (
    SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS ttf
    FROM toks GROUP BY tok
  ),
  tv AS (
    SELECT tok, count(*) AS tf,
           string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS poss
    FROM toks WHERE doc_id = 7 GROUP BY tok
  )
  SELECT tv.tok || '@' || tv.poss AS key,
         round(CAST(s.df AS DOUBLE) + CAST(s.ttf AS DOUBLE) / 1000.0, 3) AS score3,
         CAST(tv.tf AS BIGINT) AS n
  FROM tv JOIN stats s ON s.tok = tv.tok
)
"""

# mtermvectors twin: the termvectors recipe for two docs in one pass,
# key prefixed by doc_id
_SQL_MTERMVECTORS = """
SELECT 'mtermvectors' AS kind, key, score3, n FROM (
  WITH toks AS (
    SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t FROM documents)
  ),
  stats AS (
    SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS ttf
    FROM toks GROUP BY tok
  ),
  tv AS (
    SELECT doc_id, tok, count(*) AS tf,
           string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS poss
    FROM toks WHERE doc_id IN (19, 42) GROUP BY doc_id, tok
  )
  SELECT CAST(tv.doc_id AS VARCHAR) || '@' || tv.tok || '@' || tv.poss AS key,
         round(CAST(s.df AS DOUBLE) + CAST(s.ttf AS DOUBLE) / 1000.0, 3) AS score3,
         CAST(tv.tf AS BIGINT) AS n
  FROM tv JOIN stats s ON s.tok = tv.tok
)
"""

# pinned: pins first (sentinel score), then the organic 'data row'
# ranking with pins removed — ordered on the PRE-rounding f32 score so
# the oracle's selection edge is the engine's (f32 desc, doc_id asc)
_SQL_PINNED = """
SELECT 'pinned' AS kind, key, score3, n FROM (
  SELECT CAST(7 AS VARCHAR) AS key, -1.0 AS score3, CAST(1 AS BIGINT) AS n
  UNION ALL
  SELECT CAST(3 AS VARCHAR), -1.0, CAST(2 AS BIGINT)
  UNION ALL
  SELECT key, score3, n FROM (
    SELECT CAST(doc_id AS VARCHAR) AS key,
           round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3,
           row_number() OVER (ORDER BY CAST(score AS REAL) DESC, doc_id ASC) + 2 AS n
    FROM (
      WITH toks AS (
        SELECT doc_id, u.tok AS term
        FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
      ),
      dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      corpus AS (
        SELECT (SELECT count(*) FROM documents) AS n_docs,
               (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
      ),
      tf AS (
        SELECT t.doc_id, t.term, count(*) AS tf FROM toks t
        WHERE t.term IN ('data', 'row') GROUP BY t.doc_id, t.term
      ),
      dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT tf.doc_id,
               ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
        FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
      )
      SELECT doc_id, sum(contrib) AS score FROM scored
      WHERE doc_id NOT IN (7, 3) GROUP BY doc_id
    )
  ) WHERE n <= 15
)
"""

# rule: the query-rules twin = the pinned twin with the applicable
# ruleset resolved (pins 7,3; excluded 5 dropped from the organic set)
_SQL_RULE = """
SELECT 'rule' AS kind, key, score3, n FROM (
  SELECT CAST(7 AS VARCHAR) AS key, -1.0 AS score3, CAST(1 AS BIGINT) AS n
  UNION ALL
  SELECT CAST(3 AS VARCHAR), -1.0, CAST(2 AS BIGINT)
  UNION ALL
  SELECT key, score3, n FROM (
    SELECT CAST(doc_id AS VARCHAR) AS key,
           round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3,
           row_number() OVER (ORDER BY CAST(score AS REAL) DESC, doc_id ASC) + 2 AS n
    FROM (
      WITH toks AS (
        SELECT doc_id, u.tok AS term
        FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
      ),
      dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      corpus AS (
        SELECT (SELECT count(*) FROM documents) AS n_docs,
               (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
      ),
      tf AS (
        SELECT t.doc_id, t.term, count(*) AS tf FROM toks t
        WHERE t.term IN ('data', 'row') GROUP BY t.doc_id, t.term
      ),
      dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT tf.doc_id,
               ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
        FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
      )
      SELECT doc_id, sum(contrib) AS score FROM scored
      WHERE doc_id NOT IN (7, 3, 5) GROUP BY doc_id
    )
  ) WHERE n <= 15
)
"""

# combined_fields: the literally-combined pseudo-field's statistics —
# tf/dl summed across fields, df = union df, avgdl = sum of field
# avgdls (exact: same doc space); one BM25 per term, f64 fold in
# ascending term order (sum ORDER BY term), f32 emit
_SQL_COMBINED_FIELDS = """
SELECT 'combined_fields' AS kind, key, score3, n FROM (
  WITH btoks AS (
    SELECT doc_id, u.tok AS term
    FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  ),
  stoks AS (
    SELECT doc_id, u.tok AS term
    FROM documents, unnest(regexp_extract_all(lower(source), '[a-z0-9_]+')) AS u(tok)
  ),
  bdl AS (SELECT doc_id, count(*) AS dl FROM btoks GROUP BY doc_id),
  sdl AS (SELECT doc_id, count(*) AS dl FROM stoks GROUP BY doc_id),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(bdl.dl, 0)) FROM documents LEFT JOIN bdl USING (doc_id))
           + (SELECT avg(coalesce(sdl.dl, 0)) FROM documents LEFT JOIN sdl USING (doc_id)) AS avgdl
  ),
  dlc AS (
    SELECT d.doc_id, CAST(coalesce(b.dl, 0) + coalesce(s.dl, 0) AS DOUBLE) AS dl
    FROM documents d LEFT JOIN bdl b USING (doc_id) LEFT JOIN sdl s USING (doc_id)
  ),
  tfc AS (
    SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM (
      SELECT doc_id, term FROM btoks WHERE term IN ('data', 'src3')
      UNION ALL
      SELECT doc_id, term FROM stoks WHERE term IN ('data', 'src3')
    ) GROUP BY doc_id, term
  ),
  dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tfc GROUP BY term),
  contribs AS (
    SELECT tfc.doc_id, tfc.term,
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (tfc.tf * 2.2) / (tfc.tf + 1.2 * (0.25 + 0.75 * dlc.dl / c.avgdl)) AS contrib
    FROM tfc JOIN dfreq d USING (term) JOIN dlc USING (doc_id), corpus c
  )
  SELECT CAST(doc_id AS VARCHAR) AS key,
         round(CAST(CAST(sum(contrib ORDER BY term) AS REAL) AS DOUBLE), 3) AS score3,
         CAST(0 AS BIGINT) AS n
  FROM contribs GROUP BY doc_id
)
"""

# --- span composition twins: spans in SQL mirror operators/spans.py ---
# greedy-earliest 2-term chain: e = the MINIMAL t1 position after the t0
# occurrence; the chain dies (HAVING) when that minimal e breaks the
# slop bound — exactly _ordered_spans' per-slot rule, no fallback.
_SQL_IDF_T = (
    "ln(1.0 + (c.n_docs - (SELECT count(DISTINCT doc_id) FROM toks "
    "WHERE tok = '{t}') + 0.5) / ((SELECT count(DISTINCT doc_id) FROM toks "
    "WHERE tok = '{t}') + 0.5))"
)


def _sql_term_spans(t: str) -> str:
    return (
        f"SELECT doc_id, pos AS s, pos AS e, 0 AS gap FROM toks "
        f"WHERE tok = '{t}'"
    )


def _sql_chain_spans(t0: str, t1: str, slop: int) -> str:
    return f"""SELECT a.doc_id, a.pos AS s, min(b.pos) AS e,
           min(b.pos) - a.pos - 1 AS gap
    FROM toks a JOIN toks b
      ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.tok = '{t1}'
    WHERE a.tok = '{t0}'
    GROUP BY a.doc_id, a.pos
    HAVING min(b.pos) <= a.pos + 1 + {slop}"""


def _sql_span_family(kind: str, surv_sql: str, idf_terms: list[str]) -> str:
    """BM25 over surviving spans: freq = sum 1/(1+gap) in (s, e) order
    (the engine's f64 fold), idf summed over the scoring side's terms in
    clause order, f32-quantized emission — the _SQL_SPAN_FIRST recipe."""
    idf = " + ".join(_SQL_IDF_T.format(t=t) for t in idf_terms)
    return f"""
SELECT '{kind}' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3,
       CAST(0 AS BIGINT) AS n
FROM (
  WITH toks AS (
    SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t FROM documents)
  ),
  dls AS (
    SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS dl FROM documents
  ),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  surv AS ({surv_sql}),
  freqs AS (
    SELECT doc_id, sum(1.0 / (1.0 + CAST(gap AS DOUBLE)) ORDER BY s, e) AS tf
    FROM surv GROUP BY doc_id
  )
  SELECT f.doc_id,
         ({idf}) * f.tf * 2.2 / (f.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS score
  FROM freqs f JOIN dls USING (doc_id), corpus c
)
"""


_SQL_SPAN_OR = _sql_span_family(
    "span_or",
    f"""{_sql_term_spans(SPAN_OR_CLAUSES[0])}
    UNION ALL {_sql_term_spans(SPAN_OR_CLAUSES[1])}
    UNION ALL {_sql_chain_spans(*SPAN_OR_CLAUSES[2].split(), SPAN_OR_SLOP)}""",
    SPAN_OR_CLAUSES[0].split() + SPAN_OR_CLAUSES[1].split()
    + SPAN_OR_CLAUSES[2].split(),
)

_SQL_SPAN_NOT = _sql_span_family(
    "span_not",
    f"""SELECT i.doc_id, i.s, i.e, i.gap FROM ({_sql_term_spans(SPAN_NOT[0])}) i
    WHERE NOT EXISTS (
      SELECT 1 FROM ({_sql_term_spans(SPAN_NOT[1])}) x
      WHERE x.doc_id = i.doc_id
        AND x.s <= i.e + {SPAN_NOT[3]} AND x.e >= i.s - {SPAN_NOT[2]})""",
    [SPAN_NOT[0]],
)

_SQL_SPAN_CONTAINING = _sql_span_family(
    "span_containing",
    f"""SELECT bq.doc_id, bq.s, bq.e, bq.gap
    FROM ({_sql_chain_spans(*SPAN_CONTAIN[0].split(), SPAN_CONTAIN[2])}) bq
    WHERE EXISTS (
      SELECT 1 FROM ({_sql_term_spans(SPAN_CONTAIN[1])}) l
      WHERE l.doc_id = bq.doc_id AND l.s >= bq.s AND l.e <= bq.e)""",
    SPAN_CONTAIN[0].split(),
)

_SQL_SPAN_WITHIN = _sql_span_family(
    "span_within",
    f"""SELECT l.doc_id, l.s, l.e, l.gap
    FROM ({_sql_term_spans(SPAN_WITHIN[0])}) l
    WHERE EXISTS (
      SELECT 1 FROM ({_sql_chain_spans(*SPAN_WITHIN[1].split(), SPAN_WITHIN[2])}) bq
      WHERE bq.doc_id = l.doc_id AND bq.s <= l.s AND bq.e >= l.e)""",
    [SPAN_WITHIN[0]],
)


# --- intervals twin: the chain subquery is the engine's greedy-earliest
# ordered all_of (per lead position, the MINIMAL next-term position);
# domination NOT EXISTS = minimalize; the gaps filter runs AFTER it.
_SQL_IV_CHAINS = f"""SELECT a.doc_id AS doc_id, a.pos AS l, min(b.pos) AS r, 2 AS w
    FROM toks a JOIN toks b
      ON b.doc_id = a.doc_id AND b.tok = '{IV_NEXT}' AND b.pos > a.pos
    WHERE a.tok IN ('{IV_ANY[0]}', '{IV_ANY[1]}')
    GROUP BY a.doc_id, a.pos"""

_SQL_INTERVALS = _sql_span_family(
    "intervals",
    f"""SELECT i.doc_id, i.l AS s, i.r AS e,
           greatest(0, i.r - i.l + 1 - i.w) AS gap
    FROM ({_SQL_IV_CHAINS}) i
    WHERE NOT EXISTS (
        SELECT 1 FROM ({_SQL_IV_CHAINS}) j
        WHERE j.doc_id = i.doc_id AND j.l > i.l AND j.r <= i.r)
      AND i.r - i.l + 1 - i.w <= {IV_MAX_GAPS}
      AND NOT EXISTS (
        SELECT 1 FROM toks x
        WHERE x.doc_id = i.doc_id AND x.tok = '{IV_NOT}'
          AND x.pos BETWEEN i.l AND i.r)""",
    [IV_ANY[0], IV_ANY[1], IV_NEXT],
)

def _sql_adv_cte(terms: list[str], engine_assoc: bool = False) -> str:
    """Shared BM25 CTE block for the explain/terms_set/scroll kinds.
    ``engine_assoc=True`` mirrors the engine's _explain expression
    association EXACTLY (the explain kind emits the raw f64 contribution,
    no f32 quantization margin); False keeps the _sql_bm25_allmatch
    association the f32-rounded kinds already use."""
    term_list = ", ".join(f"'{t}'" for t in terms)
    if engine_assoc:
        contrib = ("1.0 * ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))"
                   " * tf.tf * (1.2 + 1.0)"
                   " / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dls.dl / c.avgdl))")
    else:
        contrib = ("ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))"
                   " * (tf.tf * 2.2)"
                   " / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl))")
    return f"""
  WITH toks AS (
    SELECT doc_id, u.tok AS term
    FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  ),
  dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  tf AS (
    SELECT t.doc_id, t.term, count(*) AS tf FROM toks t
    WHERE t.term IN ({term_list}) GROUP BY t.doc_id, t.term
  ),
  dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
  scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, {contrib} AS contrib
    FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
  )
"""


_SQL_EXPLAIN = f"""
SELECT 'explain' AS kind, term AS key, round(contrib, 3) AS score3,
       CAST(tf AS BIGINT) AS n
FROM (
  {_sql_adv_cte(EXPLAIN_QUERY.split(), engine_assoc=True)}
  SELECT term, tf, contrib FROM scored WHERE doc_id = {EXPLAIN_DOC}
)
"""

_SQL_TERMS_SET = f"""
SELECT 'terms_set' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3,
       CAST(row_number() OVER (ORDER BY CAST(score AS REAL) DESC, doc_id ASC)
            AS BIGINT) AS n
FROM (
  {_sql_adv_cte(TERMS_SET_TERMS)}
  SELECT doc_id, sum(contrib ORDER BY term) AS score
  FROM scored GROUP BY doc_id
  HAVING count(DISTINCT term) >= {(len(TERMS_SET_TERMS) + 1) // 2}
)
"""

_SQL_SCROLL = f"""
SELECT 'scroll' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3,
       CAST((rnk - 1) // {SCROLL_PAGE_SIZE} AS BIGINT) AS n
FROM (
  SELECT row_number() OVER (ORDER BY CAST(score AS REAL) DESC, doc_id ASC) AS rnk,
         doc_id, score
  FROM (
    {_sql_adv_cte(SCROLL_QUERY.split())}
    SELECT doc_id, sum(contrib ORDER BY term) AS score
    FROM scored GROUP BY doc_id
  )
) WHERE rnk <= {SCROLL_PAGES * SCROLL_PAGE_SIZE}
"""

def _sql_rrf_ranked(query: str, window: int = RRF_WINDOW) -> str:
    """One retriever's ranked window for the rrf/linear/esql_fork kinds:
    the shared BM25 CTE ranked exactly like the engine's top_k (f32
    score desc, doc_id asc — the scroll kind's proven mirror), capped at
    ``window``. ``s`` is the f64-of-the-emitted-f32 score (REAL
    round-trip) the linear kind normalizes; rrf ignores it."""
    return f"""(
  SELECT doc_id,
         row_number() OVER (ORDER BY CAST(score AS REAL) DESC, doc_id ASC) AS rnk,
         CAST(CAST(score AS REAL) AS DOUBLE) AS s
  FROM (
    {_sql_adv_cte(query.split())}
    SELECT doc_id, sum(contrib ORDER BY term) AS score
    FROM scored GROUP BY doc_id
  )
  QUALIFY rnk <= {window}
)"""


# rrf contributions are 1/(60+rank) with integer ranks — exact f64 on
# both sides; a doc missing from one retriever contributes 0.0, and
# 0.0 + x is bit-exact x, so the two-term sum mirrors the engine's
# retriever-index-order fold verbatim. Selection (top-10) orders on the
# PRE-rounding f64 rrf, doc_id asc — the pinned-kind discipline.
_SQL_RRF = f"""
SELECT 'rrf' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(rrf, 3) AS score3,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS n
FROM (
  SELECT doc_id,
         coalesce(1.0 / ({RRF_CONST} + a.rnk), 0.0)
           + coalesce(1.0 / ({RRF_CONST} + b.rnk), 0.0) AS rrf
  FROM {_sql_rrf_ranked(RRF_QUERIES[0])} a
  FULL OUTER JOIN {_sql_rrf_ranked(RRF_QUERIES[1])} b USING (doc_id)
)
QUALIFY row_number() OVER (ORDER BY rrf DESC, doc_id ASC) <= {RRF_TOPK}
"""

# linear retriever twin: minmax-normalize each retriever's windowed f32
# scores in f64 ((s-mn)/(mx-mn), degenerate window -> 1.0), weighted sum
# in retriever-index order (coalesce 0.0 is bit-neutral), top-10 on the
# PRE-rounding f64 fused score — the same mirroring recipe as rrf.
_SQL_LINEAR = f"""
SELECT 'linear' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(score, 3) AS score3,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS n
FROM (
  SELECT doc_id,
         coalesce({LINEAR_WEIGHTS[0]} * a.norm, 0.0)
           + coalesce({LINEAR_WEIGHTS[1]} * b.norm, 0.0) AS score
  FROM (
    SELECT doc_id,
           CASE WHEN mx = mn THEN 1.0 ELSE (s - mn) / (mx - mn) END AS norm
    FROM (SELECT doc_id, s, min(s) OVER () AS mn, max(s) OVER () AS mx
          FROM {_sql_rrf_ranked(RRF_QUERIES[0])})
  ) a
  FULL OUTER JOIN (
    SELECT doc_id,
           CASE WHEN mx = mn THEN 1.0 ELSE (s - mn) / (mx - mn) END AS norm
    FROM (SELECT doc_id, s, min(s) OVER () AS mn, max(s) OVER () AS mx
          FROM {_sql_rrf_ranked(RRF_QUERIES[1])})
  ) b USING (doc_id)
)
QUALIFY row_number() OVER (ORDER BY score DESC, doc_id ASC) <= {RRF_TOPK}
"""

# terms_lookup twin: "contains ANY distinct analyzed term of doc
# TL_DOC_ID" — the lookup set re-derived by tokenizing the lookup doc's
# text (identical to the engine's term_vectors fetch: a doc's distinct
# index terms ARE its distinct analyzer tokens); filter context, score3
# pinned 0.0; n = doc_len = total token count (the docmap's dl).
_SQL_TERMS_LOOKUP = f"""
SELECT 'terms_lookup' AS kind, CAST(doc_id AS VARCHAR) AS key,
       CAST(0.0 AS DOUBLE) AS score3, CAST(len(toks) AS BIGINT) AS n
FROM (
  SELECT doc_id,
         regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9_]+') AS toks
  FROM documents
) d, (
  SELECT regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9_]+') AS lk
  FROM documents WHERE doc_id = {TL_DOC_ID}
) l
WHERE d.doc_id % {TL_MOD} = {TL_REM} AND list_has_any(d.toks, l.lk)
"""

# nested twin: parents = users, children = purchase events over 100.00;
# avg of integer cents is the exact ratio CAST(sum AS DOUBLE)/count,
# then /100.0 — the identical f64 expression shape as the engine's
# (total/n)/100.0 over its array fold of the same exact integers.
_SQL_NESTED = """
SELECT 'nested' AS kind, CAST(user_id AS VARCHAR) AS key,
       round((CAST(sum(cents) AS DOUBLE) / count(*)) / 100.0, 3) AS score3,
       CAST(count(*) AS BIGINT) AS n
FROM (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase')
WHERE cents > 10000
GROUP BY user_id
"""

# esql_fork twin: identical shape to _SQL_RRF but over the FORK kind's
# own (queries, window, topk) so the two kinds never alias each other.
# The engine's FUSE folds 1/(60+rank) in _fork order (fork1 then fork2)
# — coalesce 0.0 is bit-neutral, so the two-term a-then-b sum mirrors it
# verbatim; branch rank = row_number over (f32 score desc, doc_id asc),
# the same pinned total order each branch's SORT | LIMIT used.
_SQL_ESQL_FORK = f"""
SELECT 'esql_fork' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(fused, 3) AS score3,
       CAST(row_number() OVER (ORDER BY fused DESC, doc_id ASC) AS BIGINT) AS n
FROM (
  SELECT doc_id,
         coalesce(1.0 / ({RRF_CONST} + a.rnk), 0.0)
           + coalesce(1.0 / ({RRF_CONST} + b.rnk), 0.0) AS fused
  FROM {_sql_rrf_ranked(FORK_QUERIES[0], FORK_WINDOW)} a
  FULL OUTER JOIN {_sql_rrf_ranked(FORK_QUERIES[1], FORK_WINDOW)} b USING (doc_id)
)
QUALIFY row_number() OVER (ORDER BY fused DESC, doc_id ASC) <= {FORK_TOPK}
"""

_SQL_RUNTIME = f"""
SELECT 'runtime' AS kind, CAST(doc_id AS VARCHAR) AS key, score3,
       CAST(floor(n_chars / 100.0) AS BIGINT) AS n
FROM ({_sql_bm25_allmatch(0, ["data", "row"], "or")}) b
JOIN documents USING (doc_id)
WHERE CAST(floor(n_chars / 100.0) AS BIGINT) >= 2
  AND CAST(substring(source, 4) AS BIGINT) % 2 = 0
"""

# has_parent twin: the union corpus (turns + per-conv rollup text joined
# by single spaces in turn order) reproduces the conv5roll index exactly
# — rollup doc_id = n_turns + conv (dense conv ids => conv_rank = conv).
# Parent BM25 scores come from the SHARED statistics of that union
# corpus (the one-index ES parent/child model); each child row carries
# its parent's already-f32-rounded score3 verbatim — the engine
# propagates the parent f32 with no further arithmetic.
_CONV_ROLL_SRC = """(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT (SELECT count(*) FROM documents) + (doc_id // 5) AS doc_id,
         string_agg(text, ' ' ORDER BY doc_id) AS text
  FROM documents GROUP BY (doc_id // 5)
)"""

_SQL_HAS_PARENT = f"""
SELECT 'has_parent' AS kind, CAST(c.doc_id AS VARCHAR) AS key,
       p.score3, CAST(c.doc_id % 5 AS BIGINT) AS n
FROM documents c
JOIN (
  SELECT doc_id, score3
  FROM ({_sql_bm25_allmatch(0, HAS_PARENT_QUERY, "or", src=_CONV_ROLL_SRC)})
  WHERE doc_id >= (SELECT count(*) FROM documents)
) p ON p.doc_id = (SELECT count(*) FROM documents) + (c.doc_id // 5)
"""

_SQL_PARENT_ID = f"""
SELECT 'parent_id' AS kind, CAST(doc_id AS VARCHAR) AS key,
       1.0 AS score3, CAST(doc_id % 5 AS BIGINT) AS n
FROM documents WHERE doc_id // 5 = {PARENT_ID_CONV}
"""

# sparse_vector twin: dot product of query token weights x tf. The
# weights are dyadic rationals, so every contribution w*tf and their sum
# are exact f64 regardless of accumulation order — plain SUM mirrors the
# engine's ascending-term_id fold bit-for-bit; f32 emission mirrored as
# CAST(.. AS REAL).
_SPARSE_CASE = " ".join(
    f"WHEN '{t}' THEN {w}" for t, w in sorted(SPARSE_WEIGHTS.items())
)
_SQL_SPARSE_VECTOR = f"""
SELECT 'sparse_vector' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(s AS REAL) AS DOUBLE), 3) AS score3,
       CAST(0 AS BIGINT) AS n
FROM (
  WITH toks AS (
    SELECT doc_id, u.tok AS term
    FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  )
  SELECT doc_id,
         sum((CASE term {_SPARSE_CASE} END) * cnt) AS s
  FROM (
    SELECT doc_id, term, count(*) AS cnt FROM toks
    WHERE term IN ({", ".join(f"'{t}'" for t in sorted(SPARSE_WEIGHTS))})
    GROUP BY doc_id, term
  )
  GROUP BY doc_id
)
"""

# distance_feature twin: f32 BM25 -> f64 + (boost*pivot)/(pivot+dist)
# -> f32 emit, the engine's exact expression association. ts_us =
# epoch(2024-01-01) + doc_id minutes — integers below 2^53, so the
# subtraction and the division operands are exact f64 on both sides.
_SQL_DISTANCE_FEATURE = f"""
SELECT 'distance_feature' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(
         CAST(CAST(score AS REAL) AS DOUBLE)
           + {DISTF_BOOST} * ({DISTF_PIVOT_US}
             / ({DISTF_PIVOT_US}
                + abs(CAST({DISTF_EPOCH_US} + doc_id * 60000000 AS DOUBLE)
                      - {float(DISTF_ORIGIN_US)})))
       AS REAL) AS DOUBLE), 3) AS score3,
       CAST(0 AS BIGINT) AS n
FROM (
  WITH toks AS (
    SELECT doc_id, u.tok AS term
    FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  ),
  dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  tf AS (
    SELECT t.doc_id, t.term, count(*) AS tf FROM toks t
    WHERE t.term IN ('data', 'row') GROUP BY t.doc_id, t.term
  ),
  dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
  scored AS (
    SELECT tf.doc_id,
           ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
    FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
  )
  SELECT doc_id, sum(contrib) AS score FROM scored GROUP BY doc_id
)
"""

# match_fuzzy twin: the expansion sets are DATA-DEPENDENT — recomputed
# inside the twin from the corpus vocabulary with DuckDB's levenshtein
# under the engine's exact cap (df desc, term asc, LIMIT max_expansions,
# the exact token force-included post-cap like the engine's mem=[tok]).
# Scoring is the SynonymQuery blend (_SQL_SYNONYMS convention): group
# tf = sum of member tfs BEFORE saturation, group idf from max member df.
def _sql_match_fuzzy(tokens: list[str], max_exp: int) -> str:
    exps = []
    for gi, tok in enumerate(tokens):
        d = 0 if len(tok) < 3 else (1 if len(tok) <= 5 else 2)
        exps.append(f"""
  exp{gi} AS (
    SELECT term FROM (
      SELECT term FROM vocab WHERE levenshtein(term, '{tok}') <= {d}
      ORDER BY df DESC, term ASC LIMIT {max_exp}
    )
    UNION
    SELECT term FROM vocab WHERE term = '{tok}'
  )""")
    gidf = "\n    UNION ALL\n".join(
        f"""    SELECT {gi} AS g, ln(1.0 + (c.n_docs - mx + 0.5) / (mx + 0.5)) AS v
    FROM (SELECT max(df) AS mx FROM vocab JOIN exp{gi} USING (term)), corpus c"""
        for gi in range(len(tokens))
    )
    gtf = "\n    UNION ALL\n".join(
        f"""    SELECT doc_id, {gi} AS g, sum(tf) AS tf
    FROM tf JOIN exp{gi} USING (term) GROUP BY doc_id"""
        for gi in range(len(tokens))
    )
    allexp = " UNION ".join(
        f"SELECT term FROM exp{gi}" for gi in range(len(tokens))
    )
    return f"""
SELECT 'match_fuzzy' AS kind, CAST(doc_id AS VARCHAR) AS key,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3,
       CAST(0 AS BIGINT) AS n
FROM (
  WITH toks AS (
    SELECT doc_id, u.tok AS term
    FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
  ),
  dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  ),
  vocab AS (
    SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
  ),{",".join(exps)},
  tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks
    WHERE term IN ({allexp}) GROUP BY doc_id, term
  ),
  gidf AS (
{gidf}
  ),
  gtf AS (
{gtf}
  ),
  contrib AS (
    SELECT gtf.doc_id,
           i.v * (gtf.tf * 2.2) / (gtf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS x
    FROM gtf JOIN gidf i USING (g) JOIN dls USING (doc_id), corpus c
    WHERE i.v IS NOT NULL
  )
  SELECT doc_id, sum(x) AS score FROM contrib GROUP BY doc_id
)
"""


_SQL_MATCH_FUZZY = _sql_match_fuzzy(MATCH_FUZZY_TOKENS, MATCH_FUZZY_EXPANSIONS)

SQL_ADVANCED_QUERIES = "\nUNION ALL\n".join(
    [_SQL_MLT, _SQL_SPAN_FIRST, _SQL_HAS_CHILD,
     _SQL_DIS_MAX, _SQL_BOOSTING, _SQL_COLLAPSE, _SQL_MULTI_MATCH,
     _SQL_PERCOLATE,
     _sql_rank_eval(0, ["data", "row"]), _sql_rank_eval(1, ["table"]),
     _SQL_SYNONYMS, _SQL_PHRASE_PREFIX, _SQL_BOOL_PREFIX, _SQL_TERMVECTORS,
     _SQL_PINNED, _SQL_COMBINED_FIELDS,
     _SQL_SPAN_OR, _SQL_SPAN_NOT, _SQL_SPAN_CONTAINING, _SQL_SPAN_WITHIN,
     _SQL_INTERVALS, _SQL_MTERMVECTORS,
     _SQL_EXPLAIN, _SQL_TERMS_SET, _SQL_SCROLL, _SQL_RRF, _SQL_LINEAR,
     _SQL_RUNTIME,
     _SQL_HAS_PARENT, _SQL_PARENT_ID, _SQL_SPARSE_VECTOR,
     _SQL_DISTANCE_FEATURE, _SQL_MATCH_FUZZY, _SQL_ESQL_FORK,
     _SQL_TERMS_LOOKUP, _SQL_NESTED, _SQL_RULE]
)


def q_function_score_all(spark, sf_dir):
    """Both function_score surfaces in ONE gate entry (field_value_factor
    multiply + decay-function sum, previously two green entries — merged
    so the driver's entry window keeps a current row for every distinct
    capability), tagged by kind with the metric column unified as
    fn_value."""
    a = q_function_score(spark, sf_dir).select(
        F.lit("fvf").alias("kind"), "rank", "doc_id", "final",
        F.col("factor").alias("fn_value"),
    )
    b = q_function_score_decay(spark, sf_dir).select(
        F.lit("decay").alias("kind"), "rank", "doc_id", "final", "fn_value"
    )
    from .functions.function_score import (
        distance_feature_col,
        rank_feature_col,
    )

    c = _q_feature_kind(
        spark, sf_dir, "rank_feature",
        lambda: rank_feature_col(
            F.col("n_chars"), "saturation", pivot=300.0, boost=2.0
        ),
    )
    d = _q_feature_kind(
        spark, sf_dir, "distance_feature",
        lambda: distance_feature_col(
            F.col("n_chars"), origin=300.0, pivot=100.0, boost=3.0
        ),
    )
    return a.unionByName(b).unionByName(c).unionByName(d)


def _q_feature_kind(spark, sf_dir, kind, make_col):
    """rank_feature / distance_feature as ES uses them: a should-clause
    feature score ADDED to the BM25 relevance score (boost_mode=sum),
    re-ranked; same relational base + rounding discipline as the decay
    kind. The feature closed forms (x/(x+pivot), pivot/(pivot+|x-o|))
    are rational arithmetic over integer n_chars — bit-mirrorable."""
    from .functions.function_score import apply_boost_mode

    base = _bm25_relational(spark, sf_dir, BM25_QUERY, "or", 50).drop("rank")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    fn = make_col()
    final = apply_boost_mode(F.col("score"), fn, "sum")
    w = Window.orderBy(F.desc("final"), F.asc("doc_id"))
    return (
        base.join(docs, "doc_id")
        .withColumn("fn_value", duck_round(fn, 6))
        .withColumn("final", duck_round(final, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(F.lit(kind).alias("kind"), "rank", "doc_id", "final", "fn_value")
    )


SQL_FUNCTION_SCORE_ALL = f"""
SELECT 'fvf' AS kind, rank, doc_id, final, factor AS fn_value
FROM ({SQL_FUNCTION_SCORE})
UNION ALL
SELECT 'decay' AS kind, rank, doc_id, final, fn_value
FROM ({SQL_FUNCTION_SCORE_DECAY})
UNION ALL
-- rank_feature saturation: fn = 2 * (x / (x + 300)), boost_mode=sum
SELECT 'rank_feature' AS kind, rank, doc_id, final, fn_value FROM (
  SELECT row_number() OVER (ORDER BY round(score + fn, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(score + fn, 6) AS final, round(fn, 6) AS fn_value
  FROM (
    SELECT b.doc_id, b.score,
           2.0 * (greatest(CAST(d.n_chars AS DOUBLE), 0.0)
                  / (greatest(CAST(d.n_chars AS DOUBLE), 0.0) + 300.0)) AS fn
    FROM ({_sql_bm25(BM25_QUERY, "or", 50)}) b JOIN documents d USING (doc_id)
  )
) WHERE rank <= 20
UNION ALL
-- distance_feature: fn = 3 * (100 / (100 + |x - 300|)), boost_mode=sum
SELECT 'distance_feature' AS kind, rank, doc_id, final, fn_value FROM (
  SELECT row_number() OVER (ORDER BY round(score + fn, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(score + fn, 6) AS final, round(fn, 6) AS fn_value
  FROM (
    SELECT b.doc_id, b.score,
           3.0 * (100.0 / (100.0 + abs(CAST(d.n_chars AS DOUBLE) - 300.0))) AS fn
    FROM ({_sql_bm25(BM25_QUERY, "or", 50)}) b JOIN documents d USING (doc_id)
  )
) WHERE rank <= 20
"""


def q_agg_extras(spark, sf_dir):
    """ES agg breadth in ONE entry (operators/aggs.py builders), tagged
    by agg kind with a unified (agg, key, doc_count, metric) shape:
    histogram (n_chars/100 buckets, avg metric), range (overlapping-safe
    from-inclusive/to-exclusive buckets over events.value, single-pass
    conditional aggregation), filters (named independent predicates),
    rare_terms (doc_count <= 70 tail of lang), terms with a
    sub-aggregation ORDERING the buckets (order by avg(n_chars) desc —
    the ES "order": {"sub_agg": "desc"} shape size-capped at 3),
    extended_stats (population moments over n_chars, closed-form from
    single-pass sums so the oracle is bit-mirrorable), adjacency_matrix
    (pairwise filter intersections in one conditional-agg pass),
    value_count+missing over a JSON-extracted field (props.k always
    present, props.absent always missing), and the round-4 breadth set:
    multi_terms (lang x source composite buckets), weighted_avg (value
    cents weighted by a derived integer weight — integer-exact sums so
    the division is bit-identical both sides), percentile_ranks (exact
    CDF at three thresholds), string_stats (lengths + Shannon char
    entropy of documents.text), top_metrics (rows at the top-3 values,
    event_id tiebreak), median_absolute_deviation (interpolated exact
    medians), matrix_stats (per-field moments + covariance/correlation
    over n_chars and doc_id%97 — integer-exact power sums),
    scripted_metric (map/combine per Arrow batch + one-task reduce over
    integer cents, the ES custom-agg shape), and the deterministic
    sampler/diversified_sampler pair (lowest-Knuth-hash uniform sample;
    diversified caps rows per event_type — both exactly mirrored by the
    split-hash SQL twin). Session-2 additions: boxplot (EXACT
    interpolated quartiles — quantile_cont twin), t_test (Welch + pooled
    statistics, closed-form over integer-cents power sums), rate
    (per-day rate in month buckets, day count derived from the bucket
    key), stats_bucket / normalize(percent_of_sum) /
    cumulative_cardinality (sibling + pipeline aggs over the same
    monthly integer-cents buckets; cumulative distinct = first-month
    pinning + month-spine running sum), and geotile_grid z=4
    (Web-Mercator tile keys; floors provably off the integer-degree
    input grid); then geohash_grid p=2 (deterministic floors, then pure
    int64 bit-interleave + base32 — the SQL twin is GENERATED from the
    same bit plan), geo_centroid per event_type (exact integer-degree
    sums, closed-form mean) and geo_bounds (exact min/max edges).
    Session-3 additions: date_range (from-inclusive/to-exclusive
    timestamp bounds, one conditional-agg pass), ip_range (derived
    dotted-quad, numeric octet-fold ordering, CIDR via parse_cidr — the
    twin folds octets to the same int64), and vw_histogram (the
    deterministic equal-depth reading of ES variable_width_histogram:
    exact interpolated quantile boundaries — quantile_cont parity —
    with min/max/avg rows per bucket); categorize_text (deterministic
    reading of ES's drain-tree categorization: key = first-5 analyzer
    tokens with numerics dropped, (doc_count desc, key asc) cap).
    Round-5 additions: global (one bucket over the whole corpus — the
    ES query-context escape), random_sampler (probability-based
    deterministic sibling of sampler: knuth_hash(id) < p * 2^32), and
    ip_prefix (/10 masked-network buckets over the derived quad — pure
    integer mask + octet re-render, identical arithmetic both sides);
    change_point (8.10 ml-agg, deterministic step-change reading over
    the daily integer-cents series: statistic |lm-rm|*sqrt(i*(n-i)/n)
    at the argmax split, ties to smallest i — exact-integer running
    sums make the f64 expression bit-mirrorable; three rows: detected
    day + left/right means); geo_line (7.11 — per-type first-50 line
    by event_id over the derived grid, gate row = order-exact integer
    checksum sum((pos+1)*(2*lon+lat)) so any vertex transposition
    flips the hash). Session-4 additions: nested / reverse_nested
    (the array<struct> nested-field model — child doc_counts vs
    parents-counted-once, built from per-user event arrays in pinned
    event_id order), parent (join-field child->parent over
    orders/customer, distinct-custkey acctbal cents), and the 7.14 ml
    pipeline pair bucket_corr (closed-form Pearson of daily doc_counts
    vs the epoch-day indicator) + ks_test (two-sided KS distance of
    the daily count mass vs uniform — exact-integer ecdf ratios)."""
    from .operators.aggs import (
        adjacency_matrix,
        extended_stats,
        filters_agg,
        histogram,
        matrix_stats,
        median_absolute_deviation,
        multi_terms,
        percentile_ranks,
        range_agg,
        rare_terms,
        scripted_metric,
        string_stats,
        terms_agg,
        top_metrics,
        value_count_missing,
        weighted_avg,
    )

    docs = _t(spark, sf_dir, "documents")
    ev = _t(spark, sf_dir, "events")
    h = histogram(
        docs, "n_chars", 100.0,
        metrics={"metric": duck_round(F.avg("n_chars"), 6)},
    ).select(
        F.lit("histogram").alias("agg"),
        F.col("bucket").cast("long").cast("string").alias("key"),
        "doc_count", "metric",
    )
    r = range_agg(
        ev, "value",
        [("lo", None, 50.0), ("mid", 50.0, 150.0), ("hi", 150.0, None)],
        metrics={"metric": lambda c: duck_round(F.avg(F.when(c, F.col("value"))), 6)},
    ).select(F.lit("range").alias("agg"), "key", "doc_count", "metric")
    fl = filters_agg(
        docs,
        {
            "en": F.col("lang") == "en",
            "long": F.col("n_chars") >= 300,
            "has_data": F.col("text").contains("data"),
        },
        metrics={"metric": lambda c: duck_round(F.avg(F.when(c, F.col("n_chars"))), 6)},
    ).select(F.lit("filters").alias("agg"), "key", "doc_count", "metric")
    ra = rare_terms(docs, "lang", max_doc_count=70).select(
        F.lit("rare_terms").alias("agg"), "key", "doc_count",
        F.col("doc_count").cast("double").alias("metric"),
    )
    ts = terms_agg(
        docs, "lang", size=3,
        subaggs={"metric": duck_round(F.avg("n_chars"), 6)},
        order_by=("metric", "desc"),
    ).select(F.lit("terms_sub").alias("agg"), "key", "doc_count", "metric")
    es_row = extended_stats(docs, "n_chars", sigma=2.0)
    stat_cols = ["min", "max", "avg", "sum", "sum_of_squares",
                 "variance", "std_deviation", "std_upper", "std_lower"]
    es = es_row.select(
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("key"),
                F.col("count").cast("long").alias("doc_count"),
                duck_round(F.col(c).cast("double"), 6).alias("metric"),
            )
            for c in stat_cols
        ])).alias("b")
    ).select(F.lit("extended_stats").alias("agg"), "b.*")
    adj = adjacency_matrix(
        docs,
        {
            "en": F.col("lang") == "en",
            "long": F.col("n_chars") >= 300,
            "has_data": F.col("text").contains("data"),
        },
    ).select(
        F.lit("adjacency").alias("agg"), "key", "doc_count",
        F.col("doc_count").cast("double").alias("metric"),
    )
    vc = None
    for jf in ("k", "absent"):
        row = value_count_missing(
            ev, F.get_json_object("props", f"$.{jf}")
        ).select(
            F.lit("value_count").alias("agg"),
            F.lit(f"props.{jf}").alias("key"),
            F.col("value_count").cast("long").alias("doc_count"),
            F.col("missing").cast("double").alias("metric"),
        )
        vc = row if vc is None else vc.unionByName(row)
    mt = multi_terms(docs, ["lang", "source"], size=5).select(
        F.lit("multi_terms").alias("agg"), "key", "doc_count",
        F.col("doc_count").cast("double").alias("metric"),
    )
    # integer-exact weighted avg: value has 2 decimals, so value*100
    # rounds to an exact BIGINT; sums of (cents * weight) and weights
    # stay far below 2^53, making the final division bit-identical to
    # the oracle's identical expression over identical integer sums
    wa = weighted_avg(
        ev,
        F.round(F.col("value") * 100).cast("long"),
        (F.col("user_id") % 7 + 1),
    ).select(
        F.lit("weighted_avg").alias("agg"),
        F.lit("value:user_weight").alias("key"),
        F.col("value_count").alias("doc_count"),
        duck_round(F.col("weighted_avg") / 100.0, 6).alias("metric"),
    )
    pr = percentile_ranks(ev, "value", [25.0, 100.0, 250.0]).select(
        F.lit("percentile_ranks").alias("agg"), "key",
        F.lit(0).cast("long").alias("doc_count"),
        duck_round("percent", 6).alias("metric"),
    )
    ss_row = string_stats(docs, F.col("text"))
    ss = ss_row.select(
        F.explode(F.array(*[
            F.struct(
                F.lit(nm).alias("key"),
                F.col("count").cast("long").alias("doc_count"),
                duck_round(F.col(nm).cast("double"), 6).alias("metric"),
            )
            for nm in ("min_length", "max_length", "avg_length", "entropy")
        ])).alias("b")
    ).select(F.lit("string_stats").alias("agg"), "b.*")
    tm = top_metrics(
        ev, "value", ["event_id", "user_id"], size=3, tiebreak="event_id"
    ).select(
        F.lit("top_metrics").alias("agg"),
        F.col("event_id").cast("string").alias("key"),
        F.col("user_id").cast("long").alias("doc_count"),
        F.col("value").cast("double").alias("metric"),
    )
    mad_row = median_absolute_deviation(ev, "value")
    mad = mad_row.select(
        F.explode(F.array(*[
            F.struct(
                F.lit(nm).alias("key"),
                F.lit(0).cast("long").alias("doc_count"),
                duck_round(F.col(nm).cast("double"), 6).alias("metric"),
            )
            for nm in ("median", "mad")
        ])).alias("b")
    ).select(F.lit("mad").alias("agg"), "b.*")
    mx = matrix_stats(
        docs.withColumn("dmod", (F.col("doc_id") % 97).cast("double")),
        ["n_chars", "dmod"],
    ).select(
        F.lit("matrix_stats").alias("agg"),
        F.concat_ws(":", "stat", "key").alias("key"),
        F.lit(0).cast("long").alias("doc_count"),
        duck_round("value", 6).alias("metric"),
    )

    def _sm_map(pdf):
        import pandas as pd

        v100 = (pdf["value"] * 100).round().astype("int64")
        return pd.DataFrame({
            "n": [len(pdf)], "s": [int(v100.sum())],
            "s2": [int((v100 * v100).sum())],
        })

    def _sm_reduce(pdf):
        import pandas as pd

        n = int(pdf["n"].sum())
        s = float(pdf["s"].sum())
        s2 = float(pdf["s2"].sum())
        mean = s / 100.0 / n
        var = s2 / 10000.0 / n - mean * mean
        return pd.DataFrame({
            "key": ["count", "mean", "variance"],
            "metric": [float(n), mean, var],
        })

    sm = scripted_metric(
        ev.select("value"), _sm_map, _sm_reduce,
        "n long, s long, s2 long", "key string, metric double",
    ).select(
        F.lit("scripted_metric").alias("agg"), "key",
        F.lit(0).cast("long").alias("doc_count"),
        duck_round("metric", 6).alias("metric"),
    )
    from .functions.geo import geo_bounding_box, geo_distance_agg
    from .operators.aggs import auto_date_histogram, diversified_sampler, sampler

    gev = ev.withColumn(
        "glat", ((F.col("user_id") * 37 % 180) - 90).cast("double")
    ).withColumn(
        "glon", ((F.col("event_id") * 91 % 360) - 180).cast("double")
    )
    geo = geo_distance_agg(
        gev, F.col("glat"), F.col("glon"), 10.5, 20.5,
        [("near", None, 1000.0), ("mid", 1000.0, 8000.0), ("far", 8000.0, None)],
        metrics={
            "metric": lambda c: duck_round(
                F.avg(F.when(c, F.col("__geo_dist_km"))), 6
            )
        },
    ).select(F.lit("geo_distance").alias("agg"), "key", "doc_count", "metric")
    gbb = gev.agg(
        F.sum(
            F.when(
                geo_bounding_box(
                    F.col("glat"), F.col("glon"), (60.0, -90.0), (-30.0, 90.0)
                ), 1,
            ).otherwise(0)
        ).cast("long").alias("doc_count")
    ).select(
        F.lit("geo_bbox").alias("agg"), F.lit("box").alias("key"),
        "doc_count", F.lit(0.0).alias("metric"),
    )
    adh = auto_date_histogram(ev, "ts", target_buckets=40).select(
        F.lit("auto_dh").alias("agg"),
        F.concat_ws("@", "interval", "bucket").alias("key"),
        "doc_count",
        F.lit(0.0).alias("metric"),
    )
    sa = sampler(ev, 12, "event_id", seed=7).select(
        F.lit("sampler").alias("agg"),
        F.col("event_id").cast("string").alias("key"),
        F.col("user_id").cast("long").alias("doc_count"),
        F.col("value").cast("double").alias("metric"),
    )
    dv = diversified_sampler(
        ev, 10, "event_id", "event_type", max_docs_per_value=2, seed=7
    ).select(
        F.lit("diversified").alias("agg"),
        F.col("event_id").cast("string").alias("key"),
        F.col("user_id").cast("long").alias("doc_count"),
        F.col("value").cast("double").alias("metric"),
    )
    from .operators.aggs import global_agg, random_sampler

    gl = global_agg(
        ev, {"metric": duck_round(F.avg("value"), 6)}
    ).select(
        F.lit("global").alias("agg"), F.lit("all").alias("key"),
        "doc_count", "metric",
    )
    # random_sampler p=0.25 seed 7: the probability-based sibling of
    # `sampler` — survives iff knuth_hash(event_id) < 0.25 * 2^32; the
    # twin reuses the sampler kind's split-hash SQL with a WHERE
    rs = random_sampler(ev, 0.25, "event_id", seed=7).select(
        F.lit("random_sampler").alias("agg"),
        F.col("event_id").cast("string").alias("key"),
        F.col("user_id").cast("long").alias("doc_count"),
        F.col("value").cast("double").alias("metric"),
    )
    from .functions.geo import geotile_grid_agg
    from .operators.aggs import (
        boxplot,
        cumulative_cardinality,
        normalize_percent_of_sum,
        rate_agg,
        stats_bucket,
        t_test,
    )

    cents = F.round(F.col("value") * 100).cast("long")
    # boxplot: EXACT interpolated quartiles (ES uses TDigest; we pin the
    # deterministic exact definition — quantile_cont is the SQL twin)
    bx = boxplot(ev, "value").select(
        F.explode(F.array(*[
            F.struct(
                F.lit(nm).alias("key"),
                F.col("count").cast("long").alias("doc_count"),
                duck_round(F.col(nm).cast("double"), 6).alias("metric"),
            )
            for nm in ("min", "q1", "q2", "q3", "max")
        ])).alias("b")
    ).select(F.lit("boxplot").alias("agg"), "b.*")
    # t_test: Welch + pooled statistics from integer-exact cents power
    # sums — closed forms mirror bit-for-bit (extended_stats recipe)
    tt = t_test(
        ev.select(cents.alias("c"), "user_id"),
        F.col("c"),
        F.col("user_id") % 2 == 0,
    ).select(
        F.explode(F.array(
            F.struct(
                F.lit("welch").alias("key"),
                F.col("n_a").alias("doc_count"),
                duck_round("t_welch", 6).alias("metric"),
            ),
            F.struct(
                F.lit("pooled").alias("key"),
                F.col("n_b").alias("doc_count"),
                duck_round("t_pooled", 6).alias("metric"),
            ),
        )).alias("b")
    ).select(F.lit("t_test").alias("agg"), "b.*")
    # rate: per-day rate inside calendar-month buckets; day count derives
    # from the bucket key (datediff to next month), integer both sides
    rt = rate_agg(ev.withColumn("c", cents), "ts", F.col("c"), unit="day").select(
        F.lit("rate").alias("agg"),
        F.col("month").alias("key"),
        "doc_count",
        duck_round(F.col("rate") / 100.0, 6).alias("metric"),
    )
    # sibling pipeline aggs over the SAME monthly integer-cents buckets
    monthly = ev.groupBy(
        F.date_format(F.date_trunc("month", F.col("ts")), "yyyy-MM").alias("month")
    ).agg(F.count("*").alias("doc_count"), F.sum(cents).alias("bsum"))
    sb_row = stats_bucket(monthly, "bsum")
    sb = sb_row.select(
        F.explode(F.array(
            F.struct(
                F.lit("count").alias("key"),
                F.col("count").alias("doc_count"),
                F.col("count").cast("double").alias("metric"),
            ),
            *[
                F.struct(
                    F.lit(nm).alias("key"),
                    F.col("count").alias("doc_count"),
                    duck_round(F.col(nm) / 100.0, 6).alias("metric"),
                )
                for nm in ("min", "max", "sum", "avg")
            ],
        )).alias("b")
    ).select(F.lit("stats_bucket").alias("agg"), "b.*")
    nz = normalize_percent_of_sum(monthly, "bsum").select(
        F.lit("normalize").alias("agg"),
        F.col("month").alias("key"),
        "doc_count",
        duck_round("percent", 6).alias("metric"),
    )
    # cumulative_cardinality: distinct users seen so far per month —
    # first-month-per-id aggregate + month-spine running sum (exact,
    # no data-row window)
    cc = cumulative_cardinality(ev, "ts", "user_id").select(
        F.lit("cumulative_cardinality").alias("agg"),
        F.col("month").alias("key"),
        F.col("cumulative").cast("long").alias("doc_count"),
        F.col("new_ids").cast("double").alias("metric"),
    )
    # geotile_grid z=4 over the derived integer-degree grid: tile floors
    # sit far from representable inputs, so libm ULP noise cannot flip
    gt = geotile_grid_agg(gev, F.col("glat"), F.col("glon"), 4).select(
        F.lit("geotile").alias("agg"), "key", "doc_count",
        F.lit(0.0).alias("metric"),
    )
    # geohash_grid p=2: the same deterministic-floor argument, then pure
    # int64 bit interleave + base32 — identical on any engine
    from .functions.geo import (
        geo_bounds_agg,
        geo_centroid_agg,
        geohash_grid_agg,
    )

    gh = geohash_grid_agg(gev, F.col("glat"), F.col("glon"), 2).select(
        F.lit("geohash").alias("agg"), "key", "doc_count",
        F.lit(0.0).alias("metric"),
    )
    # geo_centroid per event_type: integer-valued degree sums are exact,
    # the mean is the closed form sum/count on both sides
    gc = geo_centroid_agg(
        gev, F.col("glat"), F.col("glon"), by="event_type"
    ).select(
        F.explode(F.array(
            F.struct(
                F.concat(F.col("event_type"), F.lit(":lat")).alias("key"),
                F.col("doc_count"),
                duck_round("centroid_lat", 6).alias("metric"),
            ),
            F.struct(
                F.concat(F.col("event_type"), F.lit(":lon")).alias("key"),
                F.col("doc_count"),
                duck_round("centroid_lon", 6).alias("metric"),
            ),
        )).alias("b")
    ).select(F.lit("geo_centroid").alias("agg"), "b.*")
    # geo_bounds per event_type: exact min/max, four edge rows per group
    gb = geo_bounds_agg(
        gev, F.col("glat"), F.col("glon"), by="event_type"
    ).select(
        F.explode(F.array(*[
            F.struct(
                F.concat(F.col("event_type"), F.lit(":" + edge)).alias("key"),
                F.col("doc_count"),
                F.col(edge).alias("metric"),
            )
            for edge in ("top", "bottom", "left", "right")
        ])).alias("b")
    ).select(F.lit("geo_bounds").alias("agg"), "b.*")
    # date_range over events.ts: from-inclusive / to-exclusive timestamp
    # bounds, one conditional-agg pass (the range recipe on a time axis)
    from .operators.aggs import categorize_text, date_range_agg, ip_range_agg, parse_cidr
    from .operators.aggs import variable_width_histogram as vwh_agg

    dr = date_range_agg(
        ev, "ts",
        [("early", None, "2024-01-10"),
         ("mid", "2024-01-10", "2024-01-20"),
         ("late", "2024-01-20", None)],
        metrics={"metric": lambda c: duck_round(F.avg(F.when(c, F.col("value"))), 6)},
    ).select(F.lit("date_range").alias("agg"), "key", "doc_count", "metric")
    # ip_range over a DERIVED dotted-quad (pure integer fn of the row —
    # deterministic, SQL-mirrorable): 10.(user_id%200).(event_id%250).x
    ip_col = F.concat_ws(
        ".", F.lit("10"),
        F.pmod(F.col("user_id"), F.lit(200)).cast("string"),
        F.pmod(F.col("event_id"), F.lit(250)).cast("string"),
        F.pmod(F.floor(F.col("event_id") / F.lit(250)), F.lit(250)).cast("string"),
    )
    cidr_lo, cidr_hi = parse_cidr("10.0.0.0/9")  # second octet 0..127
    ipq = ip_range_agg(
        ev.withColumn("ip", ip_col), "ip",
        [("lo_half", None, "10.100.0.0"),
         ("cidr9", cidr_lo, cidr_hi),
         ("hi_half", "10.100.0.0", None)],
        metrics={"metric": lambda c: duck_round(F.avg(F.when(c, F.col("value"))), 6)},
    ).select(F.lit("ip_range").alias("agg"), "key", "doc_count", "metric")
    # ip_prefix /10: first octet fixed at 10, top 2 bits of the second
    # octet -> four masked network buckets 10.{0,64,128,192}.0.0/10
    from .operators.aggs import ip_prefix_agg

    ipp = ip_prefix_agg(
        ev.withColumn("ip", ip_col), "ip", 10,
        metrics={"metric": duck_round(F.avg("value"), 6)},
    ).select(F.lit("ip_prefix").alias("agg"), "key", "doc_count", "metric")
    # variable_width_histogram (deterministic equal-depth variant):
    # 4 buckets over events.value; boundaries are exact interpolated
    # percentiles (quantile_cont parity), min/max exact edges, avg at
    # 6dp (the proven `range`-kind recipe on this column)
    vw = vwh_agg(ev, "value", buckets=4).select(
        F.explode(F.array(
            F.struct(
                F.col("bucket").cast("string").alias("key"),
                F.col("doc_count"),
                duck_round(F.col("avg"), 6).alias("metric"),
            ),
            F.struct(
                F.concat(F.col("bucket").cast("string"), F.lit(":min")).alias("key"),
                F.col("doc_count"),
                duck_round(F.col("min"), 6).alias("metric"),
            ),
            F.struct(
                F.concat(F.col("bucket").cast("string"), F.lit(":max")).alias("key"),
                F.col("doc_count"),
                duck_round(F.col("max"), 6).alias("metric"),
            ),
        )).alias("b")
    ).select(F.lit("vw_histogram").alias("agg"), "b.*")
    ct = categorize_text(docs, "text", max_tokens=5, size=10).select(
        F.lit("categorize_text").alias("agg"), "key", "doc_count",
        F.col("doc_count").cast("double").alias("metric"),
    )
    from .operators.aggs import frequent_item_sets

    # frequent_item_sets over (basket = user-DAY, items = event types —
    # per-user baskets are degenerate on this corpus, every user shows
    # every type): exact a-priori (ES's agg is approximate; this pins
    # the exact answer), support = doc_count / n_baskets — one f64
    # division of exact integers, identical expression in the twin;
    # selection (top-10) on the engine's (doc_count desc, BARE itemset
    # key asc) unique total order, the set_size| prefix composed AFTER.
    # min_support 0.12 keeps all singles (~0.4) and pairs (~0.15) but
    # prunes triples — the a-priori frontier actually discriminates.
    fis = frequent_item_sets(
        ev.withColumn(
            "ud",
            F.concat_ws(
                "@", F.col("user_id").cast("string"),
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"),
            ),
        ),
        "event_type", "ud", min_support=0.12, max_size=3, size=10,
    ).select(
        F.lit("frequent_item_sets").alias("agg"),
        F.concat(F.col("set_size").cast("string"), F.lit("|"),
                 F.col("key")).alias("key"),
        "doc_count",
        duck_round(F.col("support"), 6).alias("metric"),
    )
    # geo_line: per event_type, the first-50-by-event_id line over the
    # derived integer-degree grid; the gate row carries an ORDER-exact
    # checksum sum((pos+1) * (2*lon + lat)) — integer-valued doubles, so
    # the f64 sum is order-free exact and any vertex transposition
    # changes it; the twin recomputes via row_number ordering
    from .functions.geo import geo_line_agg

    gl2 = (
        geo_line_agg(
            gev, F.col("glat"), F.col("glon"), F.col("event_id"),
            F.col("event_id"), by="event_type", size=50,
        )
        .select(
            "event_type", "doc_count",
            F.posexplode("points").alias("pos", "p"),
        )
        .groupBy("event_type", "doc_count")
        .agg(F.sum(
            (F.col("pos") + 1)
            * (F.col("p.lon") * 2 + F.col("p.lat"))
        ).alias("cks"))
        .select(
            F.lit("geo_line").alias("agg"),
            F.col("event_type").alias("key"),
            F.col("doc_count"),
            F.col("cks").cast("double").alias("metric"),
        )
    )
    # change_point: deterministic step-change detection over the DAILY
    # integer-cents series (operators/aggs.py change_point — a monthly
    # series is too short at small SF to admit a split). Means are exact
    # ratios of integer-exact running sums and the statistic expression
    # |lm - rm| * sqrt(i*(n-i)/n) is mirrored verbatim in the twin; the
    # argmax selection orders on the PRE-rounding f64 statistic
    # (pinned-kind discipline), ties to the smallest split. Three rows:
    # the detected day (metric = statistic, cents units), left_mean and
    # right_mean (value units, /100 of identical f64s).
    from .operators.aggs import change_point as cp_agg

    cp_daily = ev.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    ).agg(F.sum(cents).alias("dsum"))
    cp = cp_agg(cp_daily, "day", "dsum", min_seg=2).select(
        F.explode(F.array(
            F.struct(
                F.concat(F.lit("day:"), F.col("key")).alias("key"),
                F.lit(0).cast("long").alias("doc_count"),
                duck_round("statistic", 6).alias("metric"),
            ),
            F.struct(
                F.lit("left_mean").alias("key"),
                F.lit(0).cast("long").alias("doc_count"),
                duck_round(F.col("left_mean") / 100.0, 6).alias("metric"),
            ),
            F.struct(
                F.lit("right_mean").alias("key"),
                F.lit(0).cast("long").alias("doc_count"),
                duck_round(F.col("right_mean") / 100.0, 6).alias("metric"),
            ),
        )).alias("b")
    ).select(F.lit("change_point").alias("agg"), "b.*")
    # nested / reverse_nested: the array<struct> nested-field document
    # model (nested_query's) built deterministically from events —
    # children = per-user event structs in ascending event_id ARRAY
    # order (array_sort on a unique leading field, the engine-wide
    # pinned-order contract). nested doc_count counts CHILDREN (so the
    # twin is a plain per-type GROUP BY over events); reverse_nested
    # steps back to parents — each USER once per type, metric = the
    # integer-exact sum of those distinct user_ids.
    from .operators.aggs import (
        bucket_correlation,
        bucket_count_ks_test,
        nested_agg,
        parent_agg,
        reverse_nested_agg,
    )

    nested_parents = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("et"),
            cents.alias("cents"),
        ))).alias("kids")
    )
    na = nested_agg(
        nested_parents, "kids", by=["et"],
        metrics={"metric": duck_round(F.sum("cents") / 100.0, 6)},
    ).select(
        F.lit("nested").alias("agg"), F.col("et").alias("key"),
        "doc_count", "metric",
    )
    rn2 = reverse_nested_agg(
        nested_parents, "kids", parent_cols=["user_id"], by=["et"],
        metrics={"metric": duck_round(F.sum("user_id").cast("double"), 6)},
    ).select(
        F.lit("reverse_nested").alias("agg"), F.col("et").alias("key"),
        "doc_count", "metric",
    )
    # parent: join-field child->parent direction over orders/customer —
    # per order-priority bucket, each CUSTOMER counted once however many
    # orders it has there; metric = integer-cents acctbal sum of those
    # distinct parents (exact both sides).
    pa = parent_agg(
        _t(spark, sf_dir, "orders").select(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_custkey").alias("ck"),
        ),
        _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("ck"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        ),
        "ck", by=["pri"],
        metrics={"metric": duck_round(F.sum("bal_cents") / 100.0, 6)},
    ).select(
        F.lit("parent").alias("agg"), F.col("pri").alias("key"),
        "doc_count", "metric",
    )
    # bucket_correlation + bucket_count_ks_test: the 7.14 ml pipeline
    # pair over the DAILY doc_count series. Correlation vs the epoch-day
    # indicator is the closed form over integer-exact power sums (the
    # matrix_stats recipe — expression association mirrored verbatim in
    # the twin); KS is max |ecdf - i/n| over (day)-ordered buckets —
    # ratios of exact integers, identical f64s both sides.
    daily_counts = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    bc = bucket_correlation(
        daily_counts, F.col("cnt"), F.unix_date(F.col("day")),
    ).select(
        F.lit("bucket_corr").alias("agg"), F.lit("daily").alias("key"),
        F.col("n").alias("doc_count"),
        duck_round("correlation", 6).alias("metric"),
    )
    ks = bucket_count_ks_test(daily_counts, "day", "cnt").select(
        F.lit("ks_test").alias("agg"), F.lit("daily").alias("key"),
        F.col("total").alias("doc_count"),
        duck_round("statistic", 6).alias("metric"),
    )
    return (
        h.unionByName(r).unionByName(fl).unionByName(ra).unionByName(ts)
        .unionByName(es).unionByName(adj).unionByName(vc)
        .unionByName(mt).unionByName(wa).unionByName(pr).unionByName(ss)
        .unionByName(tm).unionByName(mad).unionByName(mx).unionByName(sm)
        .unionByName(sa).unionByName(dv).unionByName(adh)
        .unionByName(geo).unionByName(gbb)
        .unionByName(bx).unionByName(tt).unionByName(rt).unionByName(sb)
        .unionByName(nz).unionByName(cc).unionByName(gt)
        .unionByName(gh).unionByName(gc).unionByName(gb)
        .unionByName(dr).unionByName(ipq).unionByName(vw).unionByName(ct)
        .unionByName(fis)
        .unionByName(gl).unionByName(rs).unionByName(ipp)
        .unionByName(cp).unionByName(gl2)
        .unionByName(na).unionByName(rn2).unionByName(pa)
        .unionByName(bc).unionByName(ks)
    )


SQL_AGG_EXTRAS = """
SELECT 'histogram' AS agg,
       CAST(CAST(floor(n_chars / 100.0) * 100.0 AS BIGINT) AS VARCHAR) AS key,
       count(*) AS doc_count, round(avg(n_chars), 6) AS metric
FROM documents GROUP BY 2
UNION ALL
SELECT 'range', 'lo', CAST(sum(CASE WHEN value < 50 THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN value < 50 THEN value END), 6) FROM events
UNION ALL
SELECT 'range', 'mid',
       CAST(sum(CASE WHEN value >= 50 AND value < 150 THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN value >= 50 AND value < 150 THEN value END), 6) FROM events
UNION ALL
SELECT 'range', 'hi', CAST(sum(CASE WHEN value >= 150 THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN value >= 150 THEN value END), 6) FROM events
UNION ALL
SELECT 'filters', 'en', CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN lang = 'en' THEN n_chars END), 6) FROM documents
UNION ALL
SELECT 'filters', 'long', CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN n_chars >= 300 THEN n_chars END), 6) FROM documents
UNION ALL
SELECT 'filters', 'has_data',
       CAST(sum(CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN contains(text, 'data') THEN n_chars END), 6) FROM documents
UNION ALL
SELECT 'rare_terms', lang, count(*), CAST(count(*) AS DOUBLE)
FROM documents GROUP BY lang HAVING count(*) <= 70
UNION ALL
SELECT * FROM (
  SELECT 'terms_sub', lang, count(*), round(avg(n_chars), 6) AS m
  FROM documents GROUP BY lang ORDER BY m DESC, lang ASC LIMIT 3
)
UNION ALL
-- extended_stats: closed forms over single-pass exact sums (n_chars is
-- integer-valued, so sum and sum-of-squares are exact doubles and the
-- derived avg/variance/std expressions are bit-identical to the engine's)
SELECT 'extended_stats', k, cnt, round(v, 6) FROM (
  SELECT cnt,
         unnest(['min', 'max', 'avg', 'sum', 'sum_of_squares',
                 'variance', 'std_deviation', 'std_upper', 'std_lower']) AS k,
         unnest([mn, mx, sm / cnt, sm, ssq,
                 ssq / cnt - (sm / cnt) * (sm / cnt),
                 sqrt(ssq / cnt - (sm / cnt) * (sm / cnt)),
                 sm / cnt + 2.0 * sqrt(ssq / cnt - (sm / cnt) * (sm / cnt)),
                 sm / cnt - 2.0 * sqrt(ssq / cnt - (sm / cnt) * (sm / cnt))]) AS v
  FROM (
    SELECT count(*) AS cnt,
           CAST(min(n_chars) AS DOUBLE) AS mn,
           CAST(max(n_chars) AS DOUBLE) AS mx,
           CAST(sum(n_chars) AS DOUBLE) AS sm,
           sum(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS ssq
    FROM documents
  )
)
UNION ALL
SELECT 'adjacency', k, CAST(c AS BIGINT), CAST(c AS DOUBLE) FROM (
  SELECT unnest(['en', 'long', 'has_data', 'en&long', 'en&has_data', 'long&has_data']) AS k,
         unnest([
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END),
           sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END),
           sum(CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END),
           sum(CASE WHEN lang = 'en' AND n_chars >= 300 THEN 1 ELSE 0 END),
           sum(CASE WHEN lang = 'en' AND contains(text, 'data') THEN 1 ELSE 0 END),
           sum(CASE WHEN n_chars >= 300 AND contains(text, 'data') THEN 1 ELSE 0 END)
         ]) AS c
  FROM documents
) WHERE c > 0
UNION ALL
SELECT 'value_count', 'props.k',
       count(json_extract_string(props, '$.k')),
       CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
FROM events
UNION ALL
SELECT 'value_count', 'props.absent',
       count(json_extract_string(props, '$.absent')),
       CAST(sum(CASE WHEN json_extract_string(props, '$.absent') IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
FROM events
UNION ALL
SELECT * FROM (
  SELECT 'multi_terms' AS agg, lang || '|' || source AS key,
         count(*) AS doc_count, CAST(count(*) AS DOUBLE) AS metric
  FROM documents GROUP BY 2 ORDER BY doc_count DESC, key ASC LIMIT 5
)
UNION ALL
-- weighted_avg over integer cents: both sides sum exact integers, then
-- apply the identical division chain -> bit-identical doubles
SELECT 'weighted_avg', 'value:user_weight', count(*),
       round(CAST(sum(CAST(round(value * 100) AS BIGINT) * ((user_id % 7) + 1)) AS DOUBLE)
             / CAST(sum((user_id % 7) + 1) AS DOUBLE) / 100.0, 6)
FROM events
UNION ALL
-- percentile_ranks: exact CDF -- conditional counts, same expression shape
SELECT 'percentile_ranks', k, 0, round(le * 100.0 / n, 6) FROM (
  SELECT unnest(['25.0', '100.0', '250.0']) AS k,
         unnest([
           sum(CASE WHEN value <= 25.0 THEN 1 ELSE 0 END),
           sum(CASE WHEN value <= 100.0 THEN 1 ELSE 0 END),
           sum(CASE WHEN value <= 250.0 THEN 1 ELSE 0 END)
         ]) AS le,
         count(value) AS n
  FROM events
)
UNION ALL
SELECT 'string_stats', k, cnt, round(v, 6) FROM (
  SELECT count(text) AS cnt,
         unnest(['min_length', 'max_length', 'avg_length']) AS k,
         unnest([CAST(min(length(text)) AS DOUBLE),
                 CAST(max(length(text)) AS DOUBLE),
                 avg(length(text))]) AS v
  FROM documents
)
UNION ALL
-- Shannon char entropy: log2(S) - sum(n*log2 n)/S over the per-char
-- count table (exact integer counts; log2 ULP noise is ~1e-11, far
-- below the 6dp rounding grid)
SELECT 'string_stats', 'entropy', (SELECT count(text) FROM documents),
       round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6)
FROM (
  SELECT u.c AS ch, CAST(count(*) AS DOUBLE) AS n
  FROM documents, unnest(regexp_extract_all(text, '(?s).')) AS u(c)
  GROUP BY 1
)
UNION ALL
SELECT * FROM (
  SELECT 'top_metrics', CAST(event_id AS VARCHAR), user_id, value
  FROM events ORDER BY value DESC, event_id ASC LIMIT 3
)
UNION ALL
SELECT 'mad', 'median', 0, round(median(value), 6) FROM events
UNION ALL
SELECT 'mad', 'mad', 0,
       round(median(abs(value - (SELECT median(value) FROM events))), 6)
FROM events
UNION ALL
-- matrix_stats: closed forms over integer-exact power sums, every
-- expression parenthesized exactly as the engine folds it; sqrt (not
-- pow) keeps the 1.5-power correctly rounded on both engines
SELECT 'matrix_stats', k, 0, round(v, 6) FROM (
  WITH s AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(n_chars) AS DOUBLE) AS a1,
           CAST(sum(n_chars * n_chars) AS DOUBLE) AS a2,
           CAST(sum(n_chars * n_chars * n_chars) AS DOUBLE) AS a3,
           CAST(sum(n_chars * n_chars * n_chars * n_chars) AS DOUBLE) AS a4,
           CAST(sum(doc_id % 97) AS DOUBLE) AS b1,
           CAST(sum((doc_id % 97) * (doc_id % 97)) AS DOUBLE) AS b2,
           CAST(sum((doc_id % 97) * (doc_id % 97) * (doc_id % 97)) AS DOUBLE) AS b3,
           CAST(sum((doc_id % 97) * (doc_id % 97) * (doc_id % 97) * (doc_id % 97)) AS DOUBLE) AS b4,
           CAST(sum(n_chars * (doc_id % 97)) AS DOUBLE) AS ab
    FROM documents
  ), m AS (
    SELECT n, a1 / n AS ma, b1 / n AS mb,
           (a2 / n) - ((a1 / n) * (a1 / n)) AS va,
           (b2 / n) - ((b1 / n) * (b1 / n)) AS vb,
           ((a3 / n) - (((3 * (a1 / n)) * a2) / n)) + (((2 * (a1 / n)) * (a1 / n)) * (a1 / n)) AS m3a,
           ((b3 / n) - (((3 * (b1 / n)) * b2) / n)) + (((2 * (b1 / n)) * (b1 / n)) * (b1 / n)) AS m3b,
           ((((a4 / n) - (((4 * (a1 / n)) * a3) / n)) + (((((6 * (a1 / n)) * (a1 / n)) * a2)) / n)) - ((((3 * (a1 / n)) * (a1 / n)) * (a1 / n)) * (a1 / n))) AS m4a,
           ((((b4 / n) - (((4 * (b1 / n)) * b3) / n)) + (((((6 * (b1 / n)) * (b1 / n)) * b2)) / n)) - ((((3 * (b1 / n)) * (b1 / n)) * (b1 / n)) * (b1 / n))) AS m4b,
           (ab / n) - ((a1 / n) * (b1 / n)) AS cab
    FROM s
  )
  SELECT unnest([
           'count:n_chars', 'mean:n_chars', 'variance:n_chars',
           'skewness:n_chars', 'kurtosis:n_chars',
           'count:dmod', 'mean:dmod', 'variance:dmod',
           'skewness:dmod', 'kurtosis:dmod',
           'covariance:n_chars,dmod', 'correlation:n_chars,dmod'
         ]) AS k,
         unnest([
           n, ma, va, m3a / sqrt((va * va) * va), m4a / (va * va),
           n, mb, vb, m3b / sqrt((vb * vb) * vb), m4b / (vb * vb),
           cab, cab / sqrt(va * vb)
         ]) AS v
  FROM m
)
UNION ALL
-- scripted_metric: the engine's map/combine/reduce folds exact integer
-- cents; mirror the same integer sums and the same division chain
SELECT 'scripted_metric', k, 0, round(v, 6) FROM (
  SELECT unnest(['count', 'mean', 'variance']) AS k,
         unnest([CAST(n AS DOUBLE), mean, (s2 / 10000.0 / n) - (mean * mean)]) AS v
  FROM (
    SELECT n, s / 100.0 / n AS mean, s2 FROM (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS s,
             CAST(sum(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS s2
      FROM events
    )
  )
)
UNION ALL
-- sampler: deterministic uniform sample — lowest Knuth hash of event_id
-- (seed 7), the exact SQL twin of the engine's overflow-safe hash
SELECT 'sampler', key, doc_count, metric FROM (
  SELECT CAST(event_id AS VARCHAR) AS key, user_id AS doc_count,
         value AS metric, row_number() OVER (ORDER BY h ASC, event_id ASC) AS r
  FROM (
    SELECT event_id, user_id, value,
           (((x // 65536) * 2654435761) % 4294967296 * 65536
            + (x % 65536) * 2654435761) % 4294967296 AS h
    FROM (SELECT *, ((event_id % 4294967296) + 7) % 4294967296 AS x FROM events)
  )
) WHERE r <= 12
UNION ALL
-- diversified_sampler: at most 2 rows per event_type, then lowest-hash 10
SELECT 'diversified', key, doc_count, metric FROM (
  SELECT key, doc_count, metric,
         row_number() OVER (ORDER BY h ASC, event_id ASC) AS r
  FROM (
    SELECT CAST(event_id AS VARCHAR) AS key, event_id, user_id AS doc_count,
           value AS metric, h,
           row_number() OVER (
             PARTITION BY event_type ORDER BY h ASC, event_id ASC
           ) AS dr
    FROM (
      SELECT event_id, event_type, user_id, value,
             (((x // 65536) * 2654435761) % 4294967296 * 65536
              + (x % 65536) * 2654435761) % 4294967296 AS h
      FROM (SELECT *, ((event_id % 4294967296) + 7) % 4294967296 AS x FROM events)
    )
  ) WHERE dr <= 2
) WHERE r <= 10
UNION ALL
-- auto_date_histogram: the interval choice is a pure function of
-- (min, max, target) over the same rounding ladder the engine walks;
-- naive make_timestamp keeps the bucket label timezone-free (UTC)
SELECT 'auto_dh', key, doc_count, 0.0 FROM (
  WITH mm AS (
    SELECT epoch_ms(min(ts)) // 1000 AS lo, epoch_ms(max(ts)) // 1000 AS hi,
           date_diff('month', min(ts), max(ts)) AS dm,
           date_diff('quarter', min(ts), max(ts)) AS dq
    FROM events
  ),
  pick AS (
    SELECT CASE
      WHEN hi - lo + 1 <= 40 THEN '1'
      WHEN hi // 5 - lo // 5 + 1 <= 40 THEN '5'
      WHEN hi // 10 - lo // 10 + 1 <= 40 THEN '10'
      WHEN hi // 30 - lo // 30 + 1 <= 40 THEN '30'
      WHEN hi // 60 - lo // 60 + 1 <= 40 THEN '60'
      WHEN hi // 300 - lo // 300 + 1 <= 40 THEN '300'
      WHEN hi // 600 - lo // 600 + 1 <= 40 THEN '600'
      WHEN hi // 1800 - lo // 1800 + 1 <= 40 THEN '1800'
      WHEN hi // 3600 - lo // 3600 + 1 <= 40 THEN '3600'
      WHEN hi // 10800 - lo // 10800 + 1 <= 40 THEN '10800'
      WHEN hi // 43200 - lo // 43200 + 1 <= 40 THEN '43200'
      WHEN hi // 86400 - lo // 86400 + 1 <= 40 THEN '86400'
      WHEN hi // 604800 - lo // 604800 + 1 <= 40 THEN '604800'
      WHEN dm + 1 <= 40 THEN 'month'
      WHEN dq + 1 <= 40 THEN 'quarter'
      ELSE 'year' END AS iv
    FROM mm
  )
  SELECT p.iv || '@' || CASE WHEN p.iv IN ('month', 'quarter', 'year')
           THEN strftime(date_trunc(p.iv, e.ts), '%Y-%m-%d %H:%M:%S')
           ELSE strftime(
             make_timestamp(
               (epoch_ms(e.ts) // 1000 // CAST(p.iv AS BIGINT))
               * CAST(p.iv AS BIGINT) * 1000000),
             '%Y-%m-%d %H:%M:%S')
         END AS key,
         count(*) AS doc_count
  FROM events e, pick p GROUP BY 1
)
UNION ALL
-- frequent_item_sets: exact a-priori, basket = user-DAY, items = event
-- types; threshold 0.12 * n_baskets compared in f64 on BOTH sides
-- (identical literal product), support = doc_count / n_baskets in one
-- f64 division of exact integers; top-10 on (doc_count desc, key asc)
SELECT 'frequent_item_sets' AS agg, key, doc_count,
       round(CAST(doc_count AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS metric
FROM (
  WITH items AS (
    SELECT DISTINCT
      CAST(user_id AS VARCHAR) || '@'
        || strftime(date_trunc('day', ts), '%Y-%m-%d') AS b,
      event_type AS i
    FROM events),
  nbt AS (SELECT count(DISTINCT b) AS n FROM items),
  l1 AS (
    SELECT i, count(*) AS doc_count FROM items GROUP BY i
    HAVING count(*) >= 0.12 * (SELECT n FROM nbt)
  ),
  fitems AS (SELECT * FROM items WHERE i IN (SELECT i FROM l1)),
  l2 AS (
    SELECT a.i AS i1, c.i AS i2, count(*) AS doc_count
    FROM fitems a JOIN fitems c USING (b) WHERE a.i < c.i
    GROUP BY 1, 2 HAVING count(*) >= 0.12 * (SELECT n FROM nbt)
  ),
  l3 AS (
    SELECT p.i1, p.i2, d.i AS i3, count(*) AS doc_count
    FROM (SELECT a.b, a.i AS i1, c.i AS i2
          FROM fitems a JOIN fitems c USING (b) WHERE a.i < c.i) p
    JOIN fitems d ON d.b = p.b AND d.i > p.i2
    GROUP BY 1, 2, 3 HAVING count(*) >= 0.12 * (SELECT n FROM nbt)
  )
  -- selection edge mirrors the ENGINE: top-10 on the BARE itemset key
  -- (the set_size| prefix is display-composed AFTER selection there)
  SELECT CAST(set_size AS VARCHAR) || '|' || bare AS key, doc_count,
         (SELECT n FROM nbt) AS nb FROM (
    SELECT i AS bare, 1 AS set_size, doc_count FROM l1
    UNION ALL
    SELECT i1 || ',' || i2 AS bare, 2 AS set_size, doc_count FROM l2
    UNION ALL
    SELECT i1 || ',' || i2 || ',' || i3 AS bare, 3 AS set_size, doc_count FROM l3
  )
  ORDER BY doc_count DESC, bare ASC
  LIMIT 10
)
"""

from .functions.geo import DEG2RAD as _D2R  # noqa: E402
from .functions.geo import EARTH_RADIUS_KM as _ERK  # noqa: E402

# geo_distance agg + geo_bounding_box over derived integer-degree
# coordinates; haversine constants and association mirrored exactly
# (origin 10.5/20.5 is deliberately OFF the integer grid — see
# functions/geo.py on asin's antipodal ULP amplification)
SQL_AGG_EXTRAS += f"""
UNION ALL
SELECT agg, key, doc_count, metric FROM (
  WITH g AS (
    SELECT CAST((user_id * 37) % 180 - 90 AS DOUBLE) AS glat,
           CAST((event_id * 91) % 360 - 180 AS DOUBLE) AS glon
    FROM events
  ),
  t AS (
    SELECT glat, glon,
           glat * {_D2R!r} AS rlat1,
           10.5 * {_D2R!r} AS rlat2,
           ((10.5 - glat) * {_D2R!r}) / 2.0 AS dlat2,
           ((20.5 - glon) * {_D2R!r}) / 2.0 AS dlon2
    FROM g
  ),
  d AS (
    SELECT glat, glon,
           {2.0 * _ERK!r} * asin(least(sqrt(
             (sin(dlat2) * sin(dlat2))
             + ((cos(rlat1) * cos(rlat2)) * (sin(dlon2) * sin(dlon2)))
           ), 1.0)) AS km
    FROM t
  )
  SELECT 'geo_distance' AS agg, 'near' AS key,
         CAST(sum(CASE WHEN km < 1000.0 THEN 1 ELSE 0 END) AS BIGINT) AS doc_count,
         round(avg(CASE WHEN km < 1000.0 THEN km END), 6) AS metric FROM d
  UNION ALL
  SELECT 'geo_distance', 'mid',
         CAST(sum(CASE WHEN km >= 1000.0 AND km < 8000.0 THEN 1 ELSE 0 END) AS BIGINT),
         round(avg(CASE WHEN km >= 1000.0 AND km < 8000.0 THEN km END), 6) FROM d
  UNION ALL
  SELECT 'geo_distance', 'far',
         CAST(sum(CASE WHEN km >= 8000.0 THEN 1 ELSE 0 END) AS BIGINT),
         round(avg(CASE WHEN km >= 8000.0 THEN km END), 6) FROM d
  UNION ALL
  SELECT 'geo_bbox', 'box',
         CAST(sum(CASE WHEN glat <= 60.0 AND glat >= -30.0
                        AND glon >= -90.0 AND glon <= 90.0
                   THEN 1 ELSE 0 END) AS BIGINT),
         0.0 FROM g
)
"""

# round-4 session-2 breadth: boxplot (exact quartiles), t_test (Welch +
# pooled from integer-exact power sums), rate / stats_bucket / normalize /
# cumulative_cardinality (all over the same monthly integer-cents
# buckets), geotile_grid (Web-Mercator tile floors) — every expression
# mirrors the engine's association order exactly
SQL_AGG_EXTRAS += f"""
UNION ALL
-- boxplot: quantile_cont is the same interpolated exact percentile as
-- Spark's percentile(); 6dp rounding absorbs last-ulp interpolation noise
SELECT 'boxplot', k, cnt, round(v, 6) FROM (
  SELECT cnt,
         unnest(['min', 'q1', 'q2', 'q3', 'max']) AS k,
         unnest([mn, q1, q2, q3, mx]) AS v
  FROM (
    SELECT count(value) AS cnt,
           CAST(min(value) AS DOUBLE) AS mn,
           quantile_cont(value, 0.25) AS q1,
           quantile_cont(value, 0.5) AS q2,
           quantile_cont(value, 0.75) AS q3,
           CAST(max(value) AS DOUBLE) AS mx
    FROM events
  )
)
UNION ALL
-- t_test: groups user_id parity; cents power sums are exact integers,
-- the t closed forms mirror the engine's association order exactly
SELECT 't_test', k, dc, round(v, 6) FROM (
  SELECT unnest(['welch', 'pooled']) AS k,
         unnest([CAST(na AS BIGINT), CAST(nb AS BIGINT)]) AS dc,
         unnest([
           (ma - mb) / sqrt(va / na + vb / nb),
           (ma - mb) / sqrt((((na - 1.0) * va + (nb - 1.0) * vb)
                             / (na + nb - 2.0)) * (1.0 / na + 1.0 / nb))
         ]) AS v
  FROM (
    SELECT na, nb, sa / na AS ma, sb / nb AS mb,
           (qa - sa * sa / na) / (na - 1.0) AS va,
           (qb - sb * sb / nb) / (nb - 1.0) AS vb
    FROM (
      SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS na,
             CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN c ELSE 0 END) AS DOUBLE) AS sa,
             CAST(sum(CASE WHEN user_id % 2 <> 0 THEN c ELSE 0 END) AS DOUBLE) AS sb,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN c * c ELSE 0 END) AS DOUBLE) AS qa,
             CAST(sum(CASE WHEN user_id % 2 <> 0 THEN c * c ELSE 0 END) AS DOUBLE) AS qb
      FROM (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS c FROM events)
    )
  )
)
UNION ALL
-- rate: per-day rate in calendar-month buckets; day count from the
-- bucket key itself
SELECT 'rate', mk, dc, round((CAST(sc AS DOUBLE) / CAST(days AS DOUBLE)) / 100.0, 6)
FROM (
  SELECT strftime(m, '%Y-%m') AS mk, dc, sc,
         date_diff('day', m, m + INTERVAL 1 MONTH) AS days
  FROM (
    SELECT date_trunc('month', ts) AS m, count(*) AS dc,
           sum(CAST(round(value * 100) AS BIGINT)) AS sc
    FROM events GROUP BY 1
  )
)
UNION ALL
-- stats_bucket: sibling pipeline over monthly integer-cents bucket sums
SELECT 'stats_bucket', k, CAST(nb AS BIGINT), round(v, 6) FROM (
  SELECT nb,
         unnest(['count', 'min', 'max', 'sum', 'avg']) AS k,
         unnest([CAST(nb AS DOUBLE),
                 CAST(mnb AS DOUBLE) / 100.0,
                 CAST(mxb AS DOUBLE) / 100.0,
                 CAST(smb AS DOUBLE) / 100.0,
                 (CAST(smb AS DOUBLE) / nb) / 100.0]) AS v
  FROM (
    SELECT count(*) AS nb, min(bsum) AS mnb, max(bsum) AS mxb, sum(bsum) AS smb
    FROM (
      SELECT date_trunc('month', ts) AS m,
             sum(CAST(round(value * 100) AS BIGINT)) AS bsum
      FROM events GROUP BY 1
    )
  )
)
UNION ALL
-- normalize percent_of_sum over the same monthly buckets
SELECT 'normalize', mk, dc,
       round(CAST(bsum AS DOUBLE) * 100.0 / CAST(tot AS DOUBLE), 6)
FROM (
  SELECT mk, dc, bsum, sum(bsum) OVER () AS tot FROM (
    SELECT strftime(date_trunc('month', ts), '%Y-%m') AS mk,
           count(*) AS dc,
           sum(CAST(round(value * 100) AS BIGINT)) AS bsum
    FROM events GROUP BY 1
  )
)
UNION ALL
-- cumulative_cardinality: a distinct user's contribution pins to its
-- FIRST month; running sum over the month spine only
SELECT 'cumulative_cardinality', mk, CAST(cum AS BIGINT), CAST(nw AS DOUBLE)
FROM (
  WITH mm AS (
    SELECT strftime(date_trunc('month', ts), '%Y-%m') AS mk, user_id FROM events
  ),
  f AS (SELECT min(mk) AS mk FROM mm GROUP BY user_id),
  n AS (SELECT mk, count(*) AS nw FROM f GROUP BY mk),
  a AS (SELECT DISTINCT mk FROM mm)
  SELECT a.mk AS mk, coalesce(n.nw, 0) AS nw,
         sum(coalesce(n.nw, 0)) OVER (
           ORDER BY a.mk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM a LEFT JOIN n USING (mk)
)
UNION ALL
-- geotile_grid z=4: x is exact rational floor arithmetic; y's mercator
-- boundaries are irrational, so integer-degree inputs sit far from them
SELECT 'geotile', key, doc_count, 0.0 FROM (
  WITH g AS (
    SELECT CAST((user_id * 37) % 180 - 90 AS DOUBLE) AS glat,
           CAST((event_id * 91) % 360 - 180 AS DOUBLE) AS glon
    FROM events
  ),
  t AS (
    SELECT least(greatest(
             CAST(floor(((glon + 180.0) / 360.0) * 16.0) AS BIGINT), 0), 15) AS x,
           least(greatest(glat, -85.05112878), 85.05112878)
             * {_D2R!r} AS r
    FROM g
  )
  SELECT '4/' || CAST(x AS VARCHAR) || '/' || CAST(
           least(greatest(CAST(floor(
             (1.0 - ln(tan(r) + 1.0 / cos(r)) / 3.141592653589793)
             / 2.0 * 16.0) AS BIGINT), 0), 15) AS VARCHAR) AS key,
         count(*) AS doc_count
  FROM t GROUP BY 1
)
"""

from .functions.geo import geohash_sql_parts as _gh_parts  # noqa: E402

_GH = _gh_parts("glat", "glon", 2)
# geohash_grid p=2 / geo_centroid / geo_bounds over the same derived
# integer-degree grid: the geohash x/y/z/key pieces are GENERATED from
# the same bit plan as the Spark expression (functions/geo.py); centroid
# sums are exact (integer-valued doubles), bounds are exact min/max
SQL_AGG_EXTRAS += f"""
UNION ALL
SELECT 'geohash', key, doc_count, 0.0 FROM (
  WITH g AS (
    SELECT CAST((user_id * 37) % 180 - 90 AS DOUBLE) AS glat,
           CAST((event_id * 91) % 360 - 180 AS DOUBLE) AS glon
    FROM events
  ),
  q AS (SELECT {_GH['x']} AS x, {_GH['y']} AS y FROM g),
  zt AS (SELECT ({_GH['z']}) AS z FROM q)
  SELECT {_GH['key']} AS key, count(*) AS doc_count FROM zt GROUP BY 1
)
UNION ALL
SELECT 'geo_centroid', key, dc, round(v, 6) FROM (
  SELECT dc,
         unnest([et || ':lat', et || ':lon']) AS key,
         unnest([slat / dc, slon / dc]) AS v
  FROM (
    SELECT event_type AS et, count(*) AS dc,
           sum(CAST((user_id * 37) % 180 - 90 AS DOUBLE)) AS slat,
           sum(CAST((event_id * 91) % 360 - 180 AS DOUBLE)) AS slon
    FROM events GROUP BY 1
  )
)
UNION ALL
SELECT 'geo_bounds', key, dc, v FROM (
  SELECT dc,
         unnest([et || ':top', et || ':bottom', et || ':left', et || ':right']) AS key,
         unnest([mxla, mnla, mnlo, mxlo]) AS v
  FROM (
    SELECT event_type AS et, count(*) AS dc,
           max(CAST((user_id * 37) % 180 - 90 AS DOUBLE)) AS mxla,
           min(CAST((user_id * 37) % 180 - 90 AS DOUBLE)) AS mnla,
           min(CAST((event_id * 91) % 360 - 180 AS DOUBLE)) AS mnlo,
           max(CAST((event_id * 91) % 360 - 180 AS DOUBLE)) AS mxlo
    FROM events GROUP BY 1
  )
)
"""

# date_range / ip_range / variable_width_histogram twins. The ip twin
# computes the numeric fold directly (the engine builds a dotted-quad
# string then folds it back — octets < 256, so the round-trip is exact);
# bounds come from the SAME parse_cidr the entry uses.
from .operators.aggs import parse_cidr as _parse_cidr  # noqa: E402

_IP_NUM = (
    "(((10 * 256 + (user_id % 200)) * 256 + (event_id % 250)) * 256"
    " + ((event_id // 250) % 250))"
)
_IP_MID = _parse_cidr("10.100.0.0/32")[0]
_IP_C9_LO, _IP_C9_HI = _parse_cidr("10.0.0.0/9")

SQL_AGG_EXTRAS += f"""
UNION ALL
SELECT 'date_range', 'early',
       CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-10' THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN ts < TIMESTAMP '2024-01-10' THEN value END), 6) FROM events
UNION ALL
SELECT 'date_range', 'mid',
       CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20' THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20' THEN value END), 6) FROM events
UNION ALL
SELECT 'date_range', 'late',
       CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-20' THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN ts >= TIMESTAMP '2024-01-20' THEN value END), 6) FROM events
UNION ALL
SELECT 'ip_range', 'lo_half',
       CAST(sum(CASE WHEN {_IP_NUM} < {_IP_MID} THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN {_IP_NUM} < {_IP_MID} THEN value END), 6) FROM events
UNION ALL
SELECT 'ip_range', 'cidr9',
       CAST(sum(CASE WHEN {_IP_NUM} >= {_IP_C9_LO} AND {_IP_NUM} < {_IP_C9_HI} THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN {_IP_NUM} >= {_IP_C9_LO} AND {_IP_NUM} < {_IP_C9_HI} THEN value END), 6) FROM events
UNION ALL
SELECT 'ip_range', 'hi_half',
       CAST(sum(CASE WHEN {_IP_NUM} >= {_IP_MID} THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN {_IP_NUM} >= {_IP_MID} THEN value END), 6) FROM events
UNION ALL
SELECT 'vw_histogram', key, dc, m FROM (
  WITH bnd AS (
    SELECT quantile_cont(value, 0.25) AS b0,
           quantile_cont(value, 0.5) AS b1,
           quantile_cont(value, 0.75) AS b2
    FROM events
  ),
  asg AS (
    SELECT value,
           (CASE WHEN value >= b.b0 THEN 1 ELSE 0 END
            + CASE WHEN value >= b.b1 THEN 1 ELSE 0 END
            + CASE WHEN value >= b.b2 THEN 1 ELSE 0 END) AS bucket
    FROM events, bnd b
  ),
  g AS (
    SELECT bucket, count(*) AS dc,
           min(value) AS mn, max(value) AS mx, avg(value) AS av
    FROM asg GROUP BY bucket
  )
  SELECT dc,
         unnest([CAST(bucket AS VARCHAR),
                 CAST(bucket AS VARCHAR) || ':min',
                 CAST(bucket AS VARCHAR) || ':max']) AS key,
         unnest([round(av, 6), round(mn, 6), round(mx, 6)]) AS m
  FROM g
)
UNION ALL
SELECT 'categorize_text', key, dc, CAST(dc AS DOUBLE) FROM (
  SELECT key, count(*) AS dc FROM (
    SELECT array_to_string(
      (list_filter(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9_]+'),
                   t -> NOT regexp_full_match(t, '[0-9]+')))[1:5], ' ') AS key
    FROM documents)
  GROUP BY key
  ORDER BY dc DESC, key ASC
  LIMIT 10
)
"""

# global / random_sampler / ip_prefix twins. random_sampler reuses the
# sampler kind's split-product hash verbatim with a probability
# threshold (0.25 * 2^32 = 1073741824 — exact integer). ip_prefix masks
# the SAME derived quad's numeric fold to its top 10 bits and re-renders
# the masked network address octet by octet — pure integer arithmetic,
# identical on both engines.
SQL_AGG_EXTRAS += f"""
UNION ALL
SELECT 'global', 'all', CAST(count(*) AS BIGINT), round(avg(value), 6)
FROM events
UNION ALL
SELECT 'random_sampler', CAST(event_id AS VARCHAR), user_id, value FROM (
  SELECT event_id, user_id, value,
         (((x // 65536) * 2654435761) % 4294967296 * 65536
          + (x % 65536) * 2654435761) % 4294967296 AS h
  FROM (SELECT *, ((event_id % 4294967296) + 7) % 4294967296 AS x FROM events)
) WHERE h < 1073741824
UNION ALL
SELECT 'ip_prefix',
       CAST(msk // 16777216 AS VARCHAR) || '.' ||
       CAST((msk // 65536) % 256 AS VARCHAR) || '.' ||
       CAST((msk // 256) % 256 AS VARCHAR) || '.' ||
       CAST(msk % 256 AS VARCHAR) || '/10' AS key,
       CAST(count(*) AS BIGINT), round(avg(value), 6)
FROM (
  SELECT value, n - (n % 4194304) AS msk
  FROM (SELECT value, {_IP_NUM} AS n FROM events)
)
GROUP BY msk
UNION ALL
SELECT 'geo_line', event_type, CAST(count(*) AS BIGINT),
       CAST(sum(rn * (glon * 2 + glat)) AS DOUBLE)
FROM (
  SELECT event_type, glat, glon,
         row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
  FROM (
    SELECT event_type, event_id,
           CAST((user_id * 37) % 180 - 90 AS DOUBLE) AS glat,
           CAST((event_id * 91) % 360 - 180 AS DOUBLE) AS glon
    FROM events
  )
) WHERE rn <= 50
GROUP BY event_type
"""

# change_point twin: the engine's deterministic step-change reading over
# the daily integer-cents series. ps/tot are exact-integer f64 running
# sums (fold order irrelevant below 2^53), means are single divisions,
# and the statistic |lm-rm|*sqrt(CAST(i*(n-i) AS DOUBLE)/n) matches the
# Spark expression shape op-for-op; the argmax selection orders on the
# PRE-rounding f64 statistic with the split index as tie-break.
SQL_AGG_EXTRAS += """
UNION ALL
SELECT 'change_point' AS agg, ckey AS key, CAST(0 AS BIGINT) AS doc_count,
       round(cmetric, 6) AS metric
FROM (
  SELECT unnest(['day:' || key, 'left_mean', 'right_mean']) AS ckey,
         unnest([stat, lm / 100.0, rm / 100.0]) AS cmetric
  FROM (
    SELECT nxt AS key,
           ps / i AS lm,
           (tot - ps) / (n - i) AS rm,
           abs(ps / i - (tot - ps) / (n - i))
             * sqrt(CAST(i * (n - i) AS DOUBLE) / n) AS stat,
           i
    FROM (
      SELECT day,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
             lead(day) OVER (ORDER BY day) AS nxt,
             sum(CAST(dsum AS DOUBLE)) OVER
               (ORDER BY day ROWS UNBOUNDED PRECEDING) AS ps,
             CAST(count(*) OVER () AS BIGINT) AS n,
             sum(CAST(dsum AS DOUBLE)) OVER () AS tot
      FROM (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               sum(CAST(round(value * 100) AS BIGINT)) AS dsum
        FROM events GROUP BY 1
      )
    )
    WHERE i >= 2 AND i <= n - 2
    ORDER BY stat DESC, i ASC LIMIT 1
  )
)
"""

# Session-4 twins — the document-hierarchy agg family + the 7.14 ml
# pipeline pair. nested doc_count counts CHILDREN, so building the
# per-user array and exploding it is the identity on events: the twin
# aggregates events directly. reverse_nested/parent de-duplicate
# through DISTINCT projections exactly like the engine's lowering.
# bucket_corr mirrors the closed-form Pearson expression op-for-op
# (never corr()); ks_test mirrors the exact-integer ecdf ratios.
SQL_AGG_EXTRAS += """
UNION ALL
SELECT 'nested' AS agg, event_type AS key, CAST(count(*) AS BIGINT),
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             / 100.0, 6)
FROM events GROUP BY event_type
UNION ALL
SELECT 'reverse_nested' AS agg, event_type AS key,
       CAST(count(*) AS BIGINT),
       round(CAST(CAST(sum(user_id) AS BIGINT) AS DOUBLE), 6)
FROM (SELECT DISTINCT event_type, user_id FROM events)
GROUP BY event_type
UNION ALL
SELECT 'parent' AS agg, pri AS key, CAST(count(*) AS BIGINT),
       round(CAST(sum(bal_cents) AS BIGINT) / 100.0, 6)
FROM (
  SELECT DISTINCT o.o_orderpriority AS pri, c.c_custkey,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
)
GROUP BY pri
UNION ALL
SELECT 'bucket_corr' AS agg, 'daily' AS key, n AS doc_count,
       round(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                   AND CAST(n AS DOUBLE) * syy - sy * sy > 0
             THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                     * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
             END, 6) AS metric
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
         sum(y * y) AS syy, sum(x * y) AS sxy
  FROM (
    SELECT CAST(cnt AS DOUBLE) AS x,
           CAST(date_diff('day', DATE '1970-01-01', day) AS DOUBLE) AS y
    FROM (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1)
  )
)
UNION ALL
SELECT 'ks_test' AS agg, 'daily' AS key, CAST(max(total) AS BIGINT),
       round(max(abs(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE)
                     - CAST(i AS DOUBLE) / CAST(nb AS DOUBLE))), 6)
FROM (
  SELECT sum(cnt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
         sum(cnt) OVER () AS total,
         CAST(count(*) OVER () AS BIGINT) AS nb
  FROM (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1)
)
"""


def q_search_aggs(spark, sf_dir):
    """ES query + aggregations over the FULL match set (not the top-k
    page), two kinds in one entry: BM25Searcher.match_docs emits every
    docmap row matching (data AND row, NOT join) straight out of the
    pruned-scan/docmap cogroup — no scoring, no global sort — then

    * ``histogram`` — doc_len/10 buckets with map-side partial agg;
    * ``sig_text`` — ES significant_text: JLH-significant ANALYZED terms
      of the match set's free text vs the background corpus (one corpus
      tokenization serves both frequencies, the foreground via a semi
      join); key = term, doc_count = fg_df, n = bg_df, metric = jlh."""
    from .operators.aggs import histogram, significant_text

    s = _engine_searcher(spark, sf_dir)
    m = s.match_docs("data row", mode="and", must_not="join")
    h = histogram(
        m, "doc_len", 10.0,
        metrics={"metric": duck_round(F.avg("doc_len"), 6)},
    ).select(
        F.lit("histogram").alias("kind"),
        F.col("bucket").cast("long").cast("string").alias("key"),
        "doc_count",
        F.lit(0).cast("long").alias("n"),
        "metric",
    )
    st = significant_text(
        m, _t(spark, sf_dir, "documents"), size=12, min_doc_count=3
    ).select(
        F.lit("sig_text").alias("kind"),
        F.col("term").alias("key"),
        F.col("fg_df").alias("doc_count"),
        F.col("bg_df").alias("n"),
        duck_round("jlh", 6).alias("metric"),
    )
    return h.unionByName(st)


SQL_SEARCH_AGGS = """
WITH toks AS (
  SELECT doc_id, u.tok AS term
  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
),
dls AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
m AS (
  SELECT doc_id FROM toks WHERE term IN ('data', 'row')
  GROUP BY doc_id HAVING count(DISTINCT term) = 2
  EXCEPT
  SELECT doc_id FROM toks WHERE term = 'join'
),
dtok AS (SELECT DISTINCT doc_id, term FROM toks),
bg AS (SELECT term, count(*) AS bg_df FROM dtok GROUP BY term),
fg AS (
  SELECT term, count(*) AS fg_df FROM dtok JOIN m USING (doc_id) GROUP BY term
),
tot AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n_bg,
         CAST((SELECT count(*) FROM m) AS DOUBLE) AS n_fg
)
SELECT 'histogram' AS kind,
       CAST(CAST(floor(dl / 10.0) * 10.0 AS BIGINT) AS VARCHAR) AS key,
       count(*) AS doc_count, CAST(0 AS BIGINT) AS n,
       round(avg(dl), 6) AS metric
FROM m JOIN dls USING (doc_id)
GROUP BY 2
UNION ALL
SELECT 'sig_text', term, fg_df, bg_df, round(raw, 6) FROM (
  -- selection by the UNROUNDED score (the operator's order), rounded
  -- only for the emitted column
  SELECT term, fg_df, bg_df,
         (fg_df / t.n_fg - bg_df / t.n_bg)
           * ((fg_df / t.n_fg) / (bg_df / t.n_bg)) AS raw
  FROM fg JOIN bg USING (term), tot t
  WHERE fg_df >= 3
  ORDER BY raw DESC, term ASC LIMIT 12
)
"""


def q_match_all_constant_score(spark, sf_dir):
    """Constant-score surface on the REAL engine: (a) match_all minus
    must_not exclusions (the ES {"bool": {"must_not": ...}} shape — Lucene
    MatchAllDocsQuery, every live doc scores 1.0), and (b) constant_score
    with an AND terms filter at boost 2.0 (Lucene ConstantScoreQuery, no
    BM25 statistics). Both rankings are doc_id ascending (the stable order
    under a constant score); k unbounded so there is no selection edge."""
    s = _engine_searcher(spark, sf_dir)
    ma = s.match_all(must_not="spark table", k=1_000_000, with_meta=False).select(
        F.lit("match_all").alias("kind"), "rank", "doc_id",
        F.col("score").cast("double").alias("score"),
    )
    cs = s.constant_score(
        "data row", mode="and", k=1_000_000, boost=2.0, with_meta=False
    ).select(
        F.lit("constant_score").alias("kind"), "rank", "doc_id",
        F.col("score").cast("double").alias("score"),
    )
    return ma.unionByName(cs)


SQL_MATCH_ALL_CONSTANT_SCORE = """
WITH toks AS (
  SELECT DISTINCT doc_id, u.tok AS term
  FROM documents, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9_]+')) AS u(tok)
),
ma AS (
  SELECT 'match_all' AS kind,
         CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS rank,
         doc_id, CAST(1.0 AS DOUBLE) AS score
  FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM toks WHERE term IN ('spark', 'table'))
),
cs AS (
  SELECT 'constant_score' AS kind,
         CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS rank,
         doc_id, CAST(2.0 AS DOUBLE) AS score
  FROM (
    SELECT doc_id FROM toks WHERE term IN ('data', 'row')
    GROUP BY doc_id HAVING count(DISTINCT term) = 2
  )
)
SELECT * FROM ma UNION ALL SELECT * FROM cs
"""


QS_QUERIES = [
    # Lucene classic syntax: must term + should term + must_not term;
    # should phrase + should term (min_m default 1); must phrase + prefix
    # expansion clause
    (0, "+spark data -join"),
    (1, '"the data" row'),
    (2, '+"spark table" wor*'),
]

SIMPLE_QS_QUERIES = [
    # ES simple_query_string syntax (parse_simple_query_string): an
    # OR-group clause (one TermClause, either member matches, both
    # score) with a negation; an AND-joined term + phrase
    (3, "data | row -join"),
    (4, 'table + "data row"'),
]


def q_query_string(spark, sf_dir):
    """ES query_string on the REAL engine: Lucene classic syntax
    (functions/querystring.py) parsed and lowered onto ONE pruned postings
    scan + the dense clause-group kernel (operators/wand.py score_shard_clauses:
    clause groups, embedded phrase scoring, expansion groups). k unbounded
    so every matching doc is checked against the DuckDB oracle — term
    clauses score BM25, phrases score Lucene PhraseWeight (tf=phrase freq,
    idf=sum of term idfs), clause scores sum, must/must_not gate.
    qids 3-4 run the SAME kernel under the ES simple_query_string parser
    (functions/querystring.py parse_simple_query_string): '|' OR groups,
    '+' AND, '-' negation — only the parser differs."""
    s = _engine_searcher(spark, sf_dir, positions=True)
    out = None
    for qid, qs in QS_QUERIES:
        r = s.query_string(qs, k=1_000_000, with_meta=False).select(
            F.lit(qid).cast("long").alias("query_id"),
            "doc_id",
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
        )
        out = r if out is None else out.unionByName(r)
    for qid, qs in SIMPLE_QS_QUERIES:
        r = s.simple_query_string(qs, k=1_000_000, with_meta=False).select(
            F.lit(qid).cast("long").alias("query_id"),
            "doc_id",
            duck_round(F.col("score").cast("double"), 3).alias("score3"),
        )
        out = out.unionByName(r)
    return out


# shared CTE prelude for the query_string oracle: positional token stream,
# doc lengths, corpus stats — the same shapes as the phrase/bool oracles
_QS_PRELUDE = """
  WITH toks AS (
    SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS t FROM documents)
  ),
  dls AS (
    SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS dl FROM documents
  ),
  corpus AS (
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT avg(coalesce(dl, 0)) FROM documents LEFT JOIN dls USING (doc_id)) AS avgdl
  )"""


def _qs_idf(term: str) -> str:
    return (
        "ln(1.0 + (c.n_docs - "
        f"(SELECT count(DISTINCT doc_id) FROM toks WHERE tok = '{term}')"
        " + 0.5) / ("
        f"(SELECT count(DISTINCT doc_id) FROM toks WHERE tok = '{term}')"
        " + 0.5))"
    )


# qid 0: +spark data -join — pure term clauses, same algebra as the bool
# oracle (must gate, should scores, must_not excludes)
_SQL_QS0 = _sql_bool_allmatch(0, "spark", "data", "join", 0)

# qid 1: "the data" row — should phrase + should term, min_m=1: docs
# matching EITHER side; score = term contrib + phrase contrib (the
# engine's accumulation order: terms first, then phrases)
_SQL_QS1 = f"""
SELECT 1 AS query_id, doc_id,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3
FROM (
  {_QS_PRELUDE},
  sidf AS (SELECT ({_qs_idf('the')} + {_qs_idf('data')}) AS v FROM corpus c),
  pf AS (
    SELECT t0.doc_id, count(*) AS pf
    FROM toks t0
    JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1 AND t1.tok = 'data'
    WHERE t0.tok = 'the'
    GROUP BY t0.doc_id
  ),
  ph AS (
    SELECT pf.doc_id,
           s.v * pf.pf * 2.2 / (pf.pf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
    FROM pf JOIN dls USING (doc_id), corpus c, sidf s
  ),
  tf AS (SELECT doc_id, count(*) AS tf FROM toks WHERE tok = 'row' GROUP BY doc_id),
  tsc AS (
    SELECT tf.doc_id,
           {_qs_idf('row')} * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
    FROM tf JOIN dls USING (doc_id), corpus c
  )
  SELECT doc_id, coalesce(t.contrib, 0) + coalesce(p.contrib, 0) AS score
  FROM tsc t FULL OUTER JOIN ph p USING (doc_id)
)
"""

# qid 2: +"spark table" wor* — must phrase gates; the prefix clause is ONE
# group expanded against the dictionary (df desc, term asc, cap 50),
# scoring weight-1 per expanded term (rewrite=scoring_boolean)
_SQL_QS2 = f"""
SELECT 2 AS query_id, doc_id,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3
FROM (
  {_QS_PRELUDE},
  sidf AS (SELECT ({_qs_idf('spark')} + {_qs_idf('table')}) AS v FROM corpus c),
  pf AS (
    SELECT t0.doc_id, count(*) AS pf
    FROM toks t0
    JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1 AND t1.tok = 'table'
    WHERE t0.tok = 'spark'
    GROUP BY t0.doc_id
  ),
  ph AS (
    SELECT pf.doc_id,
           s.v * pf.pf * 2.2 / (pf.pf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
    FROM pf JOIN dls USING (doc_id), corpus c, sidf s
  ),
  expansion AS (
    SELECT term FROM (
      SELECT tok AS term, count(DISTINCT doc_id) AS xdf FROM toks
      WHERE tok LIKE 'wor%' GROUP BY tok ORDER BY xdf DESC, term ASC LIMIT 50
    )
  ),
  tf AS (
    SELECT doc_id, tok AS term, count(*) AS tf FROM toks
    WHERE tok IN (SELECT term FROM expansion) GROUP BY doc_id, tok
  ),
  dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
  tsc AS (
    SELECT tf.doc_id,
           sum(ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl))) AS contrib
    FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
    GROUP BY tf.doc_id
  )
  SELECT p.doc_id, coalesce(t.contrib, 0) + p.contrib AS score
  FROM ph p LEFT JOIN tsc t USING (doc_id)
)
"""

# qid 3 (simple syntax): data | row -join — ONE OR-group TermClause
# (either member matches, both members score) + negation
_SQL_QS3 = f"""
SELECT 3 AS query_id, doc_id,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3
FROM (
  {_QS_PRELUDE},
  tf AS (
    SELECT doc_id, tok AS term, count(*) AS tf FROM toks
    WHERE tok IN ('data', 'row') GROUP BY doc_id, tok
  ),
  dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term)
  SELECT tf.doc_id,
         sum(ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl))) AS score
  FROM tf JOIN dfreq d USING (term) JOIN dls USING (doc_id), corpus c
  WHERE tf.doc_id NOT IN (SELECT doc_id FROM toks WHERE tok = 'join')
  GROUP BY tf.doc_id
)
"""

# qid 4 (simple syntax): table + "data row" — AND-joined must term and
# must phrase; both gate, scores sum (terms then phrases)
_SQL_QS4 = f"""
SELECT 4 AS query_id, doc_id,
       round(CAST(CAST(score AS REAL) AS DOUBLE), 3) AS score3
FROM (
  {_QS_PRELUDE},
  sidf AS (SELECT ({_qs_idf('data')} + {_qs_idf('row')}) AS v FROM corpus c),
  pf AS (
    SELECT t0.doc_id, count(*) AS pf
    FROM toks t0
    JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1 AND t1.tok = 'row'
    WHERE t0.tok = 'data'
    GROUP BY t0.doc_id
  ),
  ph AS (
    SELECT pf.doc_id,
           s.v * pf.pf * 2.2 / (pf.pf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
    FROM pf JOIN dls USING (doc_id), corpus c, sidf s
  ),
  tf AS (SELECT doc_id, count(*) AS tf FROM toks WHERE tok = 'table' GROUP BY doc_id),
  tsc AS (
    SELECT tf.doc_id,
           {_qs_idf('table')} * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS contrib
    FROM tf JOIN dls USING (doc_id), corpus c
  )
  SELECT doc_id, t.contrib + p.contrib AS score
  FROM tsc t JOIN ph p USING (doc_id)
)
"""

SQL_QUERY_STRING = "\nUNION ALL\n".join(
    [_SQL_QS0, _SQL_QS1, _SQL_QS2, _SQL_QS3, _SQL_QS4]
)


def q_tokenize_term_counts(spark, sf_dir):  # B1 analyzer surface
    return (
        _doc_tokens(spark, sf_dir)
        .select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(30)
    )


SQL_TOKENIZE_TERM_COUNTS = """
SELECT u.tok AS term, count(*) AS n
FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS u(tok)
GROUP BY term ORDER BY n DESC, term ASC LIMIT 30
"""


# ---------------------------------------------------------------------------
# registry (training-data pipeline ops merged from contract_pipeline.py)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "range_query": q_range_query,
    "sort_topk": q_sort_topk,
    "pagination": q_pagination,
    "terms_agg": q_terms_agg,
    "date_histogram": q_date_histogram,
    "stats_agg": q_stats_agg,
    "cardinality": q_cardinality,
    "percentiles": q_percentiles,
    "composite_agg": q_composite_agg,
    "top_hits": q_top_hits,
    "join_revenue": q_join_revenue,
    "balance_rollup": q_balance_rollup,
    "anti_semi_join": q_anti_semi_join,
    "json_extract": q_json_extract,
    "window_lag": q_window_lag,
    "ids_lookup": q_ids_lookup,
    "set_ops": q_set_ops,
    "bm25_topk": q_bm25_topk,
    "bm25_indexed_engine": q_bm25_indexed_engine,
    "bm25_msearch": q_bm25_msearch,
    "search_after": q_search_after,
    "bm25_nrt_compaction": q_bm25_nrt_compaction,
    "match_phrase": q_match_phrase,
    "match_phrase_slop": q_match_phrase_slop,
    "match_phrase_slop_unordered": q_match_phrase_slop_unordered,
    "highlight": q_highlight,
    "highlight_phrase": q_highlight_phrase,
    "expand_queries": q_expand_queries,
    "advanced_queries": q_advanced_queries,
    "bool_and_query": q_bool_and_query,
    "bool_must_not_query": q_bool_must_not_query,
    "match_all_constant_score": q_match_all_constant_score,
    "query_string": q_query_string,
    "tokenize_term_counts": q_tokenize_term_counts,
    "significant_terms": q_significant_terms,
    "term_suggest": q_term_suggest,
    "pipeline_aggs": q_pipeline_aggs,
    "function_score": q_function_score_all,
    "agg_extras": q_agg_extras,
    "search_aggs": q_search_aggs,
}

ORACLE: dict[str, str] = {
    "range_query": SQL_RANGE_QUERY,
    "sort_topk": SQL_SORT_TOPK,
    "pagination": SQL_PAGINATION,
    "terms_agg": SQL_TERMS_AGG,
    "date_histogram": SQL_DATE_HISTOGRAM,
    "stats_agg": SQL_STATS_AGG,
    "cardinality": SQL_CARDINALITY,
    "percentiles": SQL_PERCENTILES,
    "composite_agg": SQL_COMPOSITE_AGG,
    "top_hits": SQL_TOP_HITS,
    "join_revenue": SQL_JOIN_REVENUE,
    "balance_rollup": SQL_BALANCE_ROLLUP,
    "anti_semi_join": SQL_ANTI_SEMI_JOIN,
    "json_extract": SQL_JSON_EXTRACT,
    "window_lag": SQL_WINDOW_LAG,
    "ids_lookup": SQL_IDS_LOOKUP,
    "set_ops": SQL_SET_OPS,
    "bm25_topk": SQL_BM25_TOPK,
    "bm25_indexed_engine": SQL_BM25_INDEXED_ENGINE,
    "bm25_msearch": SQL_BM25_MSEARCH,
    "search_after": SQL_SEARCH_AFTER,
    "bm25_nrt_compaction": SQL_BM25_NRT_COMPACTION,
    "match_phrase": SQL_MATCH_PHRASE,
    "match_phrase_slop": SQL_MATCH_PHRASE_SLOP,
    "match_phrase_slop_unordered": SQL_MATCH_PHRASE_SLOP_UNORDERED,
    "highlight": SQL_HIGHLIGHT,
    "highlight_phrase": SQL_HIGHLIGHT_PHRASE,
    "expand_queries": SQL_EXPAND_QUERIES,
    "advanced_queries": SQL_ADVANCED_QUERIES,
    "bool_and_query": SQL_BOOL_AND_QUERY,
    "bool_must_not_query": SQL_BOOL_MUST_NOT_QUERY,
    "match_all_constant_score": SQL_MATCH_ALL_CONSTANT_SCORE,
    "query_string": SQL_QUERY_STRING,
    "tokenize_term_counts": SQL_TOKENIZE_TERM_COUNTS,
    "significant_terms": SQL_SIGNIFICANT_TERMS,
    "term_suggest": SQL_TERM_SUGGEST,
    "pipeline_aggs": SQL_PIPELINE_AGGS,
    "function_score": SQL_FUNCTION_SCORE_ALL,
    "agg_extras": SQL_AGG_EXTRAS,
    "search_aggs": SQL_SEARCH_AGGS,
}

from .contract_pipeline import PIPELINE_ORACLE, PIPELINE_QUERIES  # noqa: E402

QUERIES.update(PIPELINE_QUERIES)
ORACLE.update(PIPELINE_ORACLE)
