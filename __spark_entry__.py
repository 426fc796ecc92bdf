"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). Each query exercises one operator family from SURVEY.md §2;
the q18 flagship runs the actual CDC engine (LakeTable + orchestrator)
end-to-end and is oracle-checked against a pure-SQL LWW replay.

Numeric discipline for cross-engine hash equality: money aggregates are
cast to DECIMAL before summing (exact, associative — immune to partial-agg
ordering) and cast back to DOUBLE at the end, so Spark and DuckDB produce
bit-identical values.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEC = "decimal(12,2)"


def _scratch_dir(prefix: str) -> str:
    """Engine-query scratch tables, removed at interpreter exit (after the
    driver has collected the returned DataFrames)."""
    import atexit
    import shutil as _shutil

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(_shutil.rmtree, d, ignore_errors=True)
    return d


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Q01 — pricing summary (grouped agg, SURVEY A-family / TPC-H Q1 shape)
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    tax = F.col("l_tax").cast(DEC)
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast(DEC) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1).cast(DEC) - disc) * (F.lit(1).cast(DEC) + tax))
            .cast("double")
            .alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

# ---------------------------------------------------------------------------
# Q02 — top-1 per key (SURVEY A5: ORDER BY ... LIMIT 1 per key)
# ---------------------------------------------------------------------------

def q02_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.windows import top1_per_key

    o = _t(spark, sf_dir, "orders")
    return top1_per_key(
        o, ["o_custkey"], [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    ).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


Q02_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) rn
      FROM orders) WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# Q03 — LWW fold (SURVEY A7: last-writer-wins per key)
# ---------------------------------------------------------------------------

def q03_lww_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc.apply import lww_dedup

    e = _t(spark, sf_dir, "events")
    return lww_dedup(e, key_cols=["user_id"], seq_cols=["ts", "event_id"]).select(
        "user_id", "event_id", "event_type", "value", "ts"
    )


Q03_SQL = """
SELECT user_id, event_id, event_type, value, ts
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
      FROM events) WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# Q04 — grouped running balance (SURVEY A1)
# ---------------------------------------------------------------------------

def q04_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.windows import running_balance

    e = _t(spark, sf_dir, "events").withColumn("v", F.col("value").cast(DEC))
    out = running_balance(
        e, ["user_id"], [F.col("ts"), F.col("event_id")], "v", alias="balance"
    )
    return out.select(
        "user_id", "event_id", "ts", F.col("balance").cast("double").alias("balance")
    )


Q04_SQL = """
SELECT user_id, event_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS balance
FROM events
"""

# ---------------------------------------------------------------------------
# Q05 — trailing 365-day high with arg-date (SURVEY A2: 52-week high/low)
# ---------------------------------------------------------------------------

def q05_trailing_high(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.windows import trailing_extreme_with_argdate

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("order_date"),
        F.col("o_totalprice").alias("price"),
    )
    out = trailing_extreme_with_argdate(
        o, key_col="custkey", date_col="order_date", value_col="price", days=365
    )
    return out.select(
        "custkey",
        "order_date",
        F.col("ext_value").alias("high365"),
        F.col("ext_date").alias("high365_date"),
    )


Q05_SQL = """
WITH probe AS (SELECT DISTINCT o_custkey k, o_orderdate d FROM orders),
j AS (SELECT p.k, p.d, o.o_orderdate pd, o.o_totalprice pv
      FROM probe p JOIN orders o ON o.o_custkey = p.k
       AND o.o_orderdate >= p.d - INTERVAL 365 DAY AND o.o_orderdate <= p.d),
e AS (SELECT k, d, MAX(pv) ext FROM j GROUP BY k, d)
SELECT j.k AS custkey, j.d AS order_date, e.ext AS high365, MIN(j.pd) AS high365_date
FROM j JOIN e ON j.k = e.k AND j.d = e.d AND j.pv = e.ext
GROUP BY j.k, j.d, e.ext
"""

# ---------------------------------------------------------------------------
# Q06 — as-of join (SURVEY J5: temporal dimension lookup)
# ---------------------------------------------------------------------------

def q06_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.temporal_join import asof_join_by_id

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    out = asof_join_by_id(
        e, o,
        probe_id="event_id",
        on_probe=["user_id"], on_build=["o_custkey"],
        probe_ts="ts", build_ts="o_orderdate",
        tiebreak=["o_orderkey"],
        how="inner",
    )
    return out.select("event_id", "user_id", "o_orderkey", "o_orderdate")


Q06_SQL = """
SELECT event_id, user_id, o_orderkey, o_orderdate
FROM (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
             row_number() OVER (PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) rn
      FROM events e JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# Q07 — broadcast star join (SURVEY J1-J4, J11: small-dim lookups)
# ---------------------------------------------------------------------------

def q07_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice").cast(DEC)) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q07_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""

# ---------------------------------------------------------------------------
# Q08 — disjunctive-key join (SURVEY J6: match by name OR id)
# ---------------------------------------------------------------------------

def q08_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.temporal_join import disjunctive_join

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 2 == 0, F.col("o_custkey").cast("string")
        )
        .otherwise(F.format_string("Customer#%09d", F.col("o_custkey")))
        .alias("cust_ref"),
    )
    c = _t(spark, sf_dir, "customer").withColumn(
        "c_custkey_str", F.col("c_custkey").cast("string")
    )
    out = disjunctive_join(
        o, c,
        probe_key="cust_ref",
        build_key_a="c_custkey_str",
        build_key_b="c_name",
        select_build=["c_custkey", "c_mktsegment"],
    )
    return out.select("o_orderkey", "cust_ref", "c_custkey", "c_mktsegment")


Q08_SQL = """
WITH probe AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 2 = 0 THEN CAST(o_custkey AS VARCHAR)
              ELSE 'Customer#' || lpad(CAST(o_custkey AS VARCHAR), 9, '0') END AS cust_ref
  FROM orders)
SELECT p.o_orderkey, p.cust_ref,
       COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
       COALESCE(a.c_mktsegment, b.c_mktsegment) AS c_mktsegment
FROM probe p
LEFT JOIN customer a ON p.cust_ref = CAST(a.c_custkey AS VARCHAR)
LEFT JOIN customer b ON p.cust_ref = b.c_name
"""

# ---------------------------------------------------------------------------
# Q09 — existence probe → I/U routing (SURVEY J10)
# ---------------------------------------------------------------------------

def q09_existence_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    l = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("lk")).distinct()
    return o.join(l, o.o_orderkey == F.col("lk"), "left").select(
        "o_orderkey",
        F.when(F.col("lk").isNull(), F.lit("I")).otherwise(F.lit("U")).alias("cdc_flag"),
    )


Q09_SQL = """
SELECT o_orderkey,
       CASE WHEN l.lk IS NULL THEN 'I' ELSE 'U' END AS cdc_flag
FROM orders LEFT JOIN (SELECT DISTINCT l_orderkey AS lk FROM lineitem) l
ON o_orderkey = l.lk
"""

# ---------------------------------------------------------------------------
# Q10 — anti join (SURVEY J7 existence forms)
# ---------------------------------------------------------------------------

def q10_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""

# ---------------------------------------------------------------------------
# Q11 — semi join
# ---------------------------------------------------------------------------

def q11_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


Q11_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""

# ---------------------------------------------------------------------------
# Q12 — marketing nameplate (SURVEY P6)
# ---------------------------------------------------------------------------

def q12_nameplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.functions.cleaning import nameplate_tags

    c = _t(spark, sf_dir, "customer")
    tags = nameplate_tags(
        [
            (F.col("c_acctbal") > 7000, "HighValue"),
            (F.col("c_acctbal") < 0, "MoneyAlert"),
            (F.col("c_custkey") % 7 == 0, "Boomer"),
            (F.col("c_mktsegment") == "AUTOMOBILE", "Spender"),
        ]
    )
    return c.select("c_custkey", tags.alias("nameplate"))


Q12_SQL = """
SELECT c_custkey,
       NULLIF(concat_ws('+',
         CASE WHEN c_acctbal > 7000 THEN 'HighValue' END,
         CASE WHEN c_acctbal < 0 THEN 'MoneyAlert' END,
         CASE WHEN c_custkey % 7 = 0 THEN 'Boomer' END,
         CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'Spender' END), '') AS nameplate
FROM customer
"""

# ---------------------------------------------------------------------------
# Q13 — SCD2 reconstruction from an event log (SURVEY M1 as a query)
# ---------------------------------------------------------------------------

def q13_scd2_from_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.windows import scd2_from_log

    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id", "ts")
    out = scd2_from_log(e, ["user_id", "event_type"], "ts")
    return out.select(
        "user_id", "event_type", "event_id", "effective_ts", "end_ts", "is_current"
    )


Q13_SQL = """
SELECT user_id, event_type, event_id,
       ts AS effective_ts,
       lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts) AS end_ts,
       lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts) IS NULL AS is_current
FROM events
"""

# ---------------------------------------------------------------------------
# Q14 — change detection vs previous version (SURVEY A8)
# ---------------------------------------------------------------------------

def q14_change_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.windows import change_detect

    o = _t(spark, sf_dir, "orders")
    out = change_detect(
        o,
        key_cols=["o_custkey"],
        order_cols=[F.col("o_orderdate"), F.col("o_orderkey")],
        compare_cols=["o_totalprice", "o_orderstatus", "o_orderpriority"],
    )
    return out.select("o_orderkey", "o_custkey", "changed")


Q14_SQL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN row_number() OVER w = 1 THEN NULL
            ELSE (o_totalprice IS DISTINCT FROM lag(o_totalprice) OVER w)
              OR (o_orderstatus IS DISTINCT FROM lag(o_orderstatus) OVER w)
              OR (o_orderpriority IS DISTINCT FROM lag(o_orderpriority) OVER w)
       END AS changed
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

# ---------------------------------------------------------------------------
# Q15 — cleaning projection (SURVEY P1, P2, P11, P13)
# ---------------------------------------------------------------------------

def q15_clean_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.functions.cleaning import nullif_trim

    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.upper(F.col("event_type")).alias("etype_norm"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
        F.regexp_extract(F.col("props"), r"[0-9]+", 0).cast("int").alias("k_val"),
        nullif_trim(F.col("event_type")).alias("etype_clean"),
    )


Q15_SQL = """
SELECT event_id,
       upper(event_type) AS etype_norm,
       event_type = 'purchase' AS is_purchase,
       CAST(regexp_extract(props, '[0-9]+') AS INT) AS k_val,
       NULLIF(trim(event_type), '') AS etype_clean
FROM events
"""

# ---------------------------------------------------------------------------
# Q16 — token counting + fingerprint (text analysis)
# ---------------------------------------------------------------------------

def q16_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.functions.text import bpe_ish_token_count, fingerprint64, token_count

    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+", " "
    )
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.md5(norm).alias("fp"),
    )


Q16_SQL = """
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(trim(coalesce(text, '')), '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_tokens,
       md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp
FROM documents
"""

# ---------------------------------------------------------------------------
# Q17 — language-ID heuristic (text analysis)
# ---------------------------------------------------------------------------

def q17_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.functions.text import lang_guess

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_guess(F.col("text")).alias("lang_guess"))


Q17_SQL = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+') toks
  FROM documents),
v AS (
  SELECT doc_id,
    len(list_filter(toks, x -> list_contains(['the','and','is','of','to','a','in'], x))) v_en,
    len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','nicht'], x))) v_de,
    len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est'], x))) v_fr,
    len(list_filter(toks, x -> list_contains(['el','la','los','que','es','una'], x))) v_es
  FROM t)
SELECT doc_id,
  CASE WHEN greatest(v_en, v_de, v_fr, v_es) = 0 THEN 'und'
       WHEN v_en = greatest(v_en, v_de, v_fr, v_es) THEN 'en'
       WHEN v_de = greatest(v_en, v_de, v_fr, v_es) THEN 'de'
       WHEN v_fr = greatest(v_en, v_de, v_fr, v_es) THEN 'fr'
       ELSE 'es' END AS lang_guess
FROM v
"""

# ---------------------------------------------------------------------------
# Q18 — FLAGSHIP: the CDC engine end-to-end (LakeTable + LWW + SCD2 merge),
# oracle-checked against a pure-SQL LWW replay of the same derived events.
# ---------------------------------------------------------------------------

def _derive_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    # The one-file events scan is a single task, so the printf/format
    # projections below would run single-threaded in front of EVERY
    # batch's apply; spread first (deterministic key, no-op once the
    # scan is already at session parallelism).
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if e.rdd.getNumPartitions() < n_parts:
        e = e.repartition(n_parts, F.col("event_id"))
    eid = F.col("event_id")
    turn = (eid % 50).cast("int")
    return e.select(
        F.when(eid % 20 == 0, "D").when(eid % 3 == 0, "U").otherwise("I").alias("cdc_flag"),
        eid.alias("cdc_dsn"),
        F.format_string("conv-%06d", F.col("user_id")).alias("conv_id"),
        turn.alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (eid % 3 + 1).cast("int"),
        ).alias("role"),
        F.format_string("text u%d t%d e%d", F.col("user_id"), turn, eid).alias("text"),
        F.col("ts"),
    )


def q18_cdc_replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_dir = _scratch_dir("cdc_q18_")
    table = bootstrap_table(
        spark, os.path.join(table_dir, "transcripts"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    orch = CdcOrchestrator(table, buckets_per_group=16)
    orch.apply_batch(_derive_change_events(spark, sf_dir), batch_id=1)
    return current_state(table).select("conv_id", "turn_idx", "role", "text", "ts")


Q18_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         printf('text u%d t%d e%d', user_id, event_id % 50, event_id) AS text,
         ts
  FROM events),
r AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev)
SELECT conv_id, turn_idx, role, text, ts FROM r WHERE rn = 1 AND cdc_flag <> 'D'
"""

# ---------------------------------------------------------------------------
# Q19 — exact dedup keeper selection (dedup family)
# ---------------------------------------------------------------------------

def q19_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+", " "
    )
    return (
        d.withColumn("fp", F.md5(norm))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


Q19_SQL = """
SELECT md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp,
       MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Q20 — quality scoring (text analysis)
# ---------------------------------------------------------------------------

def q20_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.functions.text import quality_score

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


Q20_SQL = """
WITH b AS (
  SELECT doc_id,
         coalesce(text, '') AS t,
         lower(trim(coalesce(text, ''))) AS lt,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok
  FROM documents),
m AS (
  SELECT doc_id, n_tok,
         CASE WHEN length(t) = 0 THEN 0.0
              ELSE (length(t) - length(regexp_replace(t, '[^\\w\\s]', '', 'g'))) * 1.0 / length(t)
         END AS punct_ratio,
         CASE WHEN length(lt) = 0 OR len(regexp_split_to_array(lt, '\\s+')) = 0 THEN 0.0
              ELSE len(list_filter(regexp_split_to_array(lt, '\\s+'),
                       x -> list_contains(['the','and','is','of','to','a','in'], x))) * 1.0
                   / len(regexp_split_to_array(lt, '\\s+'))
         END AS stop_ratio
  FROM b)
SELECT doc_id,
       round(least(n_tok / 100.0, 1.0)
             * greatest(0.0, 1.0 - punct_ratio * 4)
             * (0.5 + least(stop_ratio * 5, 1.0) / 2), 6) AS quality
FROM m
"""


# ---------------------------------------------------------------------------
# Q21 — trailing-sum ratio with missing-history alert (SURVEY A3: PERatio)
# ---------------------------------------------------------------------------

def q21_trailing_sum_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.windows import trailing_sum_ratio

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("order_date"),
        F.col("o_totalprice").alias("price"),
    )
    return trailing_sum_ratio(o, "custkey", "order_date", "price", days=365)


Q21_SQL = """
WITH j AS (
  SELECT a.o_custkey k, a.o_orderdate d, a.o_totalprice v,
         CAST(b.o_totalprice AS DECIMAL(18,2)) pv
  FROM orders a LEFT JOIN orders b
    ON b.o_custkey = a.o_custkey
   AND b.o_orderdate >= a.o_orderdate - INTERVAL 365 DAY
   AND b.o_orderdate < a.o_orderdate)
SELECT k AS custkey, d AS order_date, v AS price,
       CAST(SUM(pv) AS DOUBLE) AS trailing_sum,
       v / NULLIF(CAST(SUM(pv) AS DOUBLE), 0) AS ratio,
       SUM(pv) IS NULL AS alert_no_history
FROM j GROUP BY k, d, v
"""

# ---------------------------------------------------------------------------
# Q22 — brute-force cosine top-k similarity (ANN correctness baseline).
# Dot products are exact DECIMAL sums in BOTH engines, so the doubles (and
# therefore ranks) match bit-for-bit.
# ---------------------------------------------------------------------------

def q22_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.similarity import cosine_topk_bruteforce

    e = _t(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(
        e, "vec_id", "embedding", k=5, query_filter=F.col("vec_id") % 20 == 0
    )


Q22_SQL = """
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
norms AS (
  SELECT vec_id, v,
         sqrt(CAST(list_sum(list_transform(v, x -> CAST(CAST(x AS DECIMAL(8,6)) * CAST(x AS DECIMAL(8,6)) AS DECIMAL(38,12)))) AS DOUBLE)) AS nrm
  FROM base),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(list_zip(q.v, c.v),
              s -> CAST(CAST(struct_extract(s, 1) AS DECIMAL(8,6)) * CAST(struct_extract(s, 2) AS DECIMAL(8,6)) AS DECIMAL(38,12)))) AS DOUBLE)
           / (q.nrm * c.nrm) AS cosine
  FROM norms q JOIN norms c ON q.vec_id <> c.vec_id
  WHERE q.vec_id % 20 = 0),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
FROM ranked WHERE rank <= 5
"""

# ---------------------------------------------------------------------------
# Q23 — exact n-gram Jaccard near-duplicate pairs (dedup family)
# ---------------------------------------------------------------------------

def q23_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.05)
    return out.select("doc_a", "doc_b", "jaccard")


Q23_SQL = """
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(lower(trim(coalesce(text,''))), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id AS doc, shingle
  FROM toks, UNNEST(
    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         ELSE list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))
    END) AS u(shingle)),
sizes AS (SELECT doc, count(*) sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc)
SELECT doc_a, doc_b,
       i * 1.0 / (sa.sz + sb.sz - i) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.05
"""

# ---------------------------------------------------------------------------
# Q24 — MinHash + LSH near-dup candidates (the 100TB dedup path), oracle-
# gated via a COVERAGE CROSS-CHECK (VERDICT r02 #7): DuckDB has no
# xxhash64, so instead of emitting the raw xxhash64 candidate set (which
# was un-oracle-able), the query emits the portable md5 family's TRUE
# near-dup pairs (jaccard_est >= threshold — exactly reproducible in SQL,
# same pipeline as q31) together with `covered_by_scale_path` = whether
# the xxhash64 LSH candidate set surfaced that pair. The oracle asserts
# covered = TRUE for every pair, so a recall regression in the scale path
# flips a value and the hash goes red — a real, oracle-checked recall
# contract on the non-portable family.
#
# FIXTURE-PINNED (ADVICE r03): covered=TRUE-for-all is a property of the
# sf0.01 fixture (its >=0.8-Jaccard pairs all hit at least one of the 16
# xxhash64 bands), verified offline — NOT a guarantee of the probabilistic
# scheme, whose per-pair miss rate is (1 - J^4)^16 (~0.7% at J=0.8, ~0 at
# J>=0.9). If the fixture is regenerated or band parameters change, a
# legitimate near-threshold miss can flip this contract red WITHOUT a code
# regression; in that case re-verify the fixture's coverage and, if a pair
# genuinely misses, update this note and the oracle to the fixture's known
# covered fraction rather than weakening the scale path.
# ---------------------------------------------------------------------------

_MH_COVER_THRESH = 0.8


def q24_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_jaccard_estimate,
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents")
    # The scale path under test: xxhash64 family, 16 bands x 4 rows.
    sigs_x = minhash_signatures(d, "doc_id", "text", n=3, num_hashes=64)
    cands_x = lsh_candidate_pairs(sigs_x, bands=16, rows_per_band=4).select(
        "doc_a", "doc_b", F.lit(True).alias("_hit")
    )
    # The portable reference set (q31's family, oracle-reproducible).
    sigs_m = minhash_signatures(
        d, "doc_id", "text", n=3, num_hashes=_MH_HASHES, hash_fn="md5"
    )
    cands_m = lsh_candidate_pairs(
        sigs_m, bands=_MH_BANDS, rows_per_band=_MH_ROWS, hash_fn="md5"
    )
    true_pairs = minhash_jaccard_estimate(sigs_m, cands_m).filter(
        F.col("jaccard_est") >= _MH_COVER_THRESH
    )
    per_pair = true_pairs.join(cands_x, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "jaccard_est",
        F.coalesce(F.col("_hit"), F.lit(False)).alias("covered_by_scale_path"),
    )
    # Corpus-level coverage fraction as a COLUMN (ADVICE r03 low /
    # VERDICT r04 #7): a probabilistic near-miss after fixture
    # regeneration now reads as "0.96 vs 1.0" on every row of the
    # compare, not as one opaque boolean hash flip. Global window over
    # ~tens of verified pairs — a scalar, not a data-sized single
    # partition.
    frac = F.avg(F.col("covered_by_scale_path").cast("double")).over(
        Window.partitionBy()
    )
    return per_pair.withColumn("covered_fraction", F.round(frac, 4))


# ---------------------------------------------------------------------------
# Q25 — SimHash signatures, md5-portable 60-bit family: every signature is
# oracle-checked bit-for-bit in DuckDB (the xxhash64 64-bit family stays the
# scale-path default in operators/dedup.py, pytest-covered).
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60


def q25_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.dedup import simhash64

    d = _t(spark, sf_dir, "documents")
    return simhash64(d, "doc_id", "text", hash_fn="md5", bits=_SIMHASH_BITS)


def _simhash_sig_ctes(bits: int = _SIMHASH_BITS) -> str:
    """Shared CTE block reproducing simhash64(hash_fn='md5') in DuckDB."""
    h = "CAST(('0x' || substr(md5('0|' || tok), 1, 15)) AS BIGINT)"
    sums = ",\n    ".join(
        f"SUM(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return f"""
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(regexp_replace(lower(trim(coalesce(text,''))), '\\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
th AS (SELECT doc_id, {h} AS h FROM toks),
ssum AS (SELECT doc_id, {sums} FROM th GROUP BY doc_id),
sig AS (SELECT doc_id AS doc, {sig} AS simhash FROM ssum)"""


Q25_SQL = "WITH " + _simhash_sig_ctes() + "\nSELECT doc, simhash FROM sig"


# ---------------------------------------------------------------------------
# Q26 — LSH-bucketed approximate top-k. Hyperplanes are md5-derived plan-time
# constants and the projection sign rides an exact DECIMAL fold, so buckets,
# candidate sets, cosines, and ranks are all bit-identical in DuckDB — the
# approximate path is fully oracle-checked.
# ---------------------------------------------------------------------------

_LSH_BITS, _LSH_TABLES, _LSH_DIM, _LSH_K = 8, 2, 64, 5


def q26_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.similarity import lsh_bucketed_topk

    e = _t(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(
        e, "vec_id", "embedding", k=_LSH_K, bits=_LSH_BITS, tables=_LSH_TABLES, dim=_LSH_DIM
    )


def _q26_sql(k: int = _LSH_K) -> str:
    from tpc_di_spark.operators.similarity import hyperplane_components

    def dot(plane: list[float]) -> str:
        lits = ", ".join(repr(c) for c in plane)
        return (
            f"list_sum(list_transform(list_zip(v, [{lits}]), "
            "s -> CAST(CAST(struct_extract(s, 1) AS DECIMAL(8,6)) * CAST(struct_extract(s, 2) AS DECIMAL(8,6)) AS DECIMAL(38,12))))"
        )

    buckets = []
    for t in range(_LSH_TABLES):
        terms = " + ".join(
            f"(CASE WHEN {dot(hyperplane_components(7 + t, b, _LSH_DIM))} >= 0"
            f" THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
            for b in range(_LSH_BITS)
        )
        buckets.append(f"({terms}) AS bkt{t}")
    bucket_structs = ", ".join(f"{{'t': {t}, 'bucket': bkt{t}}}" for t in range(_LSH_TABLES))
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
bk AS (SELECT vec_id, {", ".join(buckets)} FROM base),
stacked AS (
  SELECT vec_id, tb.t, tb.bucket
  FROM bk, UNNEST([{bucket_structs}]) AS u(tb)),
cands AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM stacked a JOIN stacked b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
norms AS (
  SELECT vec_id, v,
         sqrt(CAST(list_sum(list_transform(v, x -> CAST(CAST(x AS DECIMAL(8,6)) * CAST(x AS DECIMAL(8,6)) AS DECIMAL(38,12)))) AS DOUBLE)) AS nrm
  FROM base),
pairs AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(list_sum(list_transform(list_zip(q.v, n.v),
              s -> CAST(CAST(struct_extract(s, 1) AS DECIMAL(8,6)) * CAST(struct_extract(s, 2) AS DECIMAL(8,6)) AS DECIMAL(38,12)))) AS DOUBLE)
           / (q.nrm * n.nrm) AS cosine
  FROM cands c
  JOIN norms q ON q.vec_id = c.query_id
  JOIN norms n ON n.vec_id = c.neighbor_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
FROM ranked WHERE rank <= {k}
"""


Q26_SQL = _q26_sql(_LSH_K)


# ---------------------------------------------------------------------------
# Q34 — SimHash Hamming-ball near-dup pairs (the pair-emitting tier). With
# max_hamming <= slices-1 the bit-slice banding is pigeonhole-complete, so
# the oracle is simply ALL pairs within the ball — the comparison proves the
# LSH retrieval is exhaustive, not just plausible.
# ---------------------------------------------------------------------------

_SIMHASH_SLICES, _SIMHASH_MAXHAM = 6, 5


def q34_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.dedup import simhash64, simhash_near_dup_pairs

    d = _t(spark, sf_dir, "documents")
    sigs = simhash64(d, "doc_id", "text", hash_fn="md5", bits=_SIMHASH_BITS)
    return simhash_near_dup_pairs(
        sigs, bits=_SIMHASH_BITS, slices=_SIMHASH_SLICES, max_hamming=_SIMHASH_MAXHAM
    )


Q34_SQL = "WITH " + _simhash_sig_ctes() + f"""
SELECT a.doc AS doc_a, b.doc AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAXHAM}
"""


# ---------------------------------------------------------------------------
# Q35 — as-of LEFT join (probes with no as-of match kept with NULLs); the
# left-path contract twin of q06 (SURVEY J5).
# ---------------------------------------------------------------------------

def q35_asof_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.temporal_join import asof_join_by_id

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    out = asof_join_by_id(
        e, o,
        probe_id="event_id",
        on_probe=["user_id"], on_build=["o_custkey"],
        probe_ts="ts", build_ts="o_orderdate",
        tiebreak=["o_orderkey"],
        how="left",
    )
    return out.select("event_id", "user_id", "o_orderkey", "o_orderdate")


Q35_SQL = """
SELECT event_id, user_id, o_orderkey, o_orderdate
FROM (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
             row_number() OVER (PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) rn
      FROM events e LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# Q36 — as-of join through the Arrow merge_asof path (applyInPandas cogroup,
# SURVEY U3/J5 deep-history variant). Deterministic tiebreak makes it agree
# with the ranked form, so the oracle is the same left as-of SQL.
# ---------------------------------------------------------------------------

def q36_asof_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.temporal_join import asof_join_grouped

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    out = asof_join_grouped(
        e, o, on=["user_id"], probe_ts="ts", build_ts="o_orderdate",
        tiebreak=["o_orderkey"],
    )
    return out.select("event_id", "user_id", "o_orderkey", "o_orderdate")


Q36_SQL = Q35_SQL

# ---------------------------------------------------------------------------
# Q37 — DimBroker pipeline (`Historical/DimBroker.py:43-67`): P3 job-code
# filter + A4 global-min EffectiveDate, over HR rows derived
# deterministically from customer.
# ---------------------------------------------------------------------------

def q37_dim_broker(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.plans.reference_pipelines import build_dim_broker

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    hr = c.select(
        F.format_string("E%09d", k).alias("employee_id"),
        F.format_string("M%03d", k % 97).alias("manager_id"),
        F.col("c_name").alias("first_name"),
        F.col("c_mktsegment").alias("last_name"),
        F.when(k % 5 == 0, F.lit(" ")).otherwise(F.substring("c_name", 1, 1)).alias("middle_initial"),
        F.when(k % 3 == 0, F.lit("314")).otherwise(F.lit("200")).alias("job_code"),
        F.format_string("B%02d", k % 11).alias("branch"),
        F.format_string("O%02d", k % 13).alias("office"),
        F.format_string("555-%04d", k % 10000).alias("phone"),
    )
    dim_date = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("sk_dateid"), F.col("o_orderdate").alias("datevalue")
    )
    out = build_dim_broker(hr, dim_date)
    return out.select(
        "sk_brokerid", "broker_id", "manager_id", "first_name", "last_name",
        "middle_initial", "branch", "office", "phone", "is_current", "batch_id",
        "effective_date",
    )


Q37_SQL = """
WITH hr AS (
  SELECT printf('E%09d', c_custkey) AS employee_id,
         printf('M%03d', c_custkey % 97) AS manager_id,
         c_name AS first_name,
         c_mktsegment AS last_name,
         CASE WHEN c_custkey % 5 = 0 THEN ' ' ELSE substr(c_name, 1, 1) END AS middle_initial,
         CASE WHEN c_custkey % 3 = 0 THEN '314' ELSE '200' END AS job_code,
         printf('B%02d', c_custkey % 11) AS branch,
         printf('O%02d', c_custkey % 13) AS office,
         printf('555-%04d', c_custkey % 10000) AS phone
  FROM customer),
earliest AS (SELECT MIN(o_orderdate) AS e FROM orders)
SELECT CAST(row_number() OVER (ORDER BY employee_id) AS INT) AS sk_brokerid,
       employee_id AS broker_id, manager_id, first_name, last_name,
       NULLIF(trim(middle_initial), '') AS middle_initial,
       branch, office, phone,
       TRUE AS is_current, 1 AS batch_id,
       (SELECT e FROM earliest) AS effective_date
FROM hr WHERE job_code = '314'
"""

# ---------------------------------------------------------------------------
# Q38 — FactHoldings enrich (`Historical/FactHoldings.py:31-76`): holding
# history derived from lineitem joined against a DimTrade derived from
# orders (misses -> NULL SKs, J9 left enrich).
# ---------------------------------------------------------------------------

def q38_fact_holdings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.plans.reference_pipelines import build_fact_holdings

    l = _t(spark, sf_dir, "lineitem")
    hh = l.select(
        F.format_string("T%09d", F.col("l_orderkey")).alias("hh_t_id"),
        F.format_string("H%09d", F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("hh_h_t_id"),
        F.lit(0).alias("hh_before_qty"),
        F.col("l_quantity").cast("int").alias("hh_after_qty"),
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    dim_trade = o.select(
        F.format_string("T%09d", F.col("o_orderkey")).alias("t_id"),
        F.col("o_custkey").alias("sk_customerid"),
        (F.col("o_custkey") % 101).alias("sk_accountid"),
        (F.col("o_orderkey") % 503).alias("sk_securityid"),
        (F.col("o_orderkey") % 47).alias("sk_companyid"),
        (F.col("o_orderkey") % 1000).alias("sk_closedateid"),
        (F.col("o_orderkey") % 86400).alias("sk_closetimeid"),
        F.col("o_totalprice").alias("t_trade_price"),
    )
    return build_fact_holdings(hh, dim_trade)


Q38_SQL = """
WITH hh AS (
  SELECT printf('T%09d', l_orderkey) AS hh_t_id,
         printf('H%09d', l_orderkey * 10 + l_linenumber) AS hh_h_t_id,
         0 AS hh_before_qty,
         CAST(l_quantity AS INT) AS hh_after_qty
  FROM lineitem),
dt AS (
  SELECT printf('T%09d', o_orderkey) AS t_id,
         o_custkey AS sk_customerid,
         o_custkey % 101 AS sk_accountid,
         o_orderkey % 503 AS sk_securityid,
         o_orderkey % 47 AS sk_companyid,
         o_orderkey % 1000 AS sk_closedateid,
         o_orderkey % 86400 AS sk_closetimeid,
         o_totalprice AS t_trade_price
  FROM orders WHERE o_orderstatus = 'F')
SELECT hh.hh_t_id AS trade_id,
       hh.hh_h_t_id AS current_trade_id,
       dt.sk_customerid, dt.sk_accountid, dt.sk_securityid, dt.sk_companyid,
       dt.sk_closedateid AS sk_dateid, dt.sk_closetimeid AS sk_timeid,
       dt.t_trade_price AS current_price,
       hh.hh_after_qty AS current_holding,
       1 AS batch_id
FROM hh LEFT JOIN dt ON hh.hh_t_id = dt.t_id
"""

# ---------------------------------------------------------------------------
# Q39 — FactMarketHistory composition
# (`Incremental1/IncrementalFactMarketHistory.py:169-329`): 52-week
# high/low with arg-dates over a strict (d-365d, d] band, PERatio over
# quarterly financials, dividend yield — all over market rows derived
# deterministically from orders.
# ---------------------------------------------------------------------------

def q39_fact_market_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.plans.reference_pipelines import build_fact_market_history

    from tpc_di_spark.operators.windows import top1_per_key

    o = _t(spark, sf_dir, "orders")
    # Spread the one-file scan before the symbol/price projections so the
    # per-row expression work parallelizes (the raw scan is a single
    # task), and persist `daily`: three independent subtrees consume it
    # (the 52-week window, the EPS band join's distinct dates, and the
    # dividend lookup) — without the cache each re-ran the scan + top-1
    # window.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    o = o.repartition(n_parts, F.col("o_orderkey"))
    daily = top1_per_key(
        o.select(
            F.format_string("S%03d", F.col("o_custkey") % 37).alias("dm_s_symb"),
            F.col("o_orderdate").alias("dm_date"),
            F.col("o_totalprice").alias("dm_close"),
            (F.col("o_totalprice") + 10.0).alias("dm_high"),
            (F.col("o_totalprice") - 10.0).alias("dm_low"),
            F.col("o_orderkey"),
        ),
        ["dm_s_symb", "dm_date"],
        [F.col("o_orderkey")],
    ).drop("o_orderkey")
    from tpc_di_spark.operators.dedup import invocation_scoped

    daily = invocation_scoped(daily).persist()
    fin = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.format_string("S%03d", F.col("o_custkey") % 37).alias("dm_s_symb"),
        F.col("o_orderdate").alias("qtr_start_date"),
        ((F.col("o_custkey") % 100) / F.lit(10.0)).alias("eps"),
    )
    sec = daily.select("dm_s_symb").distinct().select(
        F.col("dm_s_symb").alias("symbol"),
        F.format_string("%d.5", F.expr("CAST(substr(dm_s_symb, 2) AS INT) % 4")).alias("dividend"),
        (F.expr("CAST(substr(dm_s_symb, 2) AS INT)") % 2 == 0).alias("is_current"),
    )
    out = build_fact_market_history(daily, fin, sec)
    return out.select(
        "dm_s_symb", "dm_date", "dm_close",
        "fiftytwoweekhigh", "fiftytwoweekhighdate",
        "fiftytwoweeklow", "fiftytwoweeklowdate",
        "peratio",
        "alert_no_earnings",
        "yield",
    )


Q39_SQL = """
WITH daily0 AS (
  SELECT printf('S%03d', o_custkey % 37) AS sym, o_orderdate AS d,
         o_totalprice AS close, o_totalprice + 10.0 AS high, o_totalprice - 10.0 AS low,
         row_number() OVER (PARTITION BY printf('S%03d', o_custkey % 37), o_orderdate ORDER BY o_orderkey) AS rn
  FROM orders),
daily AS (SELECT sym, d, close, high, low FROM daily0 WHERE rn = 1),
hi AS (
  SELECT a.sym, a.d, MAX(b.high) AS v FROM daily a
  JOIN daily b ON b.sym = a.sym AND b.d > a.d - INTERVAL 365 DAY AND b.d <= a.d
  GROUP BY a.sym, a.d),
hid AS (
  SELECT a.sym, a.d, hi.v, MIN(b.d) AS vd FROM daily a
  JOIN hi ON hi.sym = a.sym AND hi.d = a.d
  JOIN daily b ON b.sym = a.sym AND b.d > a.d - INTERVAL 365 DAY AND b.d <= a.d AND b.high = hi.v
  GROUP BY a.sym, a.d, hi.v),
lo AS (
  SELECT a.sym, a.d, MIN(b.low) AS v FROM daily a
  JOIN daily b ON b.sym = a.sym AND b.d > a.d - INTERVAL 365 DAY AND b.d <= a.d
  GROUP BY a.sym, a.d),
lod AS (
  SELECT a.sym, a.d, lo.v, MIN(b.d) AS vd FROM daily a
  JOIN lo ON lo.sym = a.sym AND lo.d = a.d
  JOIN daily b ON b.sym = a.sym AND b.d > a.d - INTERVAL 365 DAY AND b.d <= a.d AND b.low = lo.v
  GROUP BY a.sym, a.d, lo.v),
fin AS (
  SELECT printf('S%03d', o_custkey % 37) AS sym, o_orderdate AS qd,
         CAST((o_custkey % 100) / 10.0 AS DECIMAL(18,4)) AS eps
  FROM orders WHERE o_orderkey % 7 = 0),
eps AS (
  SELECT a.sym, a.d, CAST(SUM(f.eps) AS DOUBLE) AS s FROM daily a
  LEFT JOIN fin f ON f.sym = a.sym AND f.qd > a.d - INTERVAL 365 DAY AND f.qd <= a.d
  GROUP BY a.sym, a.d),
sec AS (
  SELECT DISTINCT sym,
         CAST(printf('%d.5', CAST(substr(sym, 2) AS INT) % 4) AS DOUBLE) AS dividend,
         (CAST(substr(sym, 2) AS INT) % 2 = 0) AS is_current
  FROM daily)
SELECT a.sym AS dm_s_symb, a.d AS dm_date, a.close AS dm_close,
       hid.v AS fiftytwoweekhigh, hid.vd AS fiftytwoweekhighdate,
       lod.v AS fiftytwoweeklow, lod.vd AS fiftytwoweeklowdate,
       CASE WHEN eps.s IS NOT NULL AND eps.s <> 0 THEN a.close / eps.s END AS peratio,
       (eps.s IS NULL OR eps.s = 0) AS alert_no_earnings,
       CASE WHEN sec.dividend IS NOT NULL AND sec.dividend <> 0
            THEN sec.dividend / a.close * 100 END AS "yield"
FROM daily a
JOIN hid ON hid.sym = a.sym AND hid.d = a.d
JOIN lod ON lod.sym = a.sym AND lod.d = a.d
LEFT JOIN eps ON eps.sym = a.sym AND eps.d = a.d
LEFT JOIN (SELECT * FROM sec WHERE is_current) sec ON sec.sym = a.sym
"""


# ---------------------------------------------------------------------------
# Q27 — phone formatting + gender normalization + domain validation
# (SURVEY P4, P5, P12, P13) over parts synthesized deterministically
# ---------------------------------------------------------------------------

def q27_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.functions.cleaning import (
        decode_flag,
        domain_validate,
        format_phone,
        gender_norm,
    )

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ctry = F.when(k % 3 == 0, F.lit(None)).otherwise((k % 99).cast("string"))
    area = F.when(k % 5 == 0, F.lit(None)).otherwise(F.lpad((k % 1000).cast("string"), 3, "0"))
    local = F.when(k % 11 == 0, F.lit(None)).otherwise(F.lpad((k % 10000).cast("string"), 7, "0"))
    ext = F.when(k % 4 == 0, (k % 999).cast("string")).otherwise(F.lit(None))
    gender_src = F.element_at(
        F.array(F.lit("M"), F.lit("f"), F.lit("x"), F.lit("F"), F.lit("m"), F.lit(None)),
        (k % 6 + 1).cast("int"),
    )
    return c.select(
        "c_custkey",
        format_phone(ctry, area, local, ext).alias("phone"),
        gender_norm(gender_src).alias("gender"),
        domain_validate(F.col("c_mktsegment"), ["BUILDING", "AUTOMOBILE", "MACHINERY"]).alias("segment_valid"),
        (~F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY")).alias("alert"),
        decode_flag(F.when(k % 2 == 1, "1").otherwise("0")).alias("cash_flag"),
    )


Q27_SQL = """
WITH parts AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE CAST(c_custkey % 99 AS VARCHAR) END AS ctry,
         CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') END AS area,
         CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE lpad(CAST(c_custkey % 10000 AS VARCHAR), 7, '0') END AS loc,
         CASE WHEN c_custkey % 4 = 0 THEN CAST(c_custkey % 999 AS VARCHAR) ELSE NULL END AS ext,
         CASE CAST(c_custkey % 6 AS INT) WHEN 0 THEN 'M' WHEN 1 THEN 'f' WHEN 2 THEN 'x'
              WHEN 3 THEN 'F' WHEN 4 THEN 'm' ELSE NULL END AS gsrc
  FROM customer),
fmt AS (
  SELECT *,
         CASE WHEN ctry IS NOT NULL AND area IS NOT NULL THEN '+' || ctry || ' (' || area || ') ' || loc
              WHEN area IS NOT NULL THEN '(' || area || ') ' || loc
              ELSE loc END AS base
  FROM parts)
SELECT c_custkey,
       CASE WHEN loc IS NULL THEN NULL
            WHEN ext IS NOT NULL THEN base || ' ' || ext
            ELSE base END AS phone,
       CASE WHEN upper(gsrc) IN ('M','F') THEN upper(gsrc) ELSE 'U' END AS gender,
       CASE WHEN c_mktsegment IN ('BUILDING','AUTOMOBILE','MACHINERY') THEN c_mktsegment END AS segment_valid,
       c_mktsegment NOT IN ('BUILDING','AUTOMOBILE','MACHINERY') AS alert,
       c_custkey % 2 = 1 AS cash_flag
FROM fmt
"""

# ---------------------------------------------------------------------------
# Q28 — surrogate-key cascade re-pointing (SURVEY M2) as a query: facts
# re-pointed from an SK remap derived from "changed" customers
# ---------------------------------------------------------------------------

def q28_sk_repoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    remap = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("old_sk"),
        (F.col("c_custkey") + 1_000_000).alias("new_sk"),
    )
    return o.join(F.broadcast(remap), o.o_custkey == remap.old_sk, "left").select(
        "o_orderkey",
        F.coalesce(F.col("new_sk"), F.col("o_custkey")).alias("sk_custkey"),
        F.col("new_sk").isNotNull().alias("repointed"),
    )


Q28_SQL = """
SELECT o_orderkey,
       COALESCE(r.new_sk, o_custkey) AS sk_custkey,
       r.new_sk IS NOT NULL AS repointed
FROM orders LEFT JOIN (
  SELECT c_custkey AS old_sk, c_custkey + 1000000 AS new_sk
  FROM customer WHERE c_custkey % 10 = 0) r
ON o_custkey = r.old_sk
"""

# ---------------------------------------------------------------------------
# Q29 — the MERGE-ON-READ engine path end-to-end: three ts-ordered CDC
# batches appended as deltas, live view reconciled by the declarative CDC
# fold. ts-ordered batch boundaries make the final state equal a global
# LWW, which the SQL oracle expresses directly.
# ---------------------------------------------------------------------------

def q29_mor_live_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.mor import apply_batch_mor, current_state_mor
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _derive_change_events(spark, sf_dir)
    table_dir = _scratch_dir("cdc_q29_")
    table = bootstrap_table(
        spark, os.path.join(table_dir, "t"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    orch = CdcOrchestrator(table, buckets_per_group=16)
    cut1, cut2 = F.lit("2024-01-11").cast("timestamp"), F.lit("2024-01-21").cast("timestamp")
    apply_batch_mor(orch, ev.filter(F.col("ts") < cut1), 1)
    apply_batch_mor(orch, ev.filter((F.col("ts") >= cut1) & (F.col("ts") < cut2)), 2)
    apply_batch_mor(orch, ev.filter(F.col("ts") >= cut2), 3)
    return current_state_mor(table).select("conv_id", "turn_idx", "role", "text", "ts")


# Same final-state semantics as Q18: ts-ordered batches => global LWW.
Q29_SQL = Q18_SQL

# ---------------------------------------------------------------------------
# Q30 — salted two-phase aggregation (skew defense); oracle is the plain
# GROUP BY it must be semantically identical to
# ---------------------------------------------------------------------------

def q30_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.salting import salted_agg

    e = _t(spark, sf_dir, "events").withColumn("v", F.col("value").cast(DEC))
    out = salted_agg(
        e,
        ["user_id"],
        {"n_events": ("count", "*"), "total_value": ("sum", "v"), "last_event": ("max", "event_id")},
        salt_from=["event_id"],
        buckets=16,
    )
    return out.select(
        "user_id",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        "last_event",
    )


Q30_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       MAX(event_id) AS last_event
FROM events GROUP BY user_id
"""

# ---------------------------------------------------------------------------
# Q31 — the full MinHash -> LSH banding -> Jaccard-estimate dedup pipeline,
# oracle-checked: both engines use the identical md5-derived hash family,
# so signatures, band buckets, candidate pairs, and estimates all match.
# ---------------------------------------------------------------------------

def q33_fact_watches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY M4 (watch place/cancel conditional upsert) as a query over a
    watch-history stream derived deterministically from events."""
    from tpc_di_spark.plans.reference_pipelines import build_fact_watches

    e = _t(spark, sf_dir, "events")
    wh = e.select(
        F.col("user_id").cast("string").alias("w_c_id"),
        F.col("event_type").alias("w_s_symb"),
        F.col("ts").alias("w_dts"),
        F.when(F.col("event_id") % 3 == 0, "CNCL").otherwise("ACTV").alias("w_action"),
    )
    return build_fact_watches(wh)


Q33_SQL = """
WITH wh AS (
  SELECT CAST(user_id AS VARCHAR) AS w_c_id, event_type AS w_s_symb, ts AS w_dts,
         CASE WHEN event_id % 3 = 0 THEN 'CNCL' ELSE 'ACTV' END AS w_action
  FROM events),
placed AS (
  SELECT w_c_id, w_s_symb, MIN(w_dts) AS date_placed
  FROM wh WHERE w_action = 'ACTV' GROUP BY w_c_id, w_s_symb),
removed AS (
  SELECT w_c_id, w_s_symb, MIN(w_dts) AS date_removed
  FROM wh WHERE w_action = 'CNCL' GROUP BY w_c_id, w_s_symb)
SELECT p.w_c_id AS customer_id, p.w_s_symb AS symbol, p.date_placed,
       CASE WHEN r.date_removed >= p.date_placed THEN r.date_removed END AS date_removed
FROM placed p LEFT JOIN removed r
  ON p.w_c_id = r.w_c_id AND p.w_s_symb = r.w_s_symb
"""


def q32_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.windows import sessionize

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = sessionize(e, ["user_id"], "ts", "event_id", gap_minutes=30)
    return out.select("event_id", "user_id", "session_idx")


Q32_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000 THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
FROM (SELECT event_id, user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events)
"""

_MH_HASHES = 32
_MH_BANDS = 8
_MH_ROWS = 4


def q31_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_jaccard_estimate,
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "doc_id", "text", n=3, num_hashes=_MH_HASHES, hash_fn="md5")
    cands = lsh_candidate_pairs(sigs, bands=_MH_BANDS, rows_per_band=_MH_ROWS, hash_fn="md5")
    out = minhash_jaccard_estimate(sigs, cands)
    return out.select("doc_a", "doc_b", "jaccard_est")


def _q31_sql() -> str:
    h = lambda expr, seed: (
        f"CAST(('0x' || substr(md5('{seed}|' || {expr}), 1, 15)) AS BIGINT)"
    )
    mins = ",\n    ".join(
        f"MIN({h('shingle', k)}) AS h{k}" for k in range(_MH_HASHES)
    )
    bands = ",\n    ".join(
        "{} AS b{}".format(
            h(
                " || ',' || ".join(
                    f"CAST(h{b * _MH_ROWS + r} AS VARCHAR)" for r in range(_MH_ROWS)
                ),
                f"band{b}",
            ),
            b,
        )
        for b in range(_MH_BANDS)
    )
    band_structs = ", ".join(
        f"{{'band': {b}, 'bucket': b{b}}}" for b in range(_MH_BANDS)
    )
    eq_terms = " + ".join(
        f"(CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END)" for k in range(_MH_HASHES)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(regexp_replace(lower(trim(coalesce(text,''))), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id AS doc, shingle
  FROM toks, UNNEST(
    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         ELSE list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))
    END) AS u(shingle)),
sig AS (
  SELECT doc,
    {mins}
  FROM sh GROUP BY doc),
banded AS (
  SELECT doc,
    {bands}
  FROM sig),
stacked AS (
  SELECT doc, bb.band, bb.bucket
  FROM banded, UNNEST([{band_structs}]) AS u(bb)),
cands AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM stacked a JOIN stacked b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc)
SELECT c.doc_a, c.doc_b,
       ({eq_terms}) * 1.0 / {_MH_HASHES} AS jaccard_est
FROM cands c
JOIN sig sa ON sa.doc = c.doc_a
JOIN sig sb ON sb.doc = c.doc_b
"""


Q31_SQL = _q31_sql()

# q24's oracle: the q31 portable pipeline filtered to true near-dups, each
# asserted covered by the xxhash64 scale path (see q24_minhash_lsh).
Q24_SQL = f"""
SELECT doc_a, doc_b, jaccard_est, TRUE AS covered_by_scale_path,
       CAST(1.0 AS DOUBLE) AS covered_fraction
FROM ({Q31_SQL}) q31
WHERE jaccard_est >= {_MH_COVER_THRESH}
"""

# ---------------------------------------------------------------------------
# Q40 — DImessages alert side-output (`Historical/test.py:249-267`): one
# queryable message row per invalid-domain value, with the reference's
# key=value payload shape.
# ---------------------------------------------------------------------------

def q40_dimessages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.functions.cleaning import domain_validate
    from tpc_di_spark.plans.messages import alert_messages
    from tpc_di_spark.plans.reference_pipelines import VALID_SP_RATINGS

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    raw = c.select(
        k.alias("co_id"),
        F.element_at(
            F.array(F.lit("AAA"), F.lit("BBB+"), F.lit("ZZZ"), F.lit("B-"), F.lit("JUNK"), F.lit(None)),
            (k % 6 + 1).cast("int"),
        ).alias("sp_rate"),
        F.timestamp_seconds(F.lit(1704067200) + k).alias("pts"),
    )
    invalid = (
        domain_validate(F.col("sp_rate"), VALID_SP_RATINGS).isNull()
        & F.col("sp_rate").isNotNull()
    )
    return alert_messages(
        raw, invalid,
        source="DimCompany", message_text="Invalid SPRating",
        data_cols=["co_id", "sp_rate"], ts_col="pts", batch_id=1,
    )


def _q40_sql() -> str:
    from tpc_di_spark.plans.reference_pipelines import VALID_SP_RATINGS

    valid = ", ".join(f"'{r}'" for r in VALID_SP_RATINGS)
    return f"""
WITH raw AS (
  SELECT c_custkey AS co_id,
         CASE CAST(c_custkey % 6 AS INT) WHEN 0 THEN 'AAA' WHEN 1 THEN 'BBB+'
              WHEN 2 THEN 'ZZZ' WHEN 3 THEN 'B-' WHEN 4 THEN 'JUNK' END AS sp_rate,
         make_timestamp((1704067200 + c_custkey) * 1000000) AS pts
  FROM customer)
SELECT pts AS message_ts,
       1 AS batch_id,
       'DimCompany' AS message_source,
       'Alert' AS message_type,
       'Invalid SPRating' AS message_text,
       'co_id = ' || CAST(co_id AS VARCHAR) || ', sp_rate = ' || coalesce(sp_rate, 'NULL') AS message_data
FROM raw
WHERE sp_rate IS NOT NULL AND sp_rate NOT IN ({valid})
"""


Q40_SQL = _q40_sql()


# ---------------------------------------------------------------------------
# Q41 — IVF (inverted-file) ANN search, the second scale path next to
# hyperplane LSH. Contract variant uses centroids trained ONCE offline by
# the deterministic kmeans_fit (tools/train_ivf_centroids.py, literals in
# operators/ivf_centroids_sf001.json): the oracle stays static SQL — the
# literals are inlined into a VALUES list — while the cells are balanced,
# so candidate generation is genuinely pruned (the r02 data-independent
# centroids degenerated to one giant cell: ~N^2 candidates, 69.8s).
# Assignment, probing, and ranks are bit-identical in DuckDB
# (exact-DECIMAL distances); recall/partition-invariance covered in
# tests/test_operators.py::test_ivf_topk_and_kmeans.
# ---------------------------------------------------------------------------

_IVF_NLIST, _IVF_NPROBE, _IVF_K, _IVF_DIM = 16, 4, 5, 64


def q41_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.ivf import ivf_topk, trained_centroids_sf001

    e = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        e, "vec_id", "embedding",
        trained_centroids_sf001(),
        k=_IVF_K, nprobe=_IVF_NPROBE,
    )


def _q41_sql() -> str:
    from tpc_di_spark.operators.ivf import trained_centroids_sf001

    cents = trained_centroids_sf001()
    values = ", ".join(
        "({}, [{}])".format(i, ", ".join(repr(x) for x in c)) for i, c in enumerate(cents)
    )
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
cents(cid, c) AS (VALUES {values}),
dists AS (
  SELECT b.vec_id, cents.cid,
         list_sum(list_transform(list_zip(b.v, cents.c),
              s -> CAST((CAST(struct_extract(s, 1) AS DECIMAL(8,6)) - CAST(struct_extract(s, 2) AS DECIMAL(8,6)))
                        * (CAST(struct_extract(s, 1) AS DECIMAL(8,6)) - CAST(struct_extract(s, 2) AS DECIMAL(8,6))) AS DECIMAL(38,12)))) AS d
  FROM base b CROSS JOIN cents),
ranked_cells AS (
  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rnk
  FROM dists),
lists AS (SELECT vec_id AS neighbor_id, cid FROM ranked_cells WHERE rnk = 1),
probes AS (SELECT vec_id AS query_id, cid FROM ranked_cells WHERE rnk <= {_IVF_NPROBE}),
norms AS (
  SELECT vec_id, v,
         sqrt(CAST(list_sum(list_transform(v, x -> CAST(CAST(x AS DECIMAL(8,6)) * CAST(x AS DECIMAL(8,6)) AS DECIMAL(38,12)))) AS DOUBLE)) AS nrm
  FROM base),
pairs AS (
  SELECT p.query_id, l.neighbor_id,
         CAST(list_sum(list_transform(list_zip(q.v, n.v),
              s -> CAST(CAST(struct_extract(s, 1) AS DECIMAL(8,6)) * CAST(struct_extract(s, 2) AS DECIMAL(8,6)) AS DECIMAL(38,12)))) AS DOUBLE)
           / (q.nrm * n.nrm) AS cosine
  FROM probes p
  JOIN lists l ON p.cid = l.cid AND p.query_id <> l.neighbor_id
  JOIN norms q ON q.vec_id = p.query_id
  JOIN norms n ON n.vec_id = l.neighbor_id),
topk AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
FROM topk WHERE rank <= {_IVF_K}
"""


Q41_SQL = _q41_sql()


# ---------------------------------------------------------------------------
# Q42 — multimodal binary-column plumbing through the Arrow mapInPandas
# path: documents' text becomes the binary payload, extract_features runs
# the real distributed pipeline (batched decode-shape, hashing), and the
# oracle recomputes byte length + content hash on the same blobs in
# DuckDB. (feat_mean — the stubbed decode output — is pytest-covered; a
# SQL engine can't sum raw bytes, so the contract projects the
# oracle-computable columns.)
# ---------------------------------------------------------------------------

def q42_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.functions.multimodal import extract_features

    d = _t(spark, sf_dir, "documents")
    assets = d.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("modality"),
        F.encode(F.col("text"), "UTF-8").cast("binary").alias("content"),
        F.lit(None).cast(
            "struct<width:int,height:int,sample_rate:int,duration_ms:int,codec:string>"
        ).alias("meta"),
    )
    return extract_features(assets).select(
        "asset_id", "modality", "n_bytes", "content_hash"
    )


Q42_SQL = """
SELECT doc_id AS asset_id,
       'image' AS modality,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       md5(text) AS content_hash  -- md5(VARCHAR) hashes the UTF-8 bytes = the blob
FROM documents
"""


# ---------------------------------------------------------------------------
# Q43 — embedding near-duplicate pairs (the embedding-space analogue of
# MinHash dedup): LSH candidates -> exact cosine -> threshold filter.
# Fully oracle-checked through the q26 literal-plane machinery.
# ---------------------------------------------------------------------------

# This synthetic corpus is near-random (max pairwise cosine ~0.46 at
# sf0.01), so the "near-dup" threshold is set where pairs exist; on a
# real corpus use ~0.95.
_NEARDUP_THRESHOLD = 0.3


def q43_embedding_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.similarity import embedding_cosine_neardups

    e = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_neardups(
        e, "vec_id", "embedding",
        threshold=_NEARDUP_THRESHOLD,
        bits=_LSH_BITS, tables=_LSH_TABLES, dim=_LSH_DIM,
    )


Q43_SQL = f"""
SELECT query_id AS id_a, neighbor_id AS id_b, cosine
FROM ({_q26_sql(50)})
WHERE cosine >= {_NEARDUP_THRESHOLD} AND query_id < neighbor_id
"""


# ---------------------------------------------------------------------------
# Q47 — incremental changelog read (the "binlog OUT" side of the engine):
# replay three CDC batches (events split deterministically by
# event_id div 7 mod 3 — decorrelated from the flag/role modulos), then
# read the row versions CREATED by batch 2 through lake/changelog.py's
# file-skipping incremental reader (per-file batch_id footer stats). The
# oracle recomputes the same set in pure SQL: batch-2 LWW winners
# (I/U), closed by the batch-3 winner where one exists. end_ts is
# emitted as a formatted string (the 9999 sentinel overflows pandas ns
# timestamps).
# ---------------------------------------------------------------------------

def q47_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.lake.changelog import rows_created_in
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _derive_change_events(spark, sf_dir).withColumn(
        "_b", (F.expr("cdc_dsn div 7") % 3 + 1).cast("int")
    )
    table_dir = _scratch_dir("cdc_q47_")
    table = bootstrap_table(
        spark, os.path.join(table_dir, "transcripts"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    orch = CdcOrchestrator(table, buckets_per_group=16)
    for b in (1, 2, 3):
        orch.apply_batch(ev.filter(F.col("_b") == b).drop("_b"), batch_id=b)
    return rows_created_in(table, 2).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "ts",
        "is_current",
        F.date_format("end_ts", "yyyy-MM-dd HH:mm:ss").alias("end_ts_s"),
    )


Q47_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         printf('text u%d t%d e%d', user_id, event_id % 50, event_id) AS text,
         ts,
         CAST((event_id // 7) % 3 + 1 AS INT) AS b
  FROM events),
w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, b ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev),
w2 AS (SELECT * FROM w WHERE b = 2 AND rn = 1 AND cdc_flag <> 'D'),
w3 AS (SELECT * FROM w WHERE b = 3 AND rn = 1)
SELECT w2.conv_id, w2.turn_idx, w2.role, w2.text, w2.ts,
       w3.conv_id IS NULL AS is_current,
       coalesce(strftime(w3.ts, '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00') AS end_ts_s
FROM w2 LEFT JOIN w3 ON w2.conv_id = w3.conv_id AND w2.turn_idx = w3.turn_idx
"""


# ---------------------------------------------------------------------------
# Q48 — near-dup CLUSTER assignment + keeper selection: connected
# components over the portable family's verified near-dup pairs via
# fixed-round min-label propagation (operators/dedup.dedup_clusters).
# This is the step that actually drops duplicates in a training-data
# pipeline once candidates are verified. The oracle unrolls the same
# rounds in SQL, so labels are bit-identical.
# ---------------------------------------------------------------------------

_CC_ITERS = 4


def q48_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.operators.dedup import (
        dedup_clusters,
        lsh_candidate_pairs,
        minhash_jaccard_estimate,
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        d, "doc_id", "text", n=3, num_hashes=_MH_HASHES, hash_fn="md5"
    )
    cands = lsh_candidate_pairs(
        sigs, bands=_MH_BANDS, rows_per_band=_MH_ROWS, hash_fn="md5"
    )
    true_pairs = minhash_jaccard_estimate(sigs, cands).filter(
        F.col("jaccard_est") >= _MH_COVER_THRESH
    )
    return dedup_clusters(
        d.select("doc_id"), "doc_id", true_pairs, iters=_CC_ITERS
    )


def _q48_sql() -> str:
    rounds = ""
    prev = "l0"
    for i in range(1, _CC_ITERS + 1):
        rounds += f""",
l{i} AS (
  SELECT l.u, least(l.label, coalesce(m.nmin, l.label)) AS label
  FROM {prev} l LEFT JOIN (
    SELECT e.u, min(ln.label) AS nmin
    FROM edges e JOIN {prev} ln ON ln.u = e.v
    GROUP BY e.u) m ON m.u = l.u
)"""
        prev = f"l{i}"
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({Q31_SQL}) q WHERE jaccard_est >= {_MH_COVER_THRESH}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs),
l0 AS (SELECT doc_id AS u, doc_id AS label FROM documents){rounds}
SELECT u AS doc_id, label AS cluster, u = label AS is_keeper FROM {prev}
"""


Q48_SQL = _q48_sql()


# ---------------------------------------------------------------------------
# Q49 — incremental aggregate maintenance from the changelog ("binlog out"
# consumer, lake/incremental_agg.py): the engine replays 3 CDC batches and
# a ConvStatsConsumer catches up AFTER EACH batch reading only that
# batch's changelog (created/closed versions); the returned state is the
# incrementally-maintained per-conversation rollup. The oracle recomputes
# the same stats from scratch over the full event stream: per-key
# batch-winners (LWW within batch, batch-id-first across batches), then
# created = non-D winners, closed = winners whose predecessor was live,
# live = last winner non-D — so any drift between incremental maintenance
# and ground truth goes hash-red.
# ---------------------------------------------------------------------------

def q49_incremental_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.lake.incremental_agg import ConvStatsConsumer
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _derive_change_events(spark, sf_dir).withColumn(
        "_b", (F.expr("cdc_dsn div 7") % 3 + 1).cast("int")
    )
    table_dir = _scratch_dir("cdc_q49_")
    table = bootstrap_table(
        spark, os.path.join(table_dir, "transcripts"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    orch = CdcOrchestrator(table, buckets_per_group=16)
    consumer = ConvStatsConsumer(table, os.path.join(table_dir, "stats"))
    for b in (1, 2, 3):
        orch.apply_batch(ev.filter(F.col("_b") == b).drop("_b"), batch_id=b)
        consumer.refresh()  # per-batch incremental consumption
    return consumer.state()


Q49_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         ts,
         CAST((event_id // 7) % 3 + 1 AS INT) AS b
  FROM events),
w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, b ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev),
winners AS (SELECT conv_id, turn_idx, b, cdc_flag, ts FROM w WHERE rn = 1),
seq AS (SELECT *,
               lag(cdc_flag) OVER (PARTITION BY conv_id, turn_idx ORDER BY b) AS prev_flag,
               row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY b DESC) AS rdesc
        FROM winners)
SELECT conv_id,
       CAST(SUM(CASE WHEN rdesc = 1 AND cdc_flag <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS live_turns,
       CAST(SUM(CASE WHEN cdc_flag <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS versions_created,
       CAST(SUM(CASE WHEN prev_flag IS NOT NULL AND prev_flag <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS versions_closed,
       MAX(CASE WHEN cdc_flag <> 'D' THEN ts END) AS last_event_ts
FROM seq
GROUP BY conv_id
HAVING SUM(CASE WHEN cdc_flag <> 'D' THEN 1 ELSE 0 END) > 0
"""


# ---------------------------------------------------------------------------
# Q50 — DECLARATIVE incremental materialized view (lake/incremental_view
# .IncrementalView, VERDICT r04 #3): a per-ROLE rollup (live turn count,
# live character sum, version churn, activity watermark) declared as an
# aggregate spec and maintained across the FULL engine surface in one
# query — batch 1 copy-on-write, batch 2 merge-on-read (the view holds
# below the pending delta, catches up at compaction), batch 3 CoW, then
# a full table compaction that erases closing tags (the closes are read
# from the committing snapshot by time travel). The oracle recomputes the same rollup
# from scratch over the event stream: any drift in the view's
# invertible-sum maintenance (update nets new-old, delete subtracts) or
# watermark monotonicity goes hash-red.
# ---------------------------------------------------------------------------

def q50_incremental_role_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.mor import apply_batch_mor, compact_deltas
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.lake.incremental_view import IncrementalView
    from tpc_di_spark.lake.maintenance import compact
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _derive_change_events(spark, sf_dir).withColumn(
        "_b", (F.expr("cdc_dsn div 7") % 3 + 1).cast("int")
    )
    table_dir = _scratch_dir("cdc_q50_")
    table = bootstrap_table(
        spark, os.path.join(table_dir, "transcripts"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    orch = CdcOrchestrator(table, buckets_per_group=16)
    view = IncrementalView(
        table,
        os.path.join(table_dir, "view"),
        key_cols=["role"],
        aggs=[
            ("count_live", None, "live_turns"),
            ("sum_live", "cast(length(text) as bigint)", "live_chars"),
            ("count_versions", None, "versions_created"),
            ("count_closed", None, "versions_closed"),
            ("max_created", "ts", "last_event_ts"),
        ],
    )
    batch = lambda b: ev.filter(F.col("_b") == b).drop("_b")  # noqa: E731
    orch.apply_batch(batch(1), batch_id=1)
    view.refresh()  # CoW consumption
    apply_batch_mor(orch, batch(2), batch_id=2)
    view.refresh()  # holds below the pending MoR delta (horizon)
    compact_deltas(orch)
    view.refresh()  # catches up through the materialized batch 2
    orch.apply_batch(batch(3), batch_id=3)
    compact(table, max_files_per_bucket=0)  # erases closing tags
    view.refresh()  # closes read from the committing snapshot
    return view.state()


Q50_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         printf('text u%d t%d e%d', user_id, event_id % 50, event_id) AS text,
         ts,
         CAST((event_id // 7) % 3 + 1 AS INT) AS b
  FROM events),
w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, b ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev),
winners AS (SELECT conv_id, turn_idx, b, cdc_flag, role, text, ts FROM w WHERE rn = 1),
seq AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY b DESC) AS rdesc
        FROM winners)
SELECT role,
       CAST(SUM(CASE WHEN rdesc = 1 AND cdc_flag <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS live_turns,
       CAST(SUM(CASE WHEN rdesc = 1 AND cdc_flag <> 'D' THEN length(text) ELSE 0 END) AS BIGINT) AS live_chars,
       CAST(SUM(CASE WHEN cdc_flag <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS versions_created,
       CAST(SUM(CASE WHEN cdc_flag <> 'D' AND rdesc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS versions_closed,
       MAX(CASE WHEN cdc_flag <> 'D' THEN ts END) AS last_event_ts
FROM seq
GROUP BY role
HAVING SUM(CASE WHEN cdc_flag <> 'D' THEN 1 ELSE 0 END) > 0
"""


# ---------------------------------------------------------------------------
# Q44-Q46 — the reference's file-format intake, contract-exercised
# (VERDICT r02 #4; S1/S2/S4/S6 were pytest-only): each query materializes
# a driver table to deterministic text sidecars (sources/
# sidecar_fixtures.py), re-reads them through the REAL scan operators
# (sources/delimited.py:18-39, fixed_width.py:91-110), and the oracle
# reads the same bytes with DuckDB read_csv. Reference intake shapes:
# pipe-delimited `Incremental1/IncrementalCustomer.py:170-207`, CSV
# header `Historical/prospect.py:71-104`, FINWIRE `Historical/test.py:
# 66-181`, BatchDate `IncrementalFactProspect.py:195-210`.
# ---------------------------------------------------------------------------

from tpc_di_spark.sources.sidecar_fixtures import (  # noqa: E402
    BATCH_DATE,
    make_sidecars,
    sidecar_dir,
)

# q44-q46 pin BOTH sides to the sf0.01 sidecars regardless of the sf_dir
# they're invoked with: oracle_sql() strings are static, so a floating
# Spark-side sf would compare different data sets at any other scale
# (ADVICE r03). The scans themselves are sf-independent operators.
_SIDECAR_SF_DIR = "/root/testdata/sf0.01"
_SIDECAR_ORACLE_DIR = sidecar_dir(_SIDECAR_SF_DIR)


def q44_pipe_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 pipe-delimited scan (empty→NULL, typed casts) + S6 batch-date
    scalar, over bytes the oracle reads too. The DECIMAL(12,2) parse
    stays inside the scan (the typed-reader path under test); the
    emitted column is cast to DOUBLE so the contract hash never compares
    raw DECIMAL cell renderings across engines (ADVICE r03: driver env
    rendered Decimal('2547.40') vs 2547.4)."""
    from tpc_di_spark.sources.delimited import read_batch_date, read_pipe_delimited

    out = make_sidecars(_SIDECAR_SF_DIR)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DecimalType(12, 2)),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    df = read_pipe_delimited(spark, os.path.join(out, "customer.psv"), schema)
    bd = read_batch_date(os.path.join(out, "BatchDate.txt"))
    return df.withColumn("c_acctbal", F.col("c_acctbal").cast("double")).withColumn(
        "batch_date", F.to_date(F.lit(bd))
    )


# Environment-proof oracle (q45 style, VERDICT r03 #1): DuckDB reads every
# field as raw VARCHAR and all NULLing/casting is spelled out in SQL, so
# neither engine's typed-CSV parsing defaults nor DECIMAL cell rendering
# participates in the comparison.
Q44_SQL = f"""
SELECT CAST(c_custkey AS BIGINT)    AS c_custkey,
       nullif(c_name, '')           AS c_name,
       CAST(c_nationkey AS INTEGER) AS c_nationkey,
       CAST(c_acctbal AS DOUBLE)    AS c_acctbal,
       nullif(c_mktsegment, '')     AS c_mktsegment,
       DATE '{BATCH_DATE}' AS batch_date
FROM read_csv('{_SIDECAR_ORACLE_DIR}/customer.psv', delim='|', header=false,
  quote='', all_varchar=true,
  columns={{'c_custkey':'VARCHAR','c_name':'VARCHAR','c_nationkey':'VARCHAR',
           'c_acctbal':'VARCHAR','c_mktsegment':'VARCHAR'}})
"""


def q45_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 FINWIRE fixed-width scan: CMP records parsed by char offsets
    (typed, empty→NULL), FIN records filtered out by the type tag."""
    from tpc_di_spark.sources.fixed_width import FwField, read_fixed_width

    out = make_sidecars(_SIDECAR_SF_DIR)
    fields = (
        FwField("pts", 0, 15),
        FwField("rec_type", 15, 3),
        FwField("company_name", 18, 60),
        FwField("cik", 78, 10, "long"),
        FwField("status", 88, 4),
        FwField("industry_id", 92, 2),
        FwField("sp_rating", 94, 4),
        FwField("founding_date", 98, 8),
    )
    return read_fixed_width(
        spark, os.path.join(out, "finwire.txt"), "CMP", fields=fields
    )


Q45_SQL = f"""
WITH lines AS (
  SELECT value FROM read_csv('{_SIDECAR_ORACLE_DIR}/finwire.txt', delim='|',
    header=false, quote='', columns={{'value':'VARCHAR'}})
)
SELECT nullif(trim(substr(value, 1, 15)), '')  AS pts,
       nullif(trim(substr(value, 16, 3)), '')  AS rec_type,
       nullif(trim(substr(value, 19, 60)), '') AS company_name,
       CAST(nullif(trim(substr(value, 79, 10)), '') AS BIGINT) AS cik,
       nullif(trim(substr(value, 89, 4)), '')  AS status,
       nullif(trim(substr(value, 93, 2)), '')  AS industry_id,
       nullif(trim(substr(value, 95, 4)), '')  AS sp_rating,
       nullif(trim(substr(value, 99, 8)), '')  AS founding_date
FROM lines
WHERE substr(value, 16, 3) = 'CMP'
"""


def q46_csv_header_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 CSV-with-header scan through the same delimited reader. The
    DECIMAL(12,2) parse stays in the scan; the emitted column is DOUBLE
    (same contract-hash rationale as q44)."""
    from tpc_di_spark.sources.delimited import read_csv_with_header

    out = make_sidecars(_SIDECAR_SF_DIR)
    schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DecimalType(12, 2)),
        ]
    )
    return read_csv_with_header(
        spark, os.path.join(out, "part.csv"), schema
    ).withColumn("p_retailprice", F.col("p_retailprice").cast("double"))


# Environment-proof oracle (q45 style) — see Q44_SQL rationale.
Q46_SQL = f"""
SELECT CAST(p_partkey AS BIGINT)      AS p_partkey,
       nullif(p_brand, '')            AS p_brand,
       nullif(p_type, '')             AS p_type,
       CAST(p_size AS INTEGER)        AS p_size,
       CAST(p_retailprice AS DOUBLE)  AS p_retailprice
FROM read_csv('{_SIDECAR_ORACLE_DIR}/part.csv', delim=',', header=true,
  quote='', all_varchar=true,
  columns={{'p_partkey':'VARCHAR','p_brand':'VARCHAR','p_type':'VARCHAR',
           'p_size':'VARCHAR','p_retailprice':'VARCHAR'}})
"""

# ---------------------------------------------------------------------------
# Q51 — Debezium-envelope JSON changelog intake (sources/debezium.py):
# the realistic "binlog in" adapter. The sidecar is a raw-Connect-envelope
# JSONL changelog (op c/r/u/d, before/after images, source.lsn, ts_ms)
# with two malformed lines; the reader parses it with from_json Column
# exprs into the engine's CHANGE_EVENT envelope and quarantines the bad
# lines (P12 side-output — pytest-checked; the contract query returns
# the parsed events). The oracle reads the SAME bytes with DuckDB
# read_json and applies the identical op/image/position mapping.
# ---------------------------------------------------------------------------

_DBZ_PAYLOAD = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def q51_debezium_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.sources.debezium import read_debezium_json
    from tpc_di_spark.sources.sidecar_fixtures import make_debezium_sidecar

    path = make_debezium_sidecar(_SIDECAR_SF_DIR)
    events, _quarantine = read_debezium_json(spark, path, _DBZ_PAYLOAD)
    return events.select(
        "cdc_flag", "cdc_dsn", "conv_id", "turn_idx", "role", "text", "ts"
    )


_DBZ_STRUCT = (
    "STRUCT(op VARCHAR, ts_ms BIGINT, "
    "before STRUCT(conv_id VARCHAR, turn_idx INTEGER, role VARCHAR, text VARCHAR), "
    "after STRUCT(conv_id VARCHAR, turn_idx INTEGER, role VARCHAR, text VARCHAR), "
    "source STRUCT(lsn BIGINT, pos BIGINT))"
)

Q51_SQL = f"""
WITH j AS (
  SELECT payload AS p
  FROM read_json('{_SIDECAR_ORACLE_DIR}/changes.debezium.jsonl',
                 format='newline_delimited', ignore_errors=true,
                 columns={{'payload': '{_DBZ_STRUCT}'}})
),
img AS (
  SELECT p.op AS op, p.ts_ms AS ts_ms, p.source AS src,
         CASE WHEN p.op = 'd' THEN p.before ELSE p.after END AS i
  FROM j
  WHERE p.op IN ('c', 'r', 'u', 'd') AND p.ts_ms IS NOT NULL
)
SELECT CASE WHEN op = 'd' THEN 'D' WHEN op = 'u' THEN 'U' ELSE 'I' END AS cdc_flag,
       COALESCE(src.lsn, src.pos, ts_ms) AS cdc_dsn,
       i.conv_id  AS conv_id,
       i.turn_idx AS turn_idx,
       i.role     AS role,
       i.text     AS text,
       epoch_ms(ts_ms) AS ts
FROM img
WHERE i IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Q52 — snapshot→tail handover (cdc/orchestrator.apply_snapshot_batch):
# Debezium-style initial-snapshot chunks (op='r') arriving AFTER the WAL
# tail was already applied. The engine replays the tail as two ordinary
# CDC batches, then applies two late PK-range snapshot chunks as
# insert-if-absent MERGEs that drop every key the tail touched —
# including keys whose only tail event was a delete that matched no row
# (ordered by the batch_id<0 tombstone, cdc/apply.py). The oracle
# recomputes the reference ordering (snapshot first, tail second):
# tail-final-state ∪ snapshot rows whose key the tail never touched.
# Any resurrection of a tail-deleted key goes hash-red.
# ---------------------------------------------------------------------------

def q52_snapshot_handover(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Tail: the full derived change stream, split into two batches.
    ev = _derive_change_events(spark, sf_dir).withColumn(
        "_b", (F.expr("cdc_dsn div 7") % 2 + 1).cast("int")
    )
    # Snapshot: a point-in-time read (op='r' → 'I') at watermark 0, keyed
    # off customer; convs 0-149 overlap the tail's key range (mostly
    # dropped), 150-299 are chunk-only keys (inserted). Each key maps 5
    # custkeys — in-chunk LWW picks the max (all same parity, one chunk).
    c = _t(spark, sf_dir, "customer")
    snap = c.select(
        F.lit("I").alias("cdc_flag"),
        F.col("c_custkey").cast("long").alias("cdc_dsn"),
        F.format_string(
            "conv-%06d", (F.col("c_custkey") % 300).cast("int")
        ).alias("conv_id"),
        (F.col("c_custkey") % 50).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.format_string("snap c%d", F.col("c_custkey")).alias("text"),
        F.to_timestamp(F.lit("2020-01-01 00:00:00")).alias("ts"),
    )
    table_dir = _scratch_dir("cdc_q52_")
    table = bootstrap_table(
        spark, os.path.join(table_dir, "transcripts"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    orch = CdcOrchestrator(table, buckets_per_group=16)
    for b in (1, 2):
        orch.apply_batch(ev.filter(F.col("_b") == b).drop("_b"), batch_id=b)
    for i, parity in enumerate((0, 1)):  # two late PK-range chunks
        orch.apply_snapshot_batch(
            snap.filter(F.col("cdc_dsn") % 2 == parity),
            batch_id=11 + i,
            tail_start_batch=0,
        )
    return current_state(table).select("conv_id", "turn_idx", "role", "text", "ts")


Q52_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         printf('text u%d t%d e%d', user_id, event_id % 50, event_id) AS text,
         ts,
         CAST((event_id // 7) % 2 + 1 AS INT) AS b
  FROM events),
w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, b ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev),
winners AS (SELECT * FROM w WHERE rn = 1),
lastw AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY b DESC) rb
          FROM winners),
tail_cur AS (SELECT conv_id, turn_idx, role, text, ts FROM lastw WHERE rb = 1 AND cdc_flag <> 'D'),
tail_keys AS (SELECT DISTINCT conv_id, turn_idx FROM ev),
snap AS (
  SELECT printf('conv-%06d', c_custkey % 300) AS conv_id,
         CAST(c_custkey % 50 AS INT) AS turn_idx,
         'user' AS role,
         printf('snap c%d', c_custkey) AS text,
         TIMESTAMP '2020-01-01 00:00:00' AS ts,
         c_custkey AS cdc_dsn
  FROM customer),
snapw AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY ts DESC, cdc_dsn DESC) rn
          FROM snap)
SELECT conv_id, turn_idx, role, text, ts FROM tail_cur
UNION ALL
SELECT s.conv_id, s.turn_idx, s.role, s.text, s.ts
FROM snapw s
WHERE s.rn = 1
  AND NOT EXISTS (SELECT 1 FROM tail_keys t
                  WHERE t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx)
"""


# ---------------------------------------------------------------------------
# Q53 — atomic multi-table catalog (lake/catalog.py): two transcript
# tables fed by DIFFERENT batch partitions of the same change stream,
# published batch-by-batch with ONE catalog CAS (apply_batch_atomic).
# After two published batches, a THIRD batch lands on table A's own
# VERSION but is never published — the reader resolving both tables
# THROUGH the catalog must see the batch-2-consistent pair (A's batch 3
# invisible), the exact mid-load anomaly the reference's sequential
# per-table scripts (Incremental1/*.py, report §4.3) expose. The oracle
# recomputes both tables' final states from events with batch <= 2 and
# full-outer-joins per conv: any leak of A's unpublished batch through
# the catalog pin goes hash-red.
# ---------------------------------------------------------------------------

def q53_catalog_atomic_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.lake.catalog import Catalog, apply_batch_atomic
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _derive_change_events(spark, sf_dir)
    ev_a = ev.withColumn("_b", (F.expr("cdc_dsn div 7") % 3 + 1).cast("int"))
    ev_b = ev.withColumn("_b", (F.expr("cdc_dsn div 11") % 3 + 1).cast("int"))

    cat = Catalog.create(spark, os.path.join(_scratch_dir("cdc_q53_"), "cat"))
    orchs = {
        name: CdcOrchestrator(
            cat.create_table(name, TRANSCRIPT_SCHEMA, num_buckets=16),
            buckets_per_group=16,
        )
        for name in ("transcripts", "summaries")
    }
    for b in (1, 2):
        apply_batch_atomic(
            cat,
            {
                "transcripts": (orchs["transcripts"], ev_a.filter(F.col("_b") == b).drop("_b")),
                "summaries": (orchs["summaries"], ev_b.filter(F.col("_b") == b).drop("_b")),
            },
            batch_id=b,
        )
    # Batch 3 advances table A's own VERSION but is never published to
    # the catalog — it must stay invisible to catalog-resolved reads.
    orchs["transcripts"].apply_batch(ev_a.filter(F.col("_b") == 3).drop("_b"), 3)

    def per_conv(name, prefix):
        ct = cat.refresh().table(name)
        return (
            current_state(ct.table, snapshot=ct.snapshot)
            .groupBy("conv_id")
            .agg(
                F.count("*").alias(f"{prefix}_live_turns"),
                F.max("ts").alias(f"{prefix}_last_ts"),
            )
        )

    a, b = per_conv("transcripts", "a"), per_conv("summaries", "b")
    return (
        a.join(b, "conv_id", "full_outer")
        .select(
            "conv_id", "a_live_turns", "a_last_ts", "b_live_turns", "b_last_ts"
        )
    )


Q53_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         ts,
         CAST((event_id // 7) % 3 + 1 AS INT) AS ba,
         CAST((event_id // 11) % 3 + 1 AS INT) AS bb
  FROM events),
wa AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, ba ORDER BY ts DESC, cdc_dsn DESC) rn
       FROM ev WHERE ba <= 2),
la AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY ba DESC) rb
       FROM wa WHERE rn = 1),
a AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS a_live_turns, MAX(ts) AS a_last_ts
      FROM la WHERE rb = 1 AND cdc_flag <> 'D' GROUP BY conv_id),
wb AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, bb ORDER BY ts DESC, cdc_dsn DESC) rn
       FROM ev WHERE bb <= 2),
lb AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY bb DESC) rb
       FROM wb WHERE rn = 1),
b AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS b_live_turns, MAX(ts) AS b_last_ts
      FROM lb WHERE rb = 1 AND cdc_flag <> 'D' GROUP BY conv_id)
SELECT COALESCE(a.conv_id, b.conv_id) AS conv_id,
       a_live_turns, a_last_ts, b_live_turns, b_last_ts
FROM a FULL OUTER JOIN b ON a.conv_id = b.conv_id
"""


# ---------------------------------------------------------------------------
# Q54 — keyed state reconciliation / table diff (operators/diff.py)
# ---------------------------------------------------------------------------

def q54_state_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile two replicas of the per-user LWW state that each missed
    a different slice of the binlog (event_id % 7 == 0 vs % 11 == 0
    dropped): row-level insert/delete/update classification via
    operators.diff.state_diff — one null-safe struct compare over a
    keyed full-outer join, no UDFs."""
    from tpc_di_spark.cdc.apply import lww_dedup
    from tpc_di_spark.operators.diff import state_diff

    e = _t(spark, sf_dir, "events")
    cmp_cols = ["event_id", "event_type", "value", "ts"]

    def replica(drop_mod: int) -> DataFrame:
        return lww_dedup(
            e.filter(F.col("event_id") % drop_mod != 0),
            key_cols=["user_id"],
            seq_cols=["ts", "event_id"],
        ).select("user_id", *cmp_cols)

    # user_id is non-null → plain-equality keys let the full-outer join
    # reuse each replica's LWW-aggregation partitioning (2 exchanges
    # total instead of 4; PLANS.md q54).
    return state_diff(
        replica(7),
        replica(11),
        key_cols=["user_id"],
        compare_cols=cmp_cols,
        null_safe_keys=False,
    )


Q54_SQL = """
WITH l AS (
  SELECT user_id, event_id, event_type, value, ts FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
    FROM events WHERE event_id % 7 <> 0) WHERE rn = 1
), r AS (
  SELECT user_id, event_id, event_type, value, ts FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
    FROM events WHERE event_id % 11 <> 0) WHERE rn = 1
)
SELECT coalesce(l.user_id, r.user_id) AS user_id,
       CASE WHEN l.user_id IS NULL THEN 'insert'
            WHEN r.user_id IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       l.event_id   AS left_event_id,
       l.event_type AS left_event_type,
       l.value      AS left_value,
       l.ts         AS left_ts,
       r.event_id   AS right_event_id,
       r.event_type AS right_event_type,
       r.value      AS right_value,
       r.ts         AS right_ts
FROM l FULL OUTER JOIN r ON l.user_id = r.user_id
WHERE l.user_id IS NULL OR r.user_id IS NULL
   OR l.event_id IS DISTINCT FROM r.event_id
   OR l.event_type IS DISTINCT FROM r.event_type
   OR l.value IS DISTINCT FROM r.value
   OR l.ts IS DISTINCT FROM r.ts
"""


# ---------------------------------------------------------------------------
# Q55 — changelog-driven downstream table sync (lake/derived.py): a child
# LakeTable kept row-level equal to π(σ(parent live state)) by consuming
# the parent's changelog — the "binlog out → downstream lake sink"
# fan-out (Debezium-outbox / CDF-consumer analogue; the reference has
# nothing downstream of its warehouse tables). Three CDC batches; the
# sync refreshes after batch 2 (a 2-batch range) and after batch 3
# (incremental), so the recorded state exercises range consumption,
# delete propagation, and filter drop-out (an update can flip a turn's
# role INTO 'tool', moving it out of the replica's predicate). The
# oracle recomputes σ/π over the LWW final state from scratch.
# ---------------------------------------------------------------------------

def q55_derived_table_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.lake.derived import DerivedTableSync
    from tpc_di_spark.schemas import LINEAGE_FIELDS, TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _derive_change_events(spark, sf_dir).withColumn(
        "_b", (F.expr("cdc_dsn div 7") % 3 + 1).cast("int")
    )
    table_dir = _scratch_dir("cdc_q55_")
    parent = bootstrap_table(
        spark, os.path.join(table_dir, "parent"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    child_schema = StructType(
        [
            StructField("conv_id", StringType(), False),
            StructField("turn_idx", IntegerType(), False),
            StructField("role", StringType(), True),
            StructField("n_chars", LongType(), True),
            StructField("ts", TimestampType(), True),
        ]
        + LINEAGE_FIELDS
    )
    child = bootstrap_table(
        spark, os.path.join(table_dir, "child"), child_schema, num_buckets=16
    )
    orch = CdcOrchestrator(parent, buckets_per_group=16)
    sync = DerivedTableSync(
        parent,
        child,
        os.path.join(table_dir, "sync"),
        filter_expr="role <> 'tool'",
        select_exprs={"role": "role", "n_chars": "cast(length(text) as bigint)"},
    )
    batch = lambda b: ev.filter(F.col("_b") == b).drop("_b")  # noqa: E731
    orch.apply_batch(batch(1), batch_id=1)
    orch.apply_batch(batch(2), batch_id=2)
    sync.refresh()  # consumes the (0, 2] range in one pass
    orch.apply_batch(batch(3), batch_id=3)
    sync.refresh()  # incremental tail
    return current_state(child)


Q55_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         printf('text u%d t%d e%d', user_id, event_id % 50, event_id) AS text,
         ts,
         CAST((event_id // 7) % 3 + 1 AS INT) AS b
  FROM events),
w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, b ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev),
winners AS (SELECT conv_id, turn_idx, b, cdc_flag, role, text, ts FROM w WHERE rn = 1),
seq AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY b DESC) AS rdesc
        FROM winners)
SELECT conv_id, turn_idx, role,
       CAST(length(text) AS BIGINT) AS n_chars, ts
FROM seq
WHERE rdesc = 1 AND cdc_flag <> 'D' AND role <> 'tool'
"""


# ---------------------------------------------------------------------------
# Q56 — the TPC-DI end-to-end capstone: a MULTI-TABLE replay composing the
# engine's pieces the way the reference's Step Functions chain composes
# its per-table scripts (report §4.2-4.3) — historical load, then two
# incremental CDC batches with SCD2 versioning on the dimension, SK
# CASCADE RE-POINTING onto the fact (`plans.reference_pipelines.
# sk_cascade_repoint`, the reference's IncrementalCustomer.py:699-807
# update cascade), every batch published ATOMICALLY across both tables
# through `lake.catalog.apply_batch_atomic_wap` with a cross-table
# FOREIGN-KEY audit gating visibility (the reference's post-load FK audit,
# report §5.1.1, moved BEFORE publish). The oracle recomputes the final
# two-table state from `customer`/`orders` in DuckDB:
#   dim_customer: all customers at batch 1 (SK = ck*10+1); custkey%10==0
#     updated in batch 2 (SK ck*10+2, acctbal+100); custkey%15==0 updated
#     in batch 3 (SK ck*10+3, segment 'VIP', acctbal NULL -> retained —
#     the UPDACCT NULL-field-retention rule, SURVEY P7);
#   fact_orders: all orders at batch 1 pointing at the batch-1 SKs; each
#     dim update batch cascades new SKs onto that customer's live orders;
#     batch 3 deletes orders with o_orderkey%17==0.
# Any failure — a missed cascade, a wrong SCD2 close, a leaked unpublished
# batch, an FK orphan — shows up as a row/hash mismatch.
# ---------------------------------------------------------------------------

def q56_tpcdi_multitable_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.apply import current_state
    from tpc_di_spark.lake.catalog import Catalog, apply_batch_atomic_wap
    from tpc_di_spark.lake.wap import unique_business_key
    from tpc_di_spark.plans.reference_pipelines import sk_cascade_repoint
    from tpc_di_spark.schemas import LINEAGE_FIELDS

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_of = lambda b: F.to_timestamp(F.lit(f"2024-01-0{b} 00:00:00"))  # noqa: E731

    dim_schema = StructType(
        [
            StructField("customer_id", LongType(), False),
            StructField("customer_sk", LongType(), True),
            StructField("mktsegment", StringType(), True),
            StructField("acctbal", DoubleType(), True),
            StructField("ts", TimestampType(), True),
        ]
        + LINEAGE_FIELDS
    )
    fact_schema = StructType(
        [
            StructField("order_id", LongType(), False),
            StructField("customer_id", LongType(), True),
            StructField("customer_sk", LongType(), True),
            StructField("total", DoubleType(), True),
            StructField("ts", TimestampType(), True),
        ]
        + LINEAGE_FIELDS
    )
    cat = Catalog.create(spark, os.path.join(_scratch_dir("cdc_q56_"), "cat"))
    dim_t = cat.create_table("dim_customer", dim_schema, num_buckets=8,
                             key_cols=("customer_id",))
    fact_t = cat.create_table("fact_orders", fact_schema, num_buckets=8,
                              key_cols=("order_id",))
    dim_o = CdcOrchestrator(dim_t, buckets_per_group=8)
    fact_o = CdcOrchestrator(fact_t, buckets_per_group=8)

    def fk_fact_to_staged_dim(bid: int):
        """Cross-table FK audit: every live fact customer_sk must exist in
        the dimension's STAGED state for this batch (both tables stage on
        `xt-batch-<bid>` branches inside apply_batch_atomic_wap; the dim's
        check-time handle resumes that branch at its staged head)."""

        def check(wap):
            from tpc_di_spark.lake.wap import WapBranch

            staged_dim = WapBranch.begin(dim_t, f"xt-batch-{bid:06d}").staged
            parent = (
                staged_dim.read(family="current")
                .filter(F.col("is_current"))
                .select("customer_sk")
                .distinct()
            )
            child = (
                wap.staged.read(family="current")
                .filter(F.col("is_current"))
                .select("customer_sk")
                .na.drop()
            )
            orphans = child.join(parent, "customer_sk", "left_anti").count()
            return {"check": "fk_customer_sk", "ok": orphans == 0,
                    "orphan_rows": orphans}

        return check

    def publish(bid: int, dim_ev, fact_ev):
        apply_batch_atomic_wap(
            cat,
            {"dim_customer": (dim_o, dim_ev), "fact_orders": (fact_o, fact_ev)},
            batch_id=bid,
            audit_checks={
                "dim_customer": [unique_business_key()],
                "fact_orders": [unique_business_key(), fk_fact_to_staged_dim(bid)],
            },
        )

    def cascade(dim_updates, bid: int, exclude_deleted: bool = False):
        """Re-point live fact rows whose customer minted a new SK — ONE
        broadcast join against the dim-delta-sized remap (the reference
        runs one UPDATE per row per table)."""
        remap = (
            dim_updates.select("customer_id", F.col("customer_sk").alias("new_sk"))
            .join(
                current_state(dim_t).select(
                    "customer_id", F.col("customer_sk").alias("old_sk")
                ),
                "customer_id",
            )
            .select("old_sk", "new_sk")
            .withColumn("hit", F.lit(True))
        )
        facts = current_state(fact_t).withColumn("_hit", F.lit(False))
        rep = sk_cascade_repoint(
            remap,
            {"fact_orders": {"df": facts, "sk_col": "customer_sk",
                             "set": {"_hit": "hit"}}},
        )["fact_orders"]
        changed = rep.filter(F.col("_hit")).drop("_hit")
        if exclude_deleted:
            changed = changed.filter(F.col("order_id") % 17 != 0)
        return changed.select(
            F.lit("U").alias("cdc_flag"),
            (F.lit(bid) * 10_000_000 + F.col("order_id")).cast("long").alias("cdc_dsn"),
            "order_id", "customer_id", "customer_sk", "total",
            ts_of(bid).alias("ts"),
        )

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    ck = F.col("c_custkey").cast("long")

    # Batch 1 — historical load (SURVEY S7): every customer + every order.
    dim1 = c.select(
        F.lit("I").alias("cdc_flag"), ck.alias("cdc_dsn"),
        ck.alias("customer_id"), (ck * 10 + 1).alias("customer_sk"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
        ts_of(1).alias("ts"),
    )
    fact1 = o.select(
        F.lit("I").alias("cdc_flag"), F.col("o_orderkey").cast("long").alias("cdc_dsn"),
        F.col("o_orderkey").cast("long").alias("order_id"),
        F.col("o_custkey").cast("long").alias("customer_id"),
        (F.col("o_custkey").cast("long") * 10 + 1).alias("customer_sk"),
        F.col("o_totalprice").cast("double").alias("total"),
        ts_of(1).alias("ts"),
    )
    publish(1, dim1, fact1)

    # Batch 2 — SCD2 updates for custkey%10==0 (new SK, acctbal+100) and
    # the SK cascade onto their live orders, one atomic publish.
    dim2 = c.filter(ck % 10 == 0).select(
        F.lit("U").alias("cdc_flag"), (F.lit(2_000_000) + ck).alias("cdc_dsn"),
        ck.alias("customer_id"), (ck * 10 + 2).alias("customer_sk"),
        F.col("c_mktsegment").alias("mktsegment"),
        (F.col("c_acctbal").cast("double") + 100.0).alias("acctbal"),
        ts_of(2).alias("ts"),
    )
    publish(2, dim2, cascade(dim2, 2))

    # Batch 3 — updates for custkey%15==0 (segment 'VIP', acctbal NULL ->
    # retained), the cascade for their surviving orders, and deletes of
    # o_orderkey%17==0 — one atomic publish, FK-gated.
    dim3 = c.filter(ck % 15 == 0).select(
        F.lit("U").alias("cdc_flag"), (F.lit(3_000_000) + ck).alias("cdc_dsn"),
        ck.alias("customer_id"), (ck * 10 + 3).alias("customer_sk"),
        F.lit("VIP").alias("mktsegment"),
        F.lit(None).cast("double").alias("acctbal"),
        ts_of(3).alias("ts"),
    )
    deletes = current_state(fact_t).filter(F.col("order_id") % 17 == 0).select(
        F.lit("D").alias("cdc_flag"),
        (F.lit(35_000_000) + F.col("order_id")).cast("long").alias("cdc_dsn"),
        "order_id", ts_of(3).alias("ts"),
    )
    fact3 = cascade(dim3, 3, exclude_deleted=True).unionByName(
        deletes, allowMissingColumns=True
    )
    publish(3, dim3, fact3)

    # Final multi-table state, joined THROUGH the surrogate key (a missed
    # cascade drops the row from the join) + per-customer SCD2 version
    # counts from the dimension's full (current ∪ history) lineage.
    versions = (
        dim_t.read(family="all")
        .groupBy("customer_id")
        .agg(F.count("*").alias("dim_versions"))
    )
    dim_cur = current_state(dim_t).select(
        "customer_sk", "customer_id", "mktsegment", "acctbal"
    ).join(versions, "customer_id")
    return (
        current_state(fact_t)
        .select("order_id", "customer_sk", "total")
        .join(dim_cur, "customer_sk")
        .select("order_id", "customer_id", "customer_sk", "total",
                "mktsegment", "acctbal", "dim_versions")
    )


Q56_SQL = """
WITH dimf AS (
  SELECT c_custkey AS customer_id,
         CASE WHEN c_custkey % 15 = 0 THEN c_custkey*10+3
              WHEN c_custkey % 10 = 0 THEN c_custkey*10+2
              ELSE c_custkey*10+1 END AS customer_sk,
         CASE WHEN c_custkey % 15 = 0 THEN 'VIP' ELSE c_mktsegment END AS mktsegment,
         CAST(c_acctbal AS DOUBLE)
           + CASE WHEN c_custkey % 10 = 0 THEN 100.0 ELSE 0.0 END AS acctbal,
         CAST(1 + CAST(c_custkey % 10 = 0 AS INT)
                + CAST(c_custkey % 15 = 0 AS INT) AS BIGINT) AS dim_versions
  FROM customer)
SELECT o.o_orderkey AS order_id,
       d.customer_id,
       d.customer_sk,
       CAST(o.o_totalprice AS DOUBLE) AS total,
       d.mktsegment,
       d.acctbal,
       d.dim_versions
FROM orders o
JOIN dimf d ON o.o_custkey = d.customer_id
WHERE o.o_orderkey % 17 <> 0
"""


# ---------------------------------------------------------------------------
# Q57 — ANN index freshness under CDC (lake/ivf_sync.IvfIndexSync): an IVF
# cell-assignment index maintained from an embedding table's changelog.
# Three CDC batches over `embeddings` (insert all; negate %7 vectors;
# delete %11 + re-embed %13 as 0.5-x of the original); the sync consumes
# batch ranges (1-2 in one refresh, 3 incrementally), assigning ONLY the
# changed vectors per refresh (O(changed) distance work — pytest-asserted)
# and tracking reassignment drift. The oracle recomputes the FINAL index
# from scratch in DuckDB: the surviving vectors' exact-DECIMAL nearest
# centroid over the same inline centroid literals (q41's assignment SQL).
# Any staleness — a missed re-assignment, an undeleted key, a wrong cell —
# is a row/hash mismatch.
# ---------------------------------------------------------------------------

_IVF_SYNC_NLIST = 8
_IVF_SYNC_DIM = 64


def q57_ivf_index_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.lake.ivf_sync import IvfIndexSync
    from tpc_di_spark.lake.table import LakeTable
    from tpc_di_spark.operators.ivf import pseudo_centroids
    from tpc_di_spark.schemas import LINEAGE_FIELDS

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_of = lambda b: F.to_timestamp(F.lit(f"2024-01-0{b} 00:00:00"))  # noqa: E731
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    vid = F.col("vec_id")

    b1 = e.select(
        F.lit("I").alias("cdc_flag"), vid.alias("cdc_dsn"),
        "vec_id", "embedding", ts_of(1).alias("ts"),
    )
    b2 = e.filter(vid % 7 == 0).select(
        F.lit("U").alias("cdc_flag"), (F.lit(1_000_000) + vid).alias("cdc_dsn"),
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
        ts_of(2).alias("ts"),
    )
    upd3 = e.filter((vid % 13 == 0) & (vid % 11 != 0)).select(
        F.lit("U").alias("cdc_flag"), (F.lit(3_000_000) + vid).alias("cdc_dsn"),
        "vec_id",
        F.transform("embedding", lambda x: F.lit(0.5) - x).alias("embedding"),
        ts_of(3).alias("ts"),
    )
    del3 = e.filter(vid % 11 == 0).select(
        F.lit("D").alias("cdc_flag"), (F.lit(2_000_000) + vid).alias("cdc_dsn"),
        "vec_id", ts_of(3).alias("ts"),
    )
    b3 = upd3.unionByName(del3, allowMissingColumns=True)

    d = _scratch_dir("cdc_q57_")
    parent = LakeTable.create(
        spark, os.path.join(d, "emb"),
        StructType(
            [
                StructField("vec_id", LongType(), False),
                StructField("embedding", ArrayType(DoubleType()), True),
                StructField("ts", TimestampType(), True),
            ]
            + LINEAGE_FIELDS
        ),
        num_buckets=8, key_cols=("vec_id",),
    )
    index = LakeTable.create(
        spark, os.path.join(d, "ivf"),
        StructType(
            [
                StructField("vec_id", LongType(), False),
                StructField("centroid_id", IntegerType(), True),
                StructField("ts", TimestampType(), True),
            ]
            + LINEAGE_FIELDS
        ),
        num_buckets=8, key_cols=("vec_id",),
    )
    orch = CdcOrchestrator(parent, buckets_per_group=8)
    sync = IvfIndexSync(
        parent, index, os.path.join(d, "sync"),
        centroids=pseudo_centroids(_IVF_SYNC_NLIST, _IVF_SYNC_DIM),
    )
    orch.apply_batch(b1, batch_id=1)
    orch.apply_batch(b2, batch_id=2)
    sync.refresh()  # consumes the (0, 2] range in one pass
    orch.apply_batch(b3, batch_id=3)
    sync.refresh()  # incremental tail: %11 deletes, %13 re-embeds
    return (
        index.refresh()
        .read(family="current")
        .filter(F.col("is_current"))
        .select("vec_id", "centroid_id")
    )


def _q57_sql() -> str:
    from tpc_di_spark.operators.ivf import pseudo_centroids

    cents = pseudo_centroids(_IVF_SYNC_NLIST, _IVF_SYNC_DIM)
    values = ", ".join(
        "({}, [{}])".format(i, ", ".join(repr(x) for x in c))
        for i, c in enumerate(cents)
    )
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
  FROM embeddings),
final AS (
  SELECT vec_id,
         CASE WHEN vec_id % 13 = 0 AND vec_id % 11 <> 0
                THEN list_transform(v0, x -> 0.5 - x)
              WHEN vec_id % 7 = 0 THEN list_transform(v0, x -> -x)
              ELSE v0 END AS v
  FROM base
  WHERE vec_id % 11 <> 0),
cents(cid, c) AS (VALUES {values}),
dists AS (
  SELECT f.vec_id, cents.cid,
         list_sum(list_transform(list_zip(f.v, cents.c),
              s -> CAST((CAST(struct_extract(s, 1) AS DECIMAL(8,6)) - CAST(struct_extract(s, 2) AS DECIMAL(8,6)))
                        * (CAST(struct_extract(s, 1) AS DECIMAL(8,6)) - CAST(struct_extract(s, 2) AS DECIMAL(8,6))) AS DECIMAL(38,12)))) AS d
  FROM final f CROSS JOIN cents),
ranked AS (
  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rnk
  FROM dists)
SELECT vec_id, CAST(cid AS INT) AS centroid_id
FROM ranked WHERE rnk = 1
"""


Q57_SQL = _q57_sql()


# ---------------------------------------------------------------------------
# Q58 — the EXTENDED incremental-view algebra (lake/incremental_view.py):
# avg_live (invertible Σ/count pair), last_by_ts (deterministic arg-max
# by (ts, batch, value)), and the NON-invertible live extremes max_live/
# min_live maintained via recompute-on-retraction (a delete that takes
# out the extreme rewinds it — the case monotone max_created cannot
# express). Same engine-integration replay as q50: CoW batch → refresh,
# MoR batch → refresh holds below the horizon, compaction → catch-up,
# CoW batch → full-table compaction erases closing tags → refresh reads
# the closes from the committing snapshot. The oracle recomputes every aggregate
# from the full lineage in DuckDB.
# ---------------------------------------------------------------------------

def q58_incremental_view_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.mor import apply_batch_mor, compact_deltas
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.lake.incremental_view import IncrementalView
    from tpc_di_spark.lake.maintenance import compact
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _derive_change_events(spark, sf_dir).withColumn(
        "_b", (F.expr("cdc_dsn div 7") % 3 + 1).cast("int")
    )
    table_dir = _scratch_dir("cdc_q58_")
    table = bootstrap_table(
        spark, os.path.join(table_dir, "transcripts"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    orch = CdcOrchestrator(table, buckets_per_group=16)
    view = IncrementalView(
        table,
        os.path.join(table_dir, "view"),
        key_cols=["role"],
        aggs=[
            ("count_live", None, "live_turns"),
            ("avg_live", "cast(length(text) as bigint)", "avg_chars"),
            ("last_by_ts", "text", "last_text"),
            ("max_live", "cast(length(text) as bigint)", "max_chars"),
            ("min_live", "cast(length(text) as bigint)", "min_chars"),
        ],
    )
    batch = lambda b: ev.filter(F.col("_b") == b).drop("_b")  # noqa: E731
    orch.apply_batch(batch(1), batch_id=1)
    view.refresh()  # CoW consumption
    apply_batch_mor(orch, batch(2), batch_id=2)
    view.refresh()  # holds below the pending MoR delta (horizon)
    compact_deltas(orch)
    view.refresh()  # catches up through the materialized batch 2
    orch.apply_batch(batch(3), batch_id=3)
    compact(table, max_files_per_bucket=0)  # erases closing tags
    view.refresh()  # committing-snapshot closes + retraction repair
    return view.state()


Q58_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         printf('text u%d t%d e%d', user_id, event_id % 50, event_id) AS text,
         ts,
         CAST((event_id // 7) % 3 + 1 AS INT) AS b
  FROM events),
w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, b ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev),
winners AS (SELECT conv_id, turn_idx, b, cdc_flag, role, text, ts FROM w WHERE rn = 1),
seq AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY b DESC) AS rdesc
        FROM winners),
created AS (SELECT * FROM seq WHERE cdc_flag <> 'D'),
live AS (SELECT * FROM created WHERE rdesc = 1),
liveagg AS (
  SELECT role,
         CAST(COUNT(*) AS BIGINT) AS live_turns,
         AVG(CAST(length(text) AS BIGINT)) AS avg_chars,
         CAST(MAX(length(text)) AS BIGINT) AS max_chars,
         CAST(MIN(length(text)) AS BIGINT) AS min_chars
  FROM live GROUP BY role),
lastv AS (
  SELECT role, text AS last_text FROM (
    SELECT role, text,
           row_number() OVER (PARTITION BY role ORDER BY ts DESC, b DESC, text DESC) AS rn
    FROM created) WHERE rn = 1),
membership AS (SELECT DISTINCT role FROM created)
SELECT m.role,
       CAST(COALESCE(l.live_turns, 0) AS BIGINT) AS live_turns,
       l.avg_chars,
       lv.last_text,
       l.max_chars,
       l.min_chars
FROM membership m
LEFT JOIN liveagg l USING (role)
LEFT JOIN lastv lv USING (role)
"""


# ---------------------------------------------------------------------------
# Q59 — Bloom-indexed secondary lookup (lake/bloom.py + LakeTable.
# lookup_by): full-key bucketing spreads a conversation's turns across
# every bucket (the salting that makes hot conversations scale), so a
# conv_id-only probe cannot bucket-prune; the per-file Bloom sidecars
# built at commit time prune the file set instead. Two-batch replay on an
# indexed table (the second commit replaces files, exercising sidecar
# carry-forward + rebuild), then a mixed present/absent probe list. The
# oracle recomputes the serial-replay live state filtered to the probed
# conversations — any filter false-negative (a wrongly pruned file) drops
# rows and goes hash-red.
# ---------------------------------------------------------------------------

_Q59_PROBE = ["conv-000007", "conv-000123", "conv-000321", "conv-777777"]


def q59_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _derive_change_events(spark, sf_dir).withColumn(
        "_b", (F.expr("cdc_dsn div 7") % 2 + 1).cast("int")
    )
    table_dir = _scratch_dir("cdc_q59_")
    table = bootstrap_table(
        spark,
        os.path.join(table_dir, "transcripts"),
        TRANSCRIPT_SCHEMA,
        num_buckets=16,
        properties={"index.bloom.column": "conv_id"},
    )
    orch = CdcOrchestrator(table, buckets_per_group=16)
    for b in (1, 2):
        orch.apply_batch(ev.filter(F.col("_b") == b).drop("_b"), batch_id=b)
    return table.lookup_by("conv_id", _Q59_PROBE).select(
        "conv_id", "turn_idx", "role", "text", "ts"
    )


_Q59_IN = ", ".join(f"'{c}'" for c in _Q59_PROBE)

Q59_SQL = f"""
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         printf('text u%d t%d e%d', user_id, event_id % 50, event_id) AS text,
         ts,
         CAST((event_id // 7) % 2 + 1 AS INT) AS b
  FROM events),
w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, b ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev),
winners AS (SELECT * FROM w WHERE rn = 1),
lastb AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY b DESC) rb
          FROM winners)
SELECT conv_id, turn_idx, role, text, ts
FROM lastb
WHERE rb = 1 AND cdc_flag <> 'D' AND conv_id IN ({_Q59_IN})
"""


# ---------------------------------------------------------------------------
# Q60 — out-of-order tail repair (CdcOrchestrator.apply_late_batch): a
# MISSED batch redelivered after higher-numbered batches committed. The
# three-way split of the event stream applies as 1, 3, then late-2; the
# supersession anti-join (keys changed by batches > 2 drop — created OR
# closed, tombstones included — the rest merge normally) must make the
# final current state identical to serial 1,2,3 replay. The oracle IS the
# serial replay: per-(key, batch) LWW winner, then the highest batch per
# key wins, deletes excluded. Any clobber of a batch-3 row or
# resurrection of a batch-3 delete by the late batch goes hash-red.
# ---------------------------------------------------------------------------

def q60_late_batch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _derive_change_events(spark, sf_dir).withColumn(
        "_b", (F.expr("cdc_dsn div 7") % 3 + 1).cast("int")
    )
    table_dir = _scratch_dir("cdc_q60_")
    table = bootstrap_table(
        spark, os.path.join(table_dir, "transcripts"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    orch = CdcOrchestrator(table, buckets_per_group=16)
    batch = lambda b: ev.filter(F.col("_b") == b).drop("_b")  # noqa: E731
    orch.apply_batch(batch(1), batch_id=1)
    orch.apply_batch(batch(3), batch_id=3)  # batch 2 went missing
    orch.apply_late_batch(batch(2), batch_id=2)
    return current_state(table).select("conv_id", "turn_idx", "role", "text", "ts")


Q60_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         printf('text u%d t%d e%d', user_id, event_id % 50, event_id) AS text,
         ts,
         CAST((event_id // 7) % 3 + 1 AS INT) AS b
  FROM events),
w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, b ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev),
winners AS (SELECT * FROM w WHERE rn = 1),
lastb AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY b DESC) rb
          FROM winners)
SELECT conv_id, turn_idx, role, text, ts
FROM lastb
WHERE rb = 1 AND cdc_flag <> 'D'
"""


# ---------------------------------------------------------------------------
# Q61 — FULL SCD2 LINEAGE equality: every other engine-replay query
# checks the LIVE state; this one hash-checks the complete version
# chains the expire-and-insert merge wrote — effective_ts / end_ts /
# is_current / creating batch per version (tombstones excluded via their
# negative-batch marker). The oracle reconstructs the chains in SQL:
# per-(key, batch) LWW winners ordered by batch; each non-delete winner
# is a version whose end_ts is the NEXT winner's ts (delete or not) and
# is_current iff no later winner exists. A merge that closed the wrong
# version, stamped the wrong boundary ts, or resurrected a delete goes
# hash-red here even if the live state happens to match.
# ---------------------------------------------------------------------------

def q61_scd2_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _derive_change_events(spark, sf_dir).withColumn(
        "_b", (F.expr("cdc_dsn div 7") % 2 + 1).cast("int")
    )
    table_dir = _scratch_dir("cdc_q61_")
    table = bootstrap_table(
        spark, os.path.join(table_dir, "transcripts"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    orch = CdcOrchestrator(table, buckets_per_group=16)
    for b in (1, 2):
        orch.apply_batch(ev.filter(F.col("_b") == b).drop("_b"), batch_id=b)
    return (
        table.read()
        .filter(F.col("batch_id") > 0)  # tombstones are not versions
        .select(
            "conv_id",
            "turn_idx",
            "role",
            "text",
            "is_current",
            "effective_ts",
            "end_ts",
            F.col("batch_id").cast("int").alias("batch_id"),
        )
    )


Q61_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         printf('text u%d t%d e%d', user_id, event_id % 50, event_id) AS text,
         ts,
         CAST((event_id // 7) % 2 + 1 AS INT) AS b
  FROM events),
w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, b ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev),
winners AS (SELECT conv_id, turn_idx, b, cdc_flag, role, text, ts FROM w WHERE rn = 1),
seq AS (SELECT *,
               lead(ts) OVER (PARTITION BY conv_id, turn_idx ORDER BY b) AS next_ts,
               lead(b)  OVER (PARTITION BY conv_id, turn_idx ORDER BY b) AS next_b
        FROM winners)
SELECT conv_id, turn_idx, role, text,
       (next_b IS NULL) AS is_current,
       ts AS effective_ts,
       COALESCE(next_ts, TIMESTAMP '9999-12-31 00:00:00') AS end_ts,
       b AS batch_id
FROM seq
WHERE cdc_flag <> 'D'
"""


# ---------------------------------------------------------------------------
# Q62 — AS-OF-TIMESTAMP time travel (LakeTable.snapshot_as_of): replay
# two batches capturing a wall-clock instant between the commits, then
# read AS OF that instant — the result must be exactly the batch-1-only
# live state (the oracle recomputes it from the batch-1 event slice).
# The wall clock is runtime-captured but the RESOLVED state is fully
# deterministic, so the hash compare is stable.
# ---------------------------------------------------------------------------

def q62_asof_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time as _time

    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _derive_change_events(spark, sf_dir).withColumn(
        "_b", (F.expr("cdc_dsn div 7") % 2 + 1).cast("int")
    )
    table_dir = _scratch_dir("cdc_q62_")
    table = bootstrap_table(
        spark, os.path.join(table_dir, "transcripts"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    orch = CdcOrchestrator(table, buckets_per_group=16)
    orch.apply_batch(ev.filter(F.col("_b") == 1).drop("_b"), batch_id=1)
    between = _time.time()
    _time.sleep(0.05)  # commit stamps are wall-clock: separate them
    orch.apply_batch(ev.filter(F.col("_b") == 2).drop("_b"), batch_id=2)
    snap = table.snapshot_as_of(between)
    return (
        table.read(snapshot=snap, family="current")
        .filter(F.col("is_current"))
        .select("conv_id", "turn_idx", "role", "text", "ts")
    )


Q62_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         printf('text u%d t%d e%d', user_id, event_id % 50, event_id) AS text,
         ts
  FROM events
  WHERE CAST((event_id // 7) % 2 + 1 AS INT) = 1),
r AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev)
SELECT conv_id, turn_idx, role, text, ts FROM r WHERE rn = 1 AND cdc_flag <> 'D'
"""


# ---------------------------------------------------------------------------
# Q63 — turn-ordered conversation export (functions/transcripts.py): the
# transcripts lake's canonical serving op — reassemble each
# conversation's live turns into ONE training document (stable turn
# order, the north rule's observable invariant). LWW live state derived
# DataFrame-side (operator query, like q19), then collect_list →
# array_sort → transform → array_join, all JVM. Oracle: DuckDB
# string_agg ORDER BY turn_idx over the same live state.
# ---------------------------------------------------------------------------

def q63_conversation_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tpc_di_spark.functions.transcripts import assemble_conversations

    # ONE exchange serves both stages: HashPartitioning(conv_id)
    # satisfies the LWW window's ClusteredDistribution(conv_id, turn_idx)
    # (partition keys ⊆ clustering keys) AND the assembly groupBy — the
    # same trick the CDC merge uses (bucket_partitioned before lww_dedup).
    ev = _derive_change_events(spark, sf_dir).repartition("conv_id")
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("ts").desc(), F.col("cdc_dsn").desc()
    )
    live = (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("cdc_flag") != "D"))
        .drop("_rn")
    )
    return assemble_conversations(live)


Q63_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         printf('text u%d t%d e%d', user_id, event_id % 50, event_id) AS text,
         ts
  FROM events),
r AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev),
live AS (SELECT * FROM r WHERE rn = 1 AND cdc_flag <> 'D'),
doc AS (
  SELECT conv_id,
         string_agg(printf('<%s> %s', role, coalesce(text, '')), chr(10) ORDER BY turn_idx) AS document,
         CAST(COUNT(*) AS INT) AS n_turns
  FROM live GROUP BY conv_id)
SELECT conv_id, document, n_turns, CAST(length(document) AS INT) AS n_chars FROM doc
"""


# ---------------------------------------------------------------------------
# Q64 — snapshot ROLLBACK round-trip (LakeTable.rollback_to): apply
# batch 1, publish a POISONED batch 2, roll back to the pre-poison
# snapshot (freeing the batch id), then apply the CORRECT batch 2. The
# oracle is the plain serial LWW of batches 1+2 — the poisoned interlude
# must leave ZERO trace in the final live state (wrong text, resurrected
# keys, or a stale surviving version all go hash-red).
# ---------------------------------------------------------------------------

def q64_rollback_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _derive_change_events(spark, sf_dir).withColumn(
        "_b", (F.expr("cdc_dsn div 7") % 2 + 1).cast("int")
    )
    table_dir = _scratch_dir("cdc_q64_")
    table = bootstrap_table(
        spark, os.path.join(table_dir, "transcripts"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    orch = CdcOrchestrator(table, buckets_per_group=16)
    batch = lambda b: ev.filter(F.col("_b") == b).drop("_b")  # noqa: E731
    orch.apply_batch(batch(1), batch_id=1)
    good_sid = table.snapshot.snapshot_id
    poisoned = batch(2).withColumn("text", F.lit("POISONED"))
    orch.apply_batch(poisoned, batch_id=2)
    table.rollback_to(good_sid)
    orch.apply_batch(batch(2), batch_id=2)  # the freed id, corrected
    return current_state(table).select("conv_id", "turn_idx", "role", "text", "ts")


Q64_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 20 = 0 THEN 'D'
              WHEN event_id % 3 = 0 THEN 'U' ELSE 'I' END AS cdc_flag,
         event_id AS cdc_dsn,
         printf('conv-%06d', user_id) AS conv_id,
         CAST(event_id % 50 AS INT) AS turn_idx,
         CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         printf('text u%d t%d e%d', user_id, event_id % 50, event_id) AS text,
         ts,
         CAST((event_id // 7) % 2 + 1 AS INT) AS b
  FROM events),
w AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, b ORDER BY ts DESC, cdc_dsn DESC) rn
      FROM ev),
winners AS (SELECT * FROM w WHERE rn = 1),
lastb AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY b DESC) rb
          FROM winners)
SELECT conv_id, turn_idx, role, text, ts
FROM lastb
WHERE rb = 1 AND cdc_flag <> 'D'
"""


# The oracle side runs against the fixed sf0.01 sidecars; regenerate them
# eagerly at import so Spark/DuckDB can execute in either order.
try:
    make_sidecars(_SIDECAR_SF_DIR)
    from tpc_di_spark.sources.sidecar_fixtures import make_debezium_sidecar

    make_debezium_sidecar(_SIDECAR_SF_DIR)
except Exception:  # testdata absent in some environments — queries regenerate
    pass


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_latest_order_per_customer": q02_latest_order_per_customer,
    "q03_lww_latest_event": q03_lww_latest_event,
    "q04_running_balance": q04_running_balance,
    "q05_trailing_high": q05_trailing_high,
    "q06_asof_join": q06_asof_join,
    "q07_star_join_revenue": q07_star_join_revenue,
    "q08_disjunctive_join": q08_disjunctive_join,
    "q09_existence_flag": q09_existence_flag,
    "q10_customers_without_orders": q10_customers_without_orders,
    "q11_customers_with_urgent_orders": q11_customers_with_urgent_orders,
    "q12_nameplate": q12_nameplate,
    "q13_scd2_from_log": q13_scd2_from_log,
    "q14_change_detect": q14_change_detect,
    "q15_clean_project": q15_clean_project,
    "q16_token_stats": q16_token_stats,
    "q17_lang_guess": q17_lang_guess,
    "q18_cdc_replay_final_state": q18_cdc_replay_final_state,
    "q19_exact_dedup": q19_exact_dedup,
    "q20_quality_score": q20_quality_score,
    "q21_trailing_sum_ratio": q21_trailing_sum_ratio,
    "q22_cosine_topk": q22_cosine_topk,
    "q23_ngram_jaccard": q23_ngram_jaccard,
    "q24_minhash_lsh": q24_minhash_lsh,
    "q25_simhash": q25_simhash,
    "q26_lsh_topk": q26_lsh_topk,
    "q27_scalar_functions": q27_scalar_functions,
    "q28_sk_repoint": q28_sk_repoint,
    "q29_mor_live_state": q29_mor_live_state,
    "q30_salted_agg": q30_salted_agg,
    "q31_minhash_lsh_portable": q31_minhash_lsh_portable,
    "q32_sessionize": q32_sessionize,
    "q33_fact_watches": q33_fact_watches,
    "q34_simhash_neardups": q34_simhash_neardups,
    "q35_asof_left": q35_asof_left,
    "q36_asof_grouped": q36_asof_grouped,
    "q37_dim_broker": q37_dim_broker,
    "q38_fact_holdings": q38_fact_holdings,
    "q39_fact_market_history": q39_fact_market_history,
    "q40_dimessages": q40_dimessages,
    "q41_ivf_topk": q41_ivf_topk,
    "q42_multimodal_features": q42_multimodal_features,
    "q43_embedding_neardups": q43_embedding_neardups,
    "q44_pipe_scan": q44_pipe_scan,
    "q45_fixed_width": q45_fixed_width,
    "q46_csv_header_scan": q46_csv_header_scan,
    "q47_changelog": q47_changelog,
    "q48_dedup_clusters": q48_dedup_clusters,
    "q49_incremental_conv_stats": q49_incremental_conv_stats,
    "q50_incremental_role_view": q50_incremental_role_view,
    "q51_debezium_scan": q51_debezium_scan,
    "q52_snapshot_handover": q52_snapshot_handover,
    "q53_catalog_atomic_join": q53_catalog_atomic_join,
    "q54_state_reconcile": q54_state_reconcile,
    "q55_derived_table_sync": q55_derived_table_sync,
    "q56_tpcdi_multitable_replay": q56_tpcdi_multitable_replay,
    "q57_ivf_index_sync": q57_ivf_index_sync,
    "q58_incremental_view_extended": q58_incremental_view_extended,
    "q59_bloom_lookup": q59_bloom_lookup,
    "q60_late_batch_replay": q60_late_batch_replay,
    "q61_scd2_lineage": q61_scd2_lineage,
    "q62_asof_travel": q62_asof_travel,
    "q63_conversation_export": q63_conversation_export,
    "q64_rollback_replay": q64_rollback_replay,
}

_ORACLES: dict[str, str] = {
    "q01_pricing_summary": Q01_SQL,
    "q02_latest_order_per_customer": Q02_SQL,
    "q03_lww_latest_event": Q03_SQL,
    "q04_running_balance": Q04_SQL,
    "q05_trailing_high": Q05_SQL,
    "q06_asof_join": Q06_SQL,
    "q07_star_join_revenue": Q07_SQL,
    "q08_disjunctive_join": Q08_SQL,
    "q09_existence_flag": Q09_SQL,
    "q10_customers_without_orders": Q10_SQL,
    "q11_customers_with_urgent_orders": Q11_SQL,
    "q12_nameplate": Q12_SQL,
    "q13_scd2_from_log": Q13_SQL,
    "q14_change_detect": Q14_SQL,
    "q15_clean_project": Q15_SQL,
    "q16_token_stats": Q16_SQL,
    "q17_lang_guess": Q17_SQL,
    "q18_cdc_replay_final_state": Q18_SQL,
    "q19_exact_dedup": Q19_SQL,
    "q20_quality_score": Q20_SQL,
    "q21_trailing_sum_ratio": Q21_SQL,
    "q22_cosine_topk": Q22_SQL,
    "q23_ngram_jaccard": Q23_SQL,
    # q24 (the xxhash64 scale path) is oracle-gated through its coverage
    # cross-check: the oracle emits the portable family's true near-dups
    # with covered=TRUE; any pair the xxhash64 LSH misses flips the value
    # Spark-side and the hash goes red.
    "q24_minhash_lsh": Q24_SQL,
    "q25_simhash": Q25_SQL,
    "q26_lsh_topk": Q26_SQL,
    "q27_scalar_functions": Q27_SQL,
    "q28_sk_repoint": Q28_SQL,
    "q29_mor_live_state": Q29_SQL,
    "q30_salted_agg": Q30_SQL,
    "q31_minhash_lsh_portable": Q31_SQL,
    "q32_sessionize": Q32_SQL,
    "q33_fact_watches": Q33_SQL,
    "q34_simhash_neardups": Q34_SQL,
    "q35_asof_left": Q35_SQL,
    "q36_asof_grouped": Q36_SQL,
    "q37_dim_broker": Q37_SQL,
    "q38_fact_holdings": Q38_SQL,
    "q39_fact_market_history": Q39_SQL,
    "q40_dimessages": Q40_SQL,
    "q41_ivf_topk": Q41_SQL,
    "q42_multimodal_features": Q42_SQL,
    "q43_embedding_neardups": Q43_SQL,
    "q44_pipe_scan": Q44_SQL,
    "q45_fixed_width": Q45_SQL,
    "q46_csv_header_scan": Q46_SQL,
    "q47_changelog": Q47_SQL,
    "q48_dedup_clusters": Q48_SQL,
    "q49_incremental_conv_stats": Q49_SQL,
    "q50_incremental_role_view": Q50_SQL,
    "q51_debezium_scan": Q51_SQL,
    "q52_snapshot_handover": Q52_SQL,
    "q53_catalog_atomic_join": Q53_SQL,
    "q54_state_reconcile": Q54_SQL,
    "q55_derived_table_sync": Q55_SQL,
    "q56_tpcdi_multitable_replay": Q56_SQL,
    "q57_ivf_index_sync": Q57_SQL,
    "q58_incremental_view_extended": Q58_SQL,
    "q59_bloom_lookup": Q59_SQL,
    "q60_late_batch_replay": Q60_SQL,
    "q61_scd2_lineage": Q61_SQL,
    "q62_asof_travel": Q62_SQL,
    "q63_conversation_export": Q63_SQL,
    "q64_rollback_replay": Q64_SQL,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CDC replay (3 batches, schema evolution on batch 3)
    of change events derived from sf0.001 into a fresh LakeTable; returns
    the final transcript state."""
    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sf_dir = "/root/testdata/sf0.001"
    ev = _derive_change_events(spark, sf_dir)
    table_dir = _scratch_dir("cdc_entry_")
    table = bootstrap_table(
        spark, os.path.join(table_dir, "transcripts"), TRANSCRIPT_SCHEMA, num_buckets=16
    )
    orch = CdcOrchestrator(table, buckets_per_group=8)
    third = ev.filter(F.col("cdc_dsn") % 3 == 0)
    orch.apply_batch(ev.filter(F.col("cdc_dsn") % 3 == 1), batch_id=1)
    orch.apply_batch(ev.filter(F.col("cdc_dsn") % 3 == 2), batch_id=2)
    # Batch 3 introduces the `tool` column → transactional schema evolution.
    orch.apply_batch(
        third.withColumn(
            "tool",
            F.when(F.col("role") == "tool", F.format_string("tool_%d", F.col("cdc_dsn") % 8)),
        ),
        batch_id=3,
    )
    return current_state(table)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for every query."""
    return dict(_ORACLES)
