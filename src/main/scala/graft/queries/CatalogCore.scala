package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Relational surface (q01-q110): the Athena-replacement SQL
  * queries — scans, joins, aggregations, windows, sketches, graph.
  * Split from the monolithic Catalog object (VERDICT r16 #8) — pure
  * file move, zero semantic change.
  */
private[queries] trait CatalogCore extends CatalogShared {


  // =====================================================================
  // A. Relational surface (the Athena-replacement, SURVEY §2.4-2.8, §3.2)
  // =====================================================================

  private val q01 = Q("q01_pricing_summary", Some("""
    SELECT l_returnflag, l_linestatus,
      cast(round(sum(cast(l_quantity as decimal(12,2))), 2) as double) AS sum_qty,
      cast(round(sum(cast(l_extendedprice as decimal(12,2))), 2) as double) AS sum_base_price,
      cast(round(sum(cast(l_extendedprice as decimal(12,2)) * (cast(1 as decimal(3,2)) - cast(l_discount as decimal(3,2)))), 2) as double) AS sum_disc_price,
      cast(round(sum(cast(l_extendedprice as decimal(12,2)) * (cast(1 as decimal(3,2)) - cast(l_discount as decimal(3,2))) * (cast(1 as decimal(3,2)) + cast(l_tax as decimal(3,2)))), 2) as double) AS sum_charge,
      cast(sum(cast(l_quantity as decimal(12,2))) as double) / count(*) AS avg_qty,
      cast(sum(cast(l_extendedprice as decimal(12,2))) as double) / count(*) AS avg_price,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""),
    (s, d) => {
      val li = T(s, d, "lineitem")
        .where(col("l_shipdate") <= lit("2000-12-01 00:00:00").cast("timestamp"))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumMoney(col("l_quantity")).as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_base_price"),
          round(sum(d12(col("l_extendedprice")) * (oneD - d3(col("l_discount")))), 2)
            .cast("double").as("sum_disc_price"),
          round(sum(d12(col("l_extendedprice")) * (oneD - d3(col("l_discount")))
            * (oneD + d3(col("l_tax")))), 2).cast("double").as("sum_charge"),
          avgMoney(col("l_quantity")).as("avg_qty"),
          avgMoney(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    })


  private val q02 = Q("q02_filter_pushdown", Some("""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    ORDER BY l_orderkey, l_linenumber"""),
    (s, d) => T(s, d, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp")
        && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
        && col("l_quantity") < 24)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      .orderBy("l_orderkey", "l_linenumber"))


  private val q03 = Q("q03_join_agg", Some("""
    SELECT o.o_orderpriority,
      cast(round(sum(cast(l.l_extendedprice as decimal(12,2)) * (cast(1 as decimal(3,2)) - cast(l.l_discount as decimal(3,2)))), 2) as double) AS revenue,
      count(*) AS n_items
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority"""),
    (s, d) => T(s, d, "orders").join(T(s, d, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(round(sum(d12(col("l_extendedprice")) * (oneD - d3(col("l_discount")))), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority"))


  private val q04 = Q("q04_multijoin_region", Some("""
    SELECT r.r_name, n.n_name,
      cast(round(sum(cast(l.l_extendedprice as decimal(12,2)) * (cast(1 as decimal(3,2)) - cast(l.l_discount as decimal(3,2)))), 2) as double) AS revenue,
      count(*) AS n_items
    FROM region r
      JOIN nation n   ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name"""),
    (s, d) => {
      // dims are broadcast (small sides); the only big shuffle is
      // orders⋈lineitem on the order key.
      val r = broadcast(T(s, d, "region"))
      val n = broadcast(T(s, d, "nation"))
      val c = T(s, d, "customer")
      val o = T(s, d, "orders")
      val l = T(s, d, "lineitem")
      r.join(n, col("n_regionkey") === col("r_regionkey"))
        .join(c, col("c_nationkey") === col("n_nationkey"))
        .join(o, col("o_custkey") === col("c_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum(d12(col("l_extendedprice")) * (oneD - d3(col("l_discount")))), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    })


  private val q05 = Q("q05_broadcast_dim", Some("""
    SELECT p.p_brand, p.p_type,
      cast(round(sum(cast(l.l_quantity as decimal(12,2))), 2) as double) AS sum_qty,
      cast(round(sum(cast(l.l_extendedprice as decimal(12,2))), 2) as double) AS sum_price
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
    GROUP BY p.p_brand, p.p_type
    ORDER BY p.p_brand, p.p_type"""),
    (s, d) => {
      val p = broadcast(T(s, d, "part")
        .where(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")))
      T(s, d, "lineitem").join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(sumMoney(col("l_quantity")).as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_price"))
        .orderBy("p_brand", "p_type")
    })


  private val q06 = Q("q06_anti_join", Some("""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    ORDER BY c_custkey"""),
    (s, d) => DedupOps.antiJoinNew(
        T(s, d, "customer").withColumn("k", col("c_custkey")),
        T(s, d, "orders").where(col("o_totalprice") > 300000)
          .withColumn("k", col("o_custkey")), "k")
      .select("c_custkey", "c_name").orderBy("c_custkey"))


  private val q07 = Q("q07_semi_join", Some("""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    (s, d) => T(s, d, "customer")
      .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment"))


  private val q08 = Q("q08_window_topk", Some("""
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
        row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3 ORDER BY o_custkey, rn"""),
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      T(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    })


  private val q09 = Q("q09_window_running", Some("""
    SELECT l_suppkey, l_orderkey, l_linenumber,
      cast(sum(cast(l_quantity as decimal(12,2))) OVER (
        PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS running_qty
    FROM lineitem WHERE l_suppkey <= 10
    ORDER BY l_suppkey, l_orderkey, l_linenumber"""),
    (s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, d, "lineitem").where(col("l_suppkey") <= 10)
        .withColumn("running_qty", sum(d12(col("l_quantity"))).over(w).cast("double"))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    })


  private val q10 = Q("q10_top_n", Some("""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100"""),
    (s, d) => T(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100))


  private val q11 = Q("q11_distinct", Some("""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    ORDER BY l_returnflag, l_linestatus"""),
    (s, d) => T(s, d, "lineitem").select("l_returnflag", "l_linestatus")
      .distinct().orderBy("l_returnflag", "l_linestatus"))


  private val q12 = Q("q12_rollup", Some("""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      cast(round(sum(cast(o_totalprice as decimal(12,2))), 2) as double) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),
    (s, d) => T(s, d, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")))


  private val q13 = Q("q13_setops", Some("""
    SELECT k FROM (
      (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
       INTERSECT
       SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
      EXCEPT
      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
    ORDER BY k"""),
    (s, d) => {
      val a = T(s, d, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      val b = T(s, d, "customer").where(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("k"))
      val c = T(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      a.intersect(b).except(c).orderBy("k")
    })


  private val q14 = Q("q14_string_funcs", Some("""
    SELECT p_partkey,
      lower(p_name) AS name_lower,
      regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
      split_part(p_type, ' ', 1) AS type_first,
      regexp_extract(p_type, '(\S+)$', 1) AS type_last,
      translate(p_name, 'aeiou', '') AS name_novowel,
      replace(p_type, ' ', '_') AS type_snake,
      (p_type LIKE '%BRASS%') AS has_brass,
      length(p_name) AS name_len,
      substr(p_name, 1, 5) AS name_head,
      concat(p_brand, ':', p_type) AS brand_type,
      trim(concat('  ', p_name, '  ')) AS name_trim
    FROM part WHERE p_partkey <= 500 ORDER BY p_partkey"""),
    (s, d) => T(s, d, "part").where(col("p_partkey") <= 500)
      .select(col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        regexp_extract(col("p_brand"), "#(\\d+)", 1).as("brand_num"),
        split_part(col("p_type"), lit(" "), lit(1)).as("type_first"),
        regexp_extract(col("p_type"), "(\\S+)$", 1).as("type_last"),
        translate(col("p_name"), "aeiou", "").as("name_novowel"),
        regexp_replace(col("p_type"), " ", "_").as("type_snake"),
        col("p_type").contains("BRASS").as("has_brass"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("name_head"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        trim(concat(lit("  "), col("p_name"), lit("  "))).as("name_trim"))
      .orderBy("p_partkey"))


  private val q15 = Q("q15_case_bucket", Some("""
    SELECT CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bucket,
      count(*) AS n,
      cast(round(sum(cast(c_acctbal as decimal(12,2))), 2) as double) AS total_bal
    FROM customer GROUP BY 1 ORDER BY bucket"""),
    (s, d) => T(s, d, "customer")
      .withColumn("bucket", when(col("c_acctbal") < 0, "neg")
        .when(col("c_acctbal") < 5000, "low").otherwise("high"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sumMoney(col("c_acctbal")).as("total_bal"))
      .orderBy("bucket"))


  private val q16 = Q("q16_clean_codes", Some("""
    WITH raw AS (
      SELECT p_brand AS code FROM part
      UNION ALL
      SELECT * FROM (VALUES ('  '), ('false'), ('FALSE'), (NULL), (' Brand#1 ')) v(code)
    ), cleaned AS (
      SELECT CASE WHEN trim(code) = '' OR lower(trim(code)) = 'false'
                  THEN NULL ELSE trim(code) END AS code
      FROM raw)
    SELECT code, count(*) AS n FROM cleaned
    WHERE code IS NOT NULL GROUP BY code ORDER BY code"""),
    (s, d) => {
      val raw = T(s, d, "part").select(col("p_brand").as("code"))
        .unionByName(s.sql(
          "SELECT * FROM VALUES ('  '), ('false'), ('FALSE'), (CAST(NULL AS STRING)), (' Brand#1 ') AS v(code)"))
      CleanOps.cleanCodes(raw, "code")
        .groupBy("code").agg(count(lit(1)).as("n")).orderBy("code")
    })


  // NOTE (oracle parity): DuckDB sum(int) returns HUGEINT which lands in
  // pandas as float64 ("7.0" vs Spark's long "7" under the driver's value
  // hash). Every integer SUM in an oracle is cast back to BIGINT.
  private val q17 = Q("q17_json_extract", Some("""
    SELECT event_type,
      cast(sum(cast(json_extract_string(props, '$.k') as int)) as bigint) AS sum_k,
      max(cast(json_extract_string(props, '$.k') as int)) AS max_k,
      count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type"""),
    (s, d) => T(s, d, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(sum("k").as("sum_k"), max("k").as("max_k"), count(lit(1)).as("n"))
      .orderBy("event_type"))


  private val q18 = Q("q18_exists_subq", Some("""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
    ORDER BY o_orderkey"""),
    (s, d) => T(s, d, "orders")
      .join(T(s, d, "lineitem").where(col("l_quantity") >= 49),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey"))


  private val q19 = Q("q19_count_distinct", Some("""
    SELECT c_mktsegment, count(*) AS n,
      count(DISTINCT c_nationkey) AS n_nations,
      cast(round(sum(cast(c_acctbal as decimal(12,2))), 2) as double) AS total_bal
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    (s, d) => T(s, d, "customer").groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), countDistinct(col("c_nationkey")).as("n_nations"),
        sumMoney(col("c_acctbal")).as("total_bal"))
      .orderBy("c_mktsegment"))


  private val q20 = Q("q20_having", Some("""
    SELECT o_custkey, count(*) AS n_orders,
      cast(round(sum(cast(o_totalprice as decimal(12,2))), 2) as double) AS total
    FROM orders GROUP BY o_custkey HAVING count(*) > 12
    ORDER BY o_custkey"""),
    (s, d) => T(s, d, "orders").groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sumMoney(col("o_totalprice")).as("total"))
      .where(col("n_orders") > 12)
      .orderBy("o_custkey"))


  private val q21 = Q("q21_sessionize", Some("""
    WITH flagged AS (
      SELECT user_id, event_id,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, cast(sum(new_session) as bigint) AS n_sessions, count(*) AS n_events
    FROM flagged GROUP BY user_id ORDER BY user_id"""),
    (s, d) => SessionOps.sessionStats(T(s, d, "events"), 1800d)
      .select(col("user_id"), col("n_sessions").cast("long").as("n_sessions"), col("n_events"))
      .orderBy("user_id"))


  private val q22 = Q("q22_tumbling_daily", Some("""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
      count(*) AS n,
      cast(round(sum(cast(value as decimal(12,2))), 2) as double) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY day, event_type"""),
    (s, d) => T(s, d, "events")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("sum_value"))
      .orderBy("day", "event_type"))


  // Stream-static enrichment (the third streaming-join topology next to
  // q51 stream-stream and q23 stream-agg): per micro-batch the event
  // stream joins the static customer dim — no state store, no watermark
  // on the static side; Spark re-plans (and broadcasts) the dim each
  // batch. Oracle = the batch join, which AvailableNow over a bounded
  // source must equal exactly.
  private val q72 = Q("q72_stream_enrich", Some("""
    SELECT c_mktsegment, event_type, count(*) AS n_events,
      cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2 ORDER BY c_mktsegment, event_type"""),
    (s, d) => graft.streaming.StreamingOps
      .streamStaticEnrich(s, s"$d/events.parquet",
        T(s, d, "customer"), "c_custkey", "c_mktsegment",
        queryName = "graft_stream_enrich_" + math.abs(d.hashCode),
        statePartitions = streamStatePartitions)
      .orderBy("c_mktsegment", "event_type"))


  // Ordered-sequence conversion funnel (view → click-after-view →
  // purchase-after-click): each stage is the per-user MIN ts of the
  // stage event STRICTLY after the previous stage's ts — three hash
  // aggregations chained by user_id equi-joins, no self-join of the
  // event table against itself and no window, so the shape is linear in
  // events at any scale. µs timestamp comparisons are exact in both
  // engines; stage counts are integers, the two conversion rates one
  // mirrored IEEE division each.
  private val q73 = Q("q73_funnel", Some("""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
    SELECT stage, n_users,
      cast(n_users as double)
        / first_value(n_users) OVER (ORDER BY stage
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS frac_of_top
    FROM (
      SELECT '1_view' AS stage, count(*) AS n_users FROM s1
      UNION ALL SELECT '2_click', count(*) FROM s2
      UNION ALL SELECT '3_purchase', count(*) FROM s3) t
    ORDER BY stage"""),
    (s, d) => {
      val e = T(s, d, "events").select("user_id", "event_type", "ts")
      val s1 = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = e.where(col("event_type") === "click").join(s1, "user_id")
        .where(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val s3 = e.where(col("event_type") === "purchase").join(s2, "user_id")
        .where(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      val stages = s1.agg(count(lit(1)).as("n_users"))
        .select(lit("1_view").as("stage"), col("n_users"))
        .unionByName(s2.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click").as("stage"), col("n_users")))
        .unionByName(s3.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase").as("stage"), col("n_users")))
      // 3-row result: the first_value window runs on 3 rows, not the corpus
      val w = Window.orderBy("stage")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      stages.withColumn("frac_of_top",
          col("n_users").cast("double") / first("n_users").over(w))
        .orderBy("stage")
    })


  // Cohort retention: users cohorted by FIRST-event day, then counted on
  // each later active day as (cohort_day, day_offset) — the standard
  // activation/retention triangle. One per-user min, one equi-join back,
  // one distinct on (user, day), one hash agg: linear, no window over
  // the event table. Day truncation and integer day-diffs are exact and
  // mirrored; offsets capped at 7 to keep the result a bounded triangle.
  private val q74 = Q("q74_cohort_retention", Some("""
    WITH c AS (
      SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
      FROM events GROUP BY user_id),
    a AS (
      SELECT DISTINCT e.user_id, c.cohort_day,
        date_diff('day', c.cohort_day, date_trunc('day', e.ts)) AS day_offset
      FROM events e JOIN c ON e.user_id = c.user_id)
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
      cast(day_offset as int) AS day_offset,
      count(*) AS n_users
    FROM a WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset"""),
    (s, d) => {
      val e = T(s, d, "events")
      val c = e.groupBy("user_id")
        .agg(date_trunc("day", min("ts")).as("cohort_day"))
      e.join(c, "user_id")
        .select(col("user_id"), col("cohort_day"),
          datediff(date_trunc("day", col("ts")), col("cohort_day"))
            .as("day_offset"))
        .distinct()
        .where(col("day_offset") <= 7)
        .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    })


  private val q23 = Q("q23_stream_windows", Some("""
    SELECT strftime(TIMESTAMP '1970-01-01 00:00:00'
        + to_seconds(cast((epoch_us(ts) // 21600000000) * 21600 as bigint)),
        '%Y-%m-%d %H:%M:%S') AS window_start,
      event_type, count(*) AS n_events,
      cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""),
    (s, d) => graft.streaming.StreamingOps
      .windowedEventCounts(s, s"$d/events.parquet", "6 hours",
        queryName = "graft_stream_agg_" + math.abs(d.hashCode),
        statePartitions = streamStatePartitions)
      .orderBy("window_start", "event_type"))


  private val q24 = Q("q24_cube", Some("""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
      cast(round(sum(cast(l_quantity as decimal(12,2))), 2) as double) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    (s, d) => T(s, d, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sumMoney(col("l_quantity")).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")))


  // GROUPING SETS through the spark.sql surface (the Athena-replacement
  // path, SURVEY §3.2): tables registered as temp views, query is SQL text.
  private val q25 = Q("q25_grouping_sets", Some("""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    })


  private val q26 = Q("q26_window_shift", Some("""
    SELECT o_custkey, o_orderkey,
      lag(o_totalprice) OVER w AS prev_price,
      lead(o_totalprice) OVER w AS next_price,
      dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS prio_rank
    FROM orders WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey"""),
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val wp = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
      T(s, d, "orders").where(col("o_custkey") <= 200)
        .select(col("o_custkey"), col("o_orderkey"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"),
          dense_rank().over(wp).as("prio_rank"))
        .orderBy("o_custkey", "o_orderkey")
    })


  private val q27 = Q("q27_union_all", Some("""
    SELECT k, count(*) AS n FROM (
      SELECT o_custkey AS k FROM orders
      UNION ALL
      SELECT c_custkey AS k FROM customer)
    GROUP BY k HAVING count(*) > 12 ORDER BY k"""),
    (s, d) => T(s, d, "orders").select(col("o_custkey").as("k"))
      .unionByName(T(s, d, "customer").select(col("c_custkey").as("k")))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .where(col("n") > 12).orderBy("k"))


  // HLL++ sketch cardinality. The estimate itself has no cross-engine
  // oracle (DuckDB's HLL registers differ), but the sketch's CONTRACT
  // does: HLL++ at rsd=0.02 stays well within 5% relative error (the
  // default rsd=0.05 measurably does NOT — one sf0.01 group missed).
  // The query emits the exact counts plus a per-group bound check on the
  // estimate, so the driver hash-checks a real assertion (a drifting
  // sketch flips the boolean and fails the hash) instead of rows-only.
  private val q28 = Q("q28_approx_distinct", Some("""
    SELECT l_returnflag,
      cast(count(DISTINCT l_partkey) as bigint) AS n_parts,
      cast(count(DISTINCT l_orderkey) as bigint) AS n_orders,
      true AS hll_parts_ok, true AS hll_orders_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => T(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("_ap"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("_ao"))
      .select(col("l_returnflag"), col("n_parts"), col("n_orders"),
        (abs(col("_ap") - col("n_parts")) <= col("n_parts") * 0.05).as("hll_parts_ok"),
        (abs(col("_ao") - col("n_orders")) <= col("n_orders") * 0.05).as("hll_orders_ok"))
      .orderBy("l_returnflag"))


  private val q29 = Q("q29_scalar_subq", Some("""
    SELECT p_partkey, p_name, p_retailprice FROM part
    WHERE p_retailprice > (SELECT cast(sum(cast(p_retailprice as decimal(12,2))) as double)
                                  / count(*) FROM part)
    ORDER BY p_partkey"""),
    (s, d) => {
      val p = T(s, d, "part")
      val threshold = p.agg(
        (sum(d12(col("p_retailprice"))).cast("double") / count(lit(1))).as("t"))
      p.join(broadcast(threshold), col("p_retailprice") > col("t"))
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy("p_partkey")
    })


  // As-of join (no Spark built-in): union+window encoding in
  // operators.AsOfJoin — one shuffle, linear, vs the quadratic
  // nested-loop a theta join would plan. Oracle: DuckDB's native ASOF.
  private val q30 = Q("q30_asof_join", Some("""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    signups AS (
      SELECT user_id, ts, max(event_id) AS sig_id
      FROM events WHERE event_type = 'signup' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id, s.sig_id,
      epoch_us(c.ts) - epoch_us(s.ts) AS gap_us
    FROM clicks c ASOF LEFT JOIN signups s
      ON c.user_id = s.user_id AND c.ts >= s.ts
    ORDER BY c.event_id"""),
    (s, d) => {
      val ev = T(s, d, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val signups = ev.where(col("event_type") === "signup")
        .groupBy("user_id", "ts").agg(max("event_id").as("sig_id"))
        .select(col("user_id"), col("ts"),
          struct(col("sig_id"), unix_micros(col("ts")).as("sig_us")).as("sig"))
      AsOfJoin.asofJoin(clicks, signups, "user_id", "ts", "sig")
        .select(col("event_id"), col("user_id"),
          col("sig.sig_id").as("sig_id"),
          (unix_micros(col("ts")) - col("sig.sig_us")).as("gap_us"))
        .orderBy("event_id")
    })


  private val q31 = Q("q31_range_join", Some("""
    SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
      count(*) AS n_shipped_30d,
      cast(round(sum(cast(l.l_quantity as decimal(12,2))), 2) as double) AS qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
      AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
    GROUP BY 1 ORDER BY month"""),
    (s, d) => T(s, d, "orders")
      .join(T(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") >= col("o_orderdate")
        && col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_shipped_30d"), sumMoney(col("l_quantity")).as("qty"))
      .orderBy("month"))


  private val q32 = Q("q32_min_per_group", Some("""
    SELECT s.s_nationkey, s.s_suppkey, s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_acctbal = (SELECT min(s2.s_acctbal) FROM supplier s2
                         WHERE s2.s_nationkey = s.s_nationkey)
    ORDER BY s_nationkey, s_suppkey"""),
    (s, d) => {
      // correlated-min subquery as a window min + equality filter:
      // one shuffle on the group key instead of a re-scan per row
      val w = Window.partitionBy("s_nationkey")
      T(s, d, "supplier")
        .withColumn("_min_bal", min("s_acctbal").over(w))
        .where(col("s_acctbal") === col("_min_bal"))
        .select("s_nationkey", "s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_nationkey", "s_suppkey")
    })


  private val q33 = Q("q33_conditional_agg", Some("""
    SELECT strftime(date_trunc('year', o_orderdate), '%Y') AS year,
      count(*) AS n_orders,
      cast(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) as bigint) AS n_urgent,
      cast(round(sum(CASE WHEN o_orderstatus = 'F'
                 THEN cast(o_totalprice as decimal(12,2))
                 ELSE cast(0 as decimal(12,2)) END), 2) as double) AS filled_value
    FROM orders GROUP BY 1 ORDER BY year"""),
    (s, d) => T(s, d, "orders")
      .groupBy(date_format(date_trunc("year", col("o_orderdate")), "yyyy").as("year"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)).as("n_urgent"),
        round(sum(when(col("o_orderstatus") === "F", d12(col("o_totalprice")))
          .otherwise(d12(lit(0)))), 2).cast("double").as("filled_value"))
      .orderBy("year"))


  private val q34 = Q("q34_percentiles", Some("""
    SELECT l_returnflag,
      quantile_cont(l_quantity, 0.5) AS median_qty,
      quantile_cont(l_extendedprice, 0.9) AS p90_price,
      min(l_extendedprice) AS min_price,
      max(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => T(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
        percentile(col("l_extendedprice"), lit(0.9)).as("p90_price"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
      .orderBy("l_returnflag"))


  // =====================================================================
  // D. Round-2 widening: pivot/unpivot, moment statistics, outer joins,
  // ordered-set & positional aggregates, frame-spec windows, date surface,
  // sketches, and graph clustering for dedup.
  // =====================================================================

  private val q35 = Q("q35_pivot", Some("""
    SELECT l_returnflag,
      count(*) FILTER (WHERE l_linestatus = 'F') AS n_F,
      count(*) FILTER (WHERE l_linestatus = 'O') AS n_O,
      cast(round(sum(cast(l_quantity as decimal(12,2))) FILTER (WHERE l_linestatus = 'F'), 2) as double) AS qty_F,
      cast(round(sum(cast(l_quantity as decimal(12,2))) FILTER (WHERE l_linestatus = 'O'), 2) as double) AS qty_O
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => T(s, d, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)).as("n"), sumMoney(col("l_quantity")).as("qty"))
      .select(col("l_returnflag"),
        // an empty pivot cell yields NULL; count(*) FILTER semantics are 0
        // (sums stay NULL on both engines, so only counts need coalescing)
        coalesce(col("F_n"), lit(0L)).as("n_F"),
        coalesce(col("O_n"), lit(0L)).as("n_O"),
        col("F_qty").as("qty_F"), col("O_qty").as("qty_O"))
      .orderBy("l_returnflag"))


  private val q36 = Q("q36_unpivot", Some("""
    WITH agg AS (
      SELECT l_returnflag,
        cast(round(sum(cast(l_quantity as decimal(12,2))), 2) as double) AS sum_qty,
        cast(round(sum(cast(l_extendedprice as decimal(12,2))), 2) as double) AS sum_price
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM agg
    ORDER BY l_returnflag, metric"""),
    (s, d) => T(s, d, "lineitem").groupBy("l_returnflag")
      .agg(sumMoney(col("l_quantity")).as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_price"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")), "metric", "value")
      .orderBy("l_returnflag", "metric"))


  private val q37 = Q("q37_explode_ordinal", Some("""
    WITH w AS (SELECT p_partkey, regexp_split_to_array(p_name, ' ') AS words
               FROM part WHERE p_partkey <= 200)
    SELECT p_partkey,
      unnest(generate_series(0, len(words) - 1)) AS pos,
      unnest(words) AS word
    FROM w ORDER BY p_partkey, pos"""),
    (s, d) => T(s, d, "part").where(col("p_partkey") <= 200)
      .select(col("p_partkey"), posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
      .orderBy("p_partkey", "pos"))


  // Sample variance / stddev / covariance / correlation from exact decimal
  // sums (sum x, sum x^2, sum xy are associative decimals -> partition-
  // order-independent), combined in one mirrored double expression at the
  // end. Built-in float var_samp/stddev would reassociate differently per
  // partitioning and never hash-match a sequential engine.
  private val q38 = Q("q38_stats_moments", Some("""
    WITH m AS (
      SELECT l_returnflag,
        cast(count(*) as double) AS n,
        cast(sum(cast(l_quantity as decimal(12,2))) as double) AS sx,
        cast(sum(cast(l_quantity as decimal(12,2)) * cast(l_quantity as decimal(12,2))) as double) AS sxx,
        cast(sum(cast(l_extendedprice as decimal(12,2))) as double) AS sy,
        cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(l_extendedprice as decimal(12,2))) as double) AS syy,
        cast(sum(cast(l_quantity as decimal(12,2)) * cast(l_extendedprice as decimal(12,2))) as double) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
      cast((n * sxx - sx * sx) / (n * (n - 1)) as real) AS var_qty,
      cast(sqrt((n * sxx - sx * sx) / (n * (n - 1))) as real) AS std_qty,
      cast((n * sxy - sx * sy) / (n * (n - 1)) as real) AS cov_qty_price,
      cast((n * sxy - sx * sy)
        / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) as real) AS corr_qty_price
    FROM m ORDER BY l_returnflag"""),
    (s, d) => {
      val dx = d12(col("l_quantity"))
      val dy = d12(col("l_extendedprice"))
      val m = T(s, d, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(dx).cast("double").as("sx"),
          sum(dx * dx).cast("double").as("sxx"),
          sum(dy).cast("double").as("sy"),
          sum(dy * dy).cast("double").as("syy"),
          sum(dx * dy).cast("double").as("sxy"))
      val n = col("n"); val sx = col("sx"); val sxx = col("sxx")
      val sy = col("sy"); val syy = col("syy"); val sxy = col("sxy")
      // outputs at float32: the decimal->double casts of the moment sums
      // can differ by 1 ULP between engines at some magnitudes (caught by
      // a cross-sf check at sf0.001); IEEE double->float rounding is
      // identical in both engines and absorbs ULP-level divergence while
      // keeping ~7 significant digits — honest precision for moments
      m.select(col("l_returnflag"),
          ((n * sxx - sx * sx) / (n * (n - lit(1)))).cast("float").as("var_qty"),
          sqrt((n * sxx - sx * sx) / (n * (n - lit(1)))).cast("float").as("std_qty"),
          ((n * sxy - sx * sy) / (n * (n - lit(1)))).cast("float").as("cov_qty_price"),
          ((n * sxy - sx * sy)
            / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
            .cast("float").as("corr_qty_price"))
        .orderBy("l_returnflag")
    })


  private val q39 = Q("q39_full_outer", Some("""
    WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 500),
    o AS (SELECT o_custkey, count(*) AS n_orders FROM orders
          WHERE o_custkey >= 300 AND o_custkey <= 800 GROUP BY o_custkey)
    SELECT coalesce(c.c_custkey, o.o_custkey) AS k, c.c_name, o.n_orders
    FROM c FULL OUTER JOIN o ON o.o_custkey = c.c_custkey
    ORDER BY k"""),
    (s, d) => {
      val c = T(s, d, "customer").where(col("c_custkey") <= 500)
        .select("c_custkey", "c_name")
      val o = T(s, d, "orders").where(col("o_custkey").between(300, 800))
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      c.join(o, col("o_custkey") === col("c_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("k"),
          col("c_name"), col("n_orders"))
        .orderBy("k")
    })


  // max_by/min_by (arg_max/arg_min): the ordering key must be unique for a
  // deterministic result — c_custkey is; the acctbal ordering is made
  // unique by folding the key into integer cents-major order.
  private val q40 = Q("q40_argminmax", Some("""
    SELECT c_nationkey,
      arg_max(c_name, c_custkey) AS latest_customer,
      arg_min(c_name, c_custkey) AS first_customer,
      arg_max(c_custkey, round(c_acctbal * 100) * 10000000 + c_custkey) AS richest_custkey
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""),
    (s, d) => T(s, d, "customer").groupBy("c_nationkey")
      .agg(max_by(col("c_name"), col("c_custkey")).as("latest_customer"),
        min_by(col("c_name"), col("c_custkey")).as("first_customer"),
        max_by(col("c_custkey"),
          round(col("c_acctbal") * 100) * 10000000 + col("c_custkey"))
          .as("richest_custkey"))
      .orderBy("c_nationkey"))


  private val q41 = Q("q41_string_agg", Some("""
    SELECT n_regionkey AS r_key,
      string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey ORDER BY r_key"""),
    (s, d) => T(s, d, "nation").groupBy(col("n_regionkey").as("r_key"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy("r_key"))


  // Global (unpartitioned) window over a bounded subset — fine because the
  // filter caps the row count; a global ntile over the full table would
  // serialize onto one task and is the wrong tool at scale.
  private val q42 = Q("q42_ntile_pctrank", Some("""
    SELECT o_orderkey,
      cast(ntile(4) OVER w as bigint) AS quartile,
      percent_rank() OVER w AS pct_rank,
      cume_dist() OVER w AS cdist
    FROM orders WHERE o_custkey <= 100
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey"""),
    (s, d) => {
      val w = Window.orderBy("o_totalprice", "o_orderkey")
      T(s, d, "orders").where(col("o_custkey") <= 100)
        .select(col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"))
        .orderBy("o_orderkey")
    })


  // RANGE frame over integer microseconds: a 10-minute rolling sum per
  // user. Decimal sum -> double keeps the result partition-order-free.
  private val q43 = Q("q43_range_frame", Some("""
    SELECT user_id, event_id,
      cast(sum(cast(value as decimal(18,2))) OVER (
        PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) as double) AS rolling_10m
    FROM events WHERE user_id <= 50
    ORDER BY user_id, event_id"""),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-600000000L, Window.currentRow)
      T(s, d, "events").where(col("user_id") <= 50)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("rolling_10m",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .select("user_id", "event_id", "rolling_10m")
        .orderBy("user_id", "event_id")
    })


  private val q44 = Q("q44_first_last", Some("""
    SELECT o_custkey, o_orderkey,
      first_value(o_orderkey) OVER w AS first_ok,
      last_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok,
      nth_value(o_orderkey, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_ok
    FROM orders WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey"""),
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T(s, d, "orders").where(col("o_custkey") <= 200)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(wFull).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(wFull).as("second_ok"))
        .orderBy("o_custkey", "o_orderkey")
    })


  // Date-part surface. DuckDB dow is 0=Sunday; Spark dayofweek is
  // 1=Sunday — the Spark side subtracts 1 to mirror.
  private val q45 = Q("q45_date_funcs", Some("""
    SELECT o_orderkey,
      cast(date_part('year', o_orderdate) as int) AS y,
      cast(date_part('month', o_orderdate) as int) AS m,
      cast(date_part('day', o_orderdate) as int) AS dom,
      cast(date_part('dow', o_orderdate) as int) AS dow,
      cast(date_part('doy', o_orderdate) as int) AS doy,
      cast(date_part('quarter', o_orderdate) as int) AS q,
      strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
      strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
      cast(date_diff('day', DATE '1995-01-01', cast(o_orderdate as date)) as int) AS days_since_95
    FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey"""),
    (s, d) => T(s, d, "orders").where(col("o_orderkey") <= 1000)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"),
        dayofyear(col("o_orderdate")).as("doy"),
        quarter(col("o_orderdate")).as("q"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        date_format(col("o_orderdate") + expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").as("plus_30d"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01")).as("days_since_95"))
      .orderBy("o_orderkey"))


  // KMV (k-minimum-values) distinct sketch, k=64: a *deterministic*
  // cardinality estimator — est = (k-1) * 2^60 / h_k where h_k is the
  // k-th smallest 60-bit md5-derived hash of the key. Unlike HLL++ (q28)
  // the same data always yields the same estimate on any engine, so it is
  // oracle-checkable end to end. 63 * 2^60 has 6 significant bits ->
  // exact in a double; both engines round h (long) -> double identically.
  private val q46 = Q("q46_kmv_distinct", Some("""
    WITH h AS (
      SELECT DISTINCT l_returnflag,
        ('0x' || substr(md5(cast(l_partkey as varchar)), 1, 15))::BIGINT AS h
      FROM lineitem),
    r AS (
      SELECT l_returnflag, h,
        row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY l_returnflag) AS nd
      FROM h)
    SELECT l_returnflag, cast(nd as bigint) AS n_exact,
      cast(CASE WHEN nd < 64 THEN cast(nd as double)
                ELSE floor(63.0 * 1152921504606846976.0 / cast(h as double)) END as bigint) AS kmv_est
    FROM r WHERE rn = least(nd, 64) ORDER BY l_returnflag"""),
    (s, d) => {
      // KMV via a k-bounded partial aggregation (functions.KmvAggregator):
      // no global distinct, no per-group window sort — the shuffle carries
      // O(groups x 64) sketch values plus countDistinct's dedup, and the
      // kth-minimum comes out of the sorted sketch array.
      val kmv = udaf(new graft.functions.KmvAggregator(64),
        org.apache.spark.sql.Encoders.scalaLong)
      T(s, d, "lineitem")
        .select(col("l_returnflag"),
          conv(substring(md5(col("l_partkey").cast("string")), 1, 15), 16, 10)
            .cast("long").as("h"))
        .groupBy("l_returnflag")
        .agg(countDistinct(col("h")).as("nd"), kmv(col("h")).as("ks"))
        .select(col("l_returnflag"), col("nd").as("n_exact"),
          when(col("nd") < 64, col("nd").cast("double"))
            .otherwise(floor(lit(63.0) * lit(1.152921504606846976e18)
              / element_at(col("ks"), 64).cast("double")))
            .cast("long").as("kmv_est"))
        .orderBy("l_returnflag")
    })


  // Latest-row-per-key dedup (the deterministic dropDuplicates): one
  // shuffle on the key, window top-1.
  private val q47 = Q("q47_latest_per_key", Some("""
    WITH r AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_id, ts_us FROM r WHERE rn = 1 ORDER BY user_id"""),
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      T(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
        .orderBy("user_id")
    })


  private val q48 = Q("q48_regexp_all", Some("""
    SELECT p_partkey,
      cast(len(regexp_extract_all(p_name, '[aeiou]+')) as int) AS n_vowel_runs,
      coalesce(array_to_string(regexp_extract_all(p_name, '\b[a-z]{5}\b'), '|'), '') AS five_letter_words,
      cast(len(regexp_extract_all(p_name, ' ')) + 1 as int) AS n_words
    FROM part WHERE p_partkey <= 300 ORDER BY p_partkey"""),
    (s, d) => T(s, d, "part").where(col("p_partkey") <= 300)
      .select(col("p_partkey"),
        size(regexp_extract_all(col("p_name"), lit("[aeiou]+"), lit(0))).as("n_vowel_runs"),
        array_join(regexp_extract_all(col("p_name"), lit("\\b[a-z]{5}\\b"), lit(0)), "|")
          .as("five_letter_words"),
        (size(regexp_extract_all(col("p_name"), lit(" "), lit(0))) + 1).as("n_words"))
      .orderBy("p_partkey"))


  private val q49 = Q("q49_bitwise_agg", Some("""
    SELECT o_orderpriority,
      bit_and(o_orderkey) AS all_and,
      bit_or(o_orderkey) AS any_or,
      bit_xor(o_orderkey) AS parity
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    (s, d) => T(s, d, "orders").groupBy("o_orderpriority")
      .agg(bit_and(col("o_orderkey")).as("all_and"),
        bit_or(col("o_orderkey")).as("any_or"),
        bit_xor(col("o_orderkey")).as("parity"))
      .orderBy("o_orderpriority"))


  // Streaming exact dedup (watermark-bounded dropDuplicates state) driven
  // to completion with AvailableNow — equals batch DISTINCT on the same
  // key set, which is what the oracle checks.
  private val q50 = Q("q50_stream_dedup", Some("""
    WITH dist AS (SELECT DISTINCT user_id, event_type, epoch_us(ts) AS ts_us FROM events)
    SELECT user_id, count(*) AS n_unique FROM dist GROUP BY user_id ORDER BY user_id"""),
    (s, d) => graft.streaming.StatefulOps.streamingDedup(
        s, s"$d/events.parquet", Seq("user_id", "event_type"),
        watermark = "1 hour",
        queryName = "graft_stream_dedup_" + math.abs(d.hashCode),
        statePartitions = streamStatePartitions)
      .groupBy("user_id").agg(count(lit(1)).as("n_unique"))
      .orderBy("user_id"))


  // TPC-H Q17 shape: correlated aggregate subquery. The oracle keeps the
  // correlated form (per-row avg over the row's part); the Spark side is
  // the decorrelated rewrite — one group-by producing thresholds, one
  // broadcast join back — which is exactly what Catalyst's
  // RewriteCorrelatedScalarSubquery does, made explicit. avg goes through
  // decimal sums so both forms agree bit-for-bit.
  private val q53 = Q("q53_correlated_avg", Some("""
    SELECT cast(round(sum(cast(l.l_extendedprice as decimal(12,2))), 2) as double) / 7.0 AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.2 * (cast(sum(cast(l2.l_quantity as decimal(12,2))) as double) / count(*))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""),
    (s, d) => {
      val pk = broadcast(T(s, d, "part")
        .where(col("p_brand") === "Brand#1").select("p_partkey"))
      // threshold over ALL lineitems of the part (matches the
      // uncorrelated-on-brand-filter-free inner query)
      val thresholds = T(s, d, "lineitem")
        .join(pk, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey").as("tk"))
        .agg((lit(0.2) * (sum(d12(col("l_quantity"))).cast("double") / count(lit(1))))
          .as("thresh"))
      T(s, d, "lineitem")
        .join(pk, col("l_partkey") === col("p_partkey"))
        .join(broadcast(thresholds), col("l_partkey") === col("tk"))
        .where(col("l_quantity") < col("thresh"))
        .agg((round(sum(d12(col("l_extendedprice"))), 2).cast("double") / 7.0)
          .as("avg_yearly"))
    })

  private val q54 = Q("q54_exists_combo", Some(q54Sql),
    (s, d) => { Tables.registerAll(s, d); s.sql(q54Sql) })

  private val q55 = Q("q55_not_in", Some(q55Sql),
    (s, d) => { Tables.registerAll(s, d); s.sql(q55Sql) })

  private val q56 = Q("q56_cte_argmax", Some(s"""
    WITH rev AS ($q56RevSql)
    SELECT n_name, revenue FROM rev
    WHERE revenue = (SELECT max(revenue) FROM rev)
    ORDER BY n_name"""),
    (s, d) => {
      // Catalyst inlines CTEs, so the scalar-subquery form would run the
      // 4-table join twice (r2 fixed that with an eager localCheckpoint —
      // one extra materialization pass). Better: argmax as a global
      // window max over the AGGREGATED result — 25 rows through a single-
      // partition window, the join runs exactly once, nothing is
      // materialized. The oracle keeps the subquery form (DuckDB
      // auto-materializes CTEs); values are identical.
      Tables.registerAll(s, d)
      s.sql(s"""
        WITH rev AS ($q56RevSql)
        SELECT n_name, revenue FROM (
          SELECT n_name, revenue, max(revenue) OVER () AS _mx FROM rev) t
        WHERE revenue = _mx
        ORDER BY n_name""")
    })


  // Stream-stream interval join: clicks joined to same-user signups
  // within the hour before the click, both sides watermarked (bounded
  // state). Over a bounded source this equals the batch interval join the
  // oracle runs. Timestamps compare at µs (the engine's resolution);
  // the oracle mirrors via epoch_us, not raw ns-precision timestamps.
  private val q51 = Q("q51_stream_join", Some("""
    SELECT c.event_id AS click_id, s.event_id AS signup_id,
      c.user_id, epoch_us(c.ts) - epoch_us(s.ts) AS gap_us
    FROM events c JOIN events s
      ON s.user_id = c.user_id
      AND c.event_type = 'click' AND s.event_type = 'signup'
      AND epoch_us(c.ts) >= epoch_us(s.ts)
      AND epoch_us(c.ts) <= epoch_us(s.ts) + 3600000000
    ORDER BY click_id, signup_id"""),
    (s, d) => graft.streaming.StatefulOps.streamStreamIntervalJoin(
        s, s"$d/events.parquet", "click", "signup", 3600L,
        queryName = "graft_stream_join_" + math.abs(d.hashCode),
        statePartitions = streamStatePartitions)
      .select(col("c_id").as("click_id"), col("s_id").as("signup_id"),
        col("c_user").as("user_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("s_ts"))).as("gap_us"))
      .orderBy("click_id", "signup_id"))


  private val q52 = Q("q52_array_funcs", Some("""
    WITH a AS (
      SELECT l_orderkey, list_sort(list(l_linenumber)) AS lines,
             list_sort(list(DISTINCT l_suppkey % 10)) AS supp_mod
      FROM lineitem WHERE l_orderkey <= 2000 GROUP BY l_orderkey)
    SELECT l_orderkey,
      cast(len(lines) as int) AS n_lines,
      array_to_string(list_slice(lines, 1, 3), ',') AS first3,
      list_contains(lines, 5) AS has5,
      cast(len(list_intersect(supp_mod, [0, 1, 2, 3])) as int) AS low_mods
    FROM a ORDER BY l_orderkey"""),
    (s, d) => T(s, d, "lineitem").where(col("l_orderkey") <= 2000)
      .groupBy("l_orderkey")
      .agg(array_sort(collect_list(col("l_linenumber"))).as("lines"),
        array_sort(collect_set(col("l_suppkey") % 10)).as("supp_mod"))
      .select(col("l_orderkey"),
        size(col("lines")).as("n_lines"),
        array_join(transform(slice(col("lines"), 1, 3), x => x.cast("string")), ",")
          .as("first3"),
        array_contains(col("lines"), 5).as("has5"),
        size(array_intersect(col("supp_mod"),
          array(lit(0L), lit(1L), lit(2L), lit(3L)))).as("low_mods"))
      .orderBy("l_orderkey"))


  // Native session windows (gap = 30 min): Spark's session_window
  // operator merges per-user events whose gaps stay under the threshold.
  // The oracle reconstructs identical sessions relationally: lag -> new-
  // session flag -> running sum as session id -> group. window.end is
  // last event + gap by definition, mirrored as max(us) + gap.
  private val q57 = Q("q57_session_window", Some("""
    WITH flagged AS (
      SELECT user_id, epoch_us(ts) AS us,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, us,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY us
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged)
    SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
      count(*) AS n_events
    FROM s GROUP BY user_id, sid ORDER BY user_id, start_us"""),
    (s, d) => T(s, d, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"))
      .orderBy("user_id", "start_us"))


  // Skew-resilient salted join, oracle-checked for equivalence with the
  // plain join it replaces: the deterministic hash salt splits each hot
  // key across saltFactor reducers; the small side is replicated
  // saltFactor ways. Result is identical to the unsalted join.
  private val q58 = Q("q58_salted_join", Some("""
    SELECT s.s_name,
      cast(round(sum(cast(l.l_extendedprice as decimal(12,2))), 2) as double) AS revenue,
      count(*) AS n_items
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_name ORDER BY s_name"""),
    (s, d) => {
      val li = T(s, d, "lineitem")
        .select(col("l_suppkey").as("k"), col("l_extendedprice"), col("l_orderkey"))
      val sup = T(s, d, "supplier").select(col("s_suppkey").as("k"), col("s_name"))
      Exec.saltedJoin(li, sup, key = "k", idCol = "l_orderkey", saltFactor = 8)
        .groupBy("s_name")
        .agg(sumMoney(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("s_name")
    })


  // Ordered-set aggregates: percentile_disc picks an ACTUAL element (no
  // interpolation) -> engine-exact by construction.
  private val q63 = Q("q63_percentile_disc", Some("""
    SELECT l_returnflag,
      quantile_disc(l_quantity, 0.25) AS q25,
      quantile_disc(l_quantity, 0.5) AS q50,
      quantile_disc(l_quantity, 0.75) AS q75,
      quantile_disc(l_extendedprice, 0.9) AS p90_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT l_returnflag,
          percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q25,
          percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS q50,
          percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity) AS q75,
          percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p90_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    })

  private val q64 = Q("q64_lateral_topk", Some(q64Sql),
    (s, d) => { Tables.registerAll(s, d); s.sql(q64Sql) })


  // Higher-order array functions (filter/transform/aggregate/array_max)
  // with fixed-point quantization for the float reductions — floor(|v| *
  // 2^20) as long is exact, so sums/maxes agree across engines. (Hot-path
  // kernels use native expressions instead — see HashSketches — this
  // exercises the lambda surface itself.)
  private val q59 = Q("q59_higher_order", Some("""
    SELECT vec_id,
      cast(len(list_filter(embedding, x -> x >= 0)) as int) AS n_pos,
      cast(list_sum(list_transform(embedding,
        x -> cast(floor(abs(cast(x as double)) * 1048576.0) as bigint))) as bigint) AS l1_q,
      cast(list_max(list_transform(embedding,
        x -> cast(floor(cast(x as double) * 1048576.0) as bigint))) as bigint) AS max_q
    FROM embeddings WHERE vec_id < 300 ORDER BY vec_id"""),
    (s, d) => T(s, d, "embeddings").where(col("vec_id") < 300)
      .select(col("vec_id"),
        size(filter(col("embedding"), x => x >= 0)).as("n_pos"),
        aggregate(
          transform(col("embedding"),
            x => floor(abs(x.cast("double")) * 1048576.0).cast("long")),
          lit(0L), (a, b) => a + b).as("l1_q"),
        array_max(transform(col("embedding"),
          x => floor(x.cast("double") * 1048576.0).cast("long"))).as("max_q"))
      .orderBy("vec_id"))


  // from_json (schema'd struct extraction) + to_json re-serialization;
  // both engines emit compact {"k2":N}.
  private val q60 = Q("q60_json_roundtrip", Some("""
    SELECT event_id,
      cast(json_extract_string(props, '$.k') as int) AS k,
      to_json(struct_pack(k2 := cast(json_extract_string(props, '$.k') as int) * 2)) AS doubled_json
    FROM events WHERE event_id < 500 ORDER BY event_id"""),
    (s, d) => T(s, d, "events").where(col("event_id") < 500)
      .withColumn("j", from_json(col("props"), org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType)))))
      .select(col("event_id"), col("j.k").as("k"),
        to_json(struct((col("j.k") * 2).as("k2"))).as("doubled_json"))
      .orderBy("event_id"))


  // try_cast: ANSI-safe parsing (NULL on failure instead of a runtime
  // error — the engine runs with ANSI mode on).
  private val q61 = Q("q61_try_cast", Some("""
    WITH raw AS (
      SELECT p_partkey,
        concat(CASE WHEN p_partkey % 3 = 0 THEN 'x' ELSE '' END,
               cast(p_partkey as varchar)) AS s
      FROM part WHERE p_partkey <= 600)
    SELECT p_partkey, TRY_CAST(s AS INTEGER) AS parsed,
      coalesce(TRY_CAST(s AS INTEGER), -1) AS parsed_or_default
    FROM raw ORDER BY p_partkey"""),
    (s, d) => T(s, d, "part").where(col("p_partkey") <= 600)
      .select(col("p_partkey"),
        concat(when(col("p_partkey") % 3 === 0, "x").otherwise(""),
          col("p_partkey").cast("string")).as("s"))
      .select(col("p_partkey"),
        expr("try_cast(s AS INT)").as("parsed"),
        coalesce(expr("try_cast(s AS INT)"), lit(-1)).as("parsed_or_default"))
      .orderBy("p_partkey"))


  // The flatMapGroupsWithState sessionizer as a first-class checked
  // query: explicit per-user state (two longs) folded over AvailableNow
  // micro-batches equals the batch lag/flag/sum sessionization.
  private val q62 = Q("q62_stream_sessions", Some("""
    WITH flagged AS (
      SELECT user_id,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, cast(sum(new_session) as bigint) AS n_sessions, count(*) AS n_events
    FROM flagged GROUP BY user_id ORDER BY user_id"""),
    (s, d) => graft.streaming.StatefulOps.streamingSessionStats(
        s, s"$d/events.parquet", gapSeconds = 1800L,
        queryName = "graft_stream_sessions_" + math.abs(d.hashCode),
        statePartitions = streamStatePartitions)
      .orderBy("user_id"))


  // Point-in-interval join executed as a binned EQUI-join
  // (IntervalJoin.pointInInterval): intervals replicate to the fixed-width
  // bins they overlap, points hash to their own bin, containment runs as a
  // residual filter — a hash-shuffle plan with no broadcast-nested-loop
  // and no broadcast-size ceiling, unlike a raw BETWEEN join. The oracle
  // checks pure containment semantics.
  private val q65 = Q("q65_interval_bin_join", Some("""
    SELECT o.o_orderkey, count(*) AS n_items,
      cast(round(sum(cast(l.l_quantity as decimal(12,2))), 2) as double) AS qty
    FROM orders o JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 7 DAY
    WHERE o.o_orderkey % 1000 = 0
    GROUP BY 1 ORDER BY o_orderkey"""),
    (s, d) => {
      val epoch = to_date(lit("1970-01-01"))
      val intervals = T(s, d, "orders")
        .where(col("o_orderkey") % 1000 === 0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), epoch).as("_start"),
          (datediff(col("o_orderdate"), epoch) + 7).as("_end"))
      val points = T(s, d, "lineitem")
        .select(col("l_quantity"), datediff(col("l_shipdate"), epoch).as("_p"))
      IntervalJoin.pointInInterval(points, intervals, "_p", "_start", "_end",
          binWidth = 7L)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"), sumMoney(col("l_quantity")).as("qty"))
        .orderBy("o_orderkey")
    })


  // The binned-range-join OPTIMIZER RULE exercised end-to-end against
  // the oracle: the Spark side writes the naive BETWEEN join (no manual
  // binning), enables plans.BinnedRangeJoinRule for the scope of an
  // eager materialization, and returns the rewritten-plan result. Same
  // containment semantics as q65, different window/keys — proving the
  // plan-time rewrite is value-preserving, not just shape-preserving.
  private val q67 = Q("q67_rule_range_join", Some("""
    SELECT o.o_orderkey, count(*) AS n_items,
      cast(round(sum(cast(l.l_quantity as decimal(12,2))), 2) as double) AS qty
    FROM orders o JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 14 DAY
    WHERE o.o_orderkey % 500 = 0
    GROUP BY 1 ORDER BY o_orderkey"""),
    (s, d) => {
      val epoch = to_date(lit("1970-01-01"))
      val intervals = T(s, d, "orders")
        .where(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), epoch).as("_start"),
          (datediff(col("o_orderdate"), epoch) + 14).as("_end"))
      val points = T(s, d, "lineitem")
        .select(col("l_quantity"), datediff(col("l_shipdate"), epoch).as("_p"))
      // the naive no-equi-key BETWEEN join — the rule supplies the bins
      val naive = points.join(intervals,
          col("_p") >= col("_start") && col("_p") <= col("_end"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"), sumMoney(col("l_quantity")).as("qty"))
        .orderBy("o_orderkey")
      val rule = graft.plans.BinnedRangeJoinRule
      if (!s.experimental.extraOptimizations.exists(_ eq rule))
        s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ rule
      s.conf.set(rule.WidthConf, "14")
      try naive.localCheckpoint() // eager: optimized (rewritten) here
      finally s.conf.unset(rule.WidthConf)
    })


  // Z-order layout x binned-range-join rule, composed (see
  // queries.ZOrderRangeJoin): selective predicates on both z-clustered
  // columns prune the scan, the bin-free BETWEEN join is rewritten to a
  // binned equi-join at plan time. The oracle runs the same predicates and
  // join on the ORIGINAL lineitem — the z-ordered copy holds the same
  // rows, so identical results prove the layout + rewrite are both
  // value-preserving.
  private val q71 = Q("q71_zorder_range_join", Some("""
    WITH pts AS (
      SELECT l_shipdate, l_quantity FROM lineitem
      WHERE l_partkey BETWEEN 50 AND 500 AND l_suppkey BETWEEN 2 AND 40),
    iv AS (
      SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey % 200 = 0)
    SELECT o_orderkey, count(*) AS n_items,
      cast(round(sum(cast(l_quantity as decimal(12,2))), 2) as double) AS qty
    FROM iv JOIN pts
      ON l_shipdate >= o_orderdate
     AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
    GROUP BY 1 ORDER BY o_orderkey"""),
    (s, d) => ZOrderRangeJoin.run(s, d))


  // Streaming MERGE: the latest row per user maintained incrementally
  // across micro-batches (StreamingOps.streamingLatestPerKey, one
  // parquet generation per batch). Batching is invisible in the result —
  // the per-key max over (ts, event_id) is associative — so the oracle
  // is the plain batch latest-per-key (q47's shape).
  private val q66 = Q("q66_stream_upsert", Some("""
    WITH r AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_id, ts_us FROM r WHERE rn = 1 ORDER BY user_id"""),
    (s, d) => graft.streaming.StreamingOps
      .streamingLatestPerKey(s, s"$d/events.parquet",
        statePartitions = streamStatePartitions)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .orderBy("user_id"))


  // Streaming near-dup ingestion gate: dd08's batch-vs-history banded
  // candidate join as a stream-static topology (q72's enrichment shape
  // applied to the dd02 kernel) — each micro-batch of new docs derives
  // band keys statelessly and joins the STATIC history band index (no
  // state store, no watermark on the history side; at scale the
  // persisted bucketed band table). One row per flagged doc with its
  // distinct history-candidate count. Declared AFTER minhashCtes — val
  // init order (the pqTrainCtesNoV lesson). The oracle replays the gate
  // in batch SQL: streaming and batch agree because the per-batch band
  // join is stateless and the running count-distinct is associative.
  private val q75 = Q("q75_stream_neardup_gate", Some(s"""
    WITH $minhashCtes
    SELECT n.doc_id AS new_id,
      cast(count(DISTINCT e.doc_id) as bigint) AS n_hits
    FROM bands n JOIN bands e
      ON n.band_id = e.band_id AND n.band_key = e.band_key
    WHERE n.doc_id >= 400 AND e.doc_id < 400
    GROUP BY 1 ORDER BY new_id"""),
    (s, d) => {
      val docs = T(s, d, "documents")
      graft.streaming.StreamingOps.streamNearDupGate(s,
          s"$d/documents.parquet", docs.where(col("doc_id") < 400),
          col("doc_id") >= 400,
          queryName = "graft_stream_neardup_" + math.abs(d.hashCode),
          statePartitions = streamStatePartitions)
        .orderBy("new_id")
    })


  // Streaming token-distribution drift monitor: tx15's ingestion gate
  // run CONTINUOUSLY (StreamingOps.streamTokenDrift) — each micro-batch
  // folds its per-(lang, token-hash) counts into a cumulative state
  // table (one generation per batch, the q66 foreachBatch loop), the
  // static history counts compute once, and the final drift uses the
  // IDENTICAL TextOps.driftFromCounts tail as the batch op. Counts are
  // associative, so any micro-batching folds to the batch answer — the
  // oracle IS tx15's SQL.
  private val q76 = Q("q76_stream_token_drift", Some(driftSql),
    (s, d) => {
      val docs = T(s, d, "documents")
      graft.streaming.StreamingOps.streamTokenDrift(s,
          s"$d/documents.parquet", docs.where(col("doc_id") < 400),
          col("doc_id") >= 400,
          queryName = "graft_stream_drift_" + math.abs(d.hashCode),
          statePartitions = streamStatePartitions)
        .orderBy("lang")
    })


  // Triangle counting over the co-purchase graph (GraphOps.triangleCounts):
  // parts are connected when they appear in ≥ 2 common orders (the
  // support threshold prunes the quadratic tail of one-off
  // co-occurrences), and a part's triangle participation — the
  // clustering-coefficient numerator — is the classic "bundle" /
  // community-structure signal. Edge derivation is one per-order
  // self-join bounded by items-per-order (~7 ⇒ ≤ 21 pairs per order,
  // linear in lineitem); counting is degree-oriented wedge closure, so
  // the wedge fan-out is outdeg² ≤ O(m) total, never deg² (a celebrity
  // part cannot blow it up). No windows, no iteration — three shuffles.
  // Oracle note: the multi-referenced CTEs are AS MATERIALIZED — purely an
  // evaluation hint (identical semantics/rows). Without it DuckDB inlines
  // each reference, and the `corners` 3-way union of `tri` re-expands the
  // whole edge-derivation tree per branch: at the decade corpus that
  // spilled >40 GB and never finished, where the materialized form runs in
  // ~30 s (measured r18; same class of exponential-inline blowup as ann18).
  private val q77 = Q("q77_triangle_count", Some(s"""
    WITH $copurchaseMatCtes,
    deg AS MATERIALIZED (SELECT k, count(*) AS d FROM (
        SELECT u AS k FROM e0 UNION ALL SELECT v AS k FROM e0) GROUP BY k),
    ed AS MATERIALIZED (
      SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e0.u < e0.v)
                  THEN e0.u ELSE e0.v END AS s,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e0.u < e0.v)
                  THEN e0.v ELSE e0.u END AS t,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e0.u < e0.v)
                  THEN dv.d ELSE du.d END AS dt
      FROM e0 JOIN deg du ON du.k = e0.u JOIN deg dv ON dv.k = e0.v),
    tri AS MATERIALIZED (
      SELECT e1.s AS a, e1.t AS b, e2.t AS c
      FROM ed e1
      JOIN ed e2 ON e1.s = e2.s
        AND ((e1.dt < e2.dt) OR (e1.dt = e2.dt AND e1.t < e2.t))
      JOIN ed e3 ON e3.s = e1.t AND e3.t = e2.t),
    corners AS (SELECT k, count(*) AS n_tri FROM (
        SELECT a AS k FROM tri UNION ALL SELECT b AS k FROM tri
        UNION ALL SELECT c AS k FROM tri) GROUP BY k)
    SELECT c.k AS node, cast(deg.d as bigint) AS degree,
      cast(c.n_tri as bigint) AS n_tri
    FROM corners c JOIN deg ON deg.k = c.k
    ORDER BY n_tri DESC, node LIMIT 20"""),
    (s, d) => GraphOps.triangleCounts(
        SharedArtifacts.copurchaseEdges(s, d), "u", "v")
      .orderBy(col("n_tri").desc, col("node"))
      .limit(20))


  // Two-level mergeable-sketch rollup — THE 100 TB aggregation pattern:
  // persist small per-(group, day) sketches once, answer any coarser
  // rollup by re-aggregating sketches, never re-reading raw data. KMV's
  // merge (union, keep k smallest) is exact for the k minima, so the
  // month-merged estimate provably EQUALS the direct estimate over raw
  // rows — the query outputs both paths and the oracle hash-checks the
  // equality. Both levels are the k-bounded partial aggregation
  // (functions.KmvAggregator): the level-2 shuffle carries
  // O(groups × months × k) sketch values, independent of row count.
  private val q78 = Q("q78_sketch_merge", Some("""
    WITH h AS (
      SELECT DISTINCT o_orderpriority AS pri, strftime(o_orderdate, '%Y-%m') AS m,
        ('0x' || substr(md5(cast(o_custkey as varchar)), 1, 15))::BIGINT AS h
      FROM orders),
    mk AS (SELECT pri, m, h FROM (
        SELECT pri, m, h, row_number() OVER (PARTITION BY pri, m ORDER BY h) AS rn
        FROM h) t WHERE rn <= 64),
    u AS (SELECT DISTINCT pri, h FROM mk),
    r AS (SELECT pri, h,
        row_number() OVER (PARTITION BY pri ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY pri) AS nd
      FROM u),
    mest AS (SELECT pri,
        cast(CASE WHEN nd < 64 THEN cast(nd as double)
             ELSE floor(63.0 * 1152921504606846976.0 / cast(h as double)) END as bigint) AS est_merged
      FROM r WHERE rn = least(nd, 64)),
    rd AS (SELECT pri, h,
        row_number() OVER (PARTITION BY pri ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY pri) AS nd
      FROM (SELECT DISTINCT pri, h FROM h) t),
    dest AS (SELECT pri, cast(nd as bigint) AS n_exact,
        cast(CASE WHEN nd < 64 THEN cast(nd as double)
             ELSE floor(63.0 * 1152921504606846976.0 / cast(h as double)) END as bigint) AS est_direct
      FROM rd WHERE rn = least(nd, 64))
    SELECT m.pri, d.n_exact, m.est_merged, d.est_direct
    FROM mest m JOIN dest d USING (pri) ORDER BY m.pri"""),
    (s, d) => {
      val kmv = udaf(new graft.functions.KmvAggregator(64),
        org.apache.spark.sql.Encoders.scalaLong)
      def est(sk: Column): Column =
        when(size(sk) < 64, size(sk).cast("double"))
          .otherwise(floor(lit(63.0) * lit(1.152921504606846976e18)
            / element_at(sk, 64).cast("double")))
          .cast("long")
      val h = T(s, d, "orders").select(
        col("o_orderpriority").as("pri"),
        date_format(col("o_orderdate"), "yyyy-MM").as("m"),
        conv(substring(md5(col("o_custkey").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      val monthly = h.groupBy("pri", "m").agg(kmv(col("h")).as("sk"))
      val merged = monthly
        .select(col("pri"), explode(col("sk")).as("h"))
        .groupBy("pri").agg(kmv(col("h")).as("sk"))
        .select(col("pri"), est(col("sk")).as("est_merged"))
      val direct = h.groupBy("pri")
        .agg(countDistinct(col("h")).as("n_exact"), kmv(col("h")).as("sk"))
        .select(col("pri"), col("n_exact"), est(col("sk")).as("est_direct"))
      merged.join(direct, Seq("pri"))
        .select(col("pri"), col("n_exact"), col("est_merged"), col("est_direct"))
        .orderBy("pri")
    })


  // First-order event-path transition matrix (the Markov-chain view of
  // user journeys): consecutive-event pairs per user, counted into a
  // (from, to) matrix with row-normalized probabilities. The only
  // corpus-sized operation is ONE lead() window partitioned by the
  // high-cardinality user key (hash-partitioned, per-user sort bounded
  // by session length — the q47 shape); the normalization runs over the
  // |types|² reduced matrix. One mirrored IEEE division per cell.
  private val q79 = Q("q79_transition_matrix", Some("""
    WITH tr AS (
      SELECT event_type AS from_type,
        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events),
    c AS (SELECT from_type, to_type, count(*) AS n FROM tr
          WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
    t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY from_type)
    SELECT c.from_type, c.to_type, cast(c.n as bigint) AS n,
      round(cast(c.n as double) / cast(t.tot as double), 6) AS p
    FROM c JOIN t USING (from_type)
    ORDER BY c.from_type, c.to_type"""),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tr = T(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
      val counts = tr.groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("from_type").agg(sum("n").as("tot"))
      counts.join(totals, "from_type")
        .select(col("from_type"), col("to_type"), col("n").cast("long").as("n"),
          round(col("n").cast("double") / col("tot").cast("double"), 6).as("p"))
        .orderBy("from_type", "to_type")
    })


  private val q68 = Q("q68_pagerank", Some(s"""
    WITH e AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    meta AS (SELECT 1000000000000 // greatest(1, count(*)) AS init FROM nodes),
    deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
    r0 AS (SELECT node, (SELECT init FROM meta) AS pr FROM nodes),
    r1 AS (${pagerankIterSql("r0")}),
    r2 AS (${pagerankIterSql("r1")}),
    r3 AS (${pagerankIterSql("r2")}),
    r4 AS (${pagerankIterSql("r3")}),
    r5 AS (${pagerankIterSql("r4")})
    SELECT node, pr FROM r5 ORDER BY pr DESC, node LIMIT 100"""),
    (s, d) => {
      val edges = Exec.materializeForSelfJoin(
        T(s, d, "orders").join(T(s, d, "lineitem"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + 10000000L).as("dst"))
          .distinct())
      // loop-invariant tables carry a DECLARED partitioning on their
      // per-round join key (guide §2.4 co-partitioned loop state): the
      // contribution join reads edgesDeg without re-shuffling the edge
      // table each round, and the rank rebuild reads nodes likewise —
      // only the O(nodes) contrib rows move per iteration
      val nodes = Exec.materializeForSelfJoinBy(
        edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node"))).distinct(), col("node"))
      // out-degree is joined onto the edge list ONCE, outside the loop —
      // each iteration then needs a single equi-join + one aggregation
      // instead of re-joining deg every round
      val edgesDeg = Exec.materializeForSelfJoinBy(
        edges.join(edges.groupBy("src").agg(count(lit(1)).as("deg")), "src"),
        col("src"))
      // edges fed nodes and edgesDeg, both materialized — free its blocks
      Exec.releaseMaterialized(edges)
      GraphOps.intPageRank(edgesDeg.select(col("src"), col("dst"),
          lit(1L).as("w"), col("deg")),
        nodes.select(col("node"), lit(true).as("teleport")), rounds = 5)
        .orderBy(col("pr").desc, col("node")).limit(100)
        .orderBy(col("pr").desc, col("node"))
    })


  // Z-order (Morton) clustering value: all-integer bit interleave of
  // (customer, order-day), exact in any engine. The layout payoff —
  // per-file min/max ranges shrink on BOTH columns, so point predicates
  // prune files — is measured in LayoutOpsSpec; this query checks the
  // curve value itself.
  private val q69 = Q("q69_zorder_value", Some("""
    SELECT o_orderkey,
      cast(list_sum(list_transform(generate_series(0, 15), i ->
        (((o_custkey >> i) & 1) << (2*i)) + (((days >> i) & 1) << (2*i + 1))))
        as bigint) AS zval
    FROM (
      SELECT o_orderkey, o_custkey,
        (cast(o_orderdate as date) - DATE '1970-01-01') AS days
      FROM orders WHERE o_orderkey <= 2000)
    ORDER BY o_orderkey"""),
    (s, d) => T(s, d, "orders").where(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"),
        graft.operators.LayoutOps.zValue2(col("o_custkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")), 16).as("zval"))
      .orderBy("o_orderkey"))


  // Bounded k-core peeling (GraphOps.kCore — the density-based graph
  // CURATION member of the family q68/dd06/q77/q86/q92): 3 synchronous
  // rounds of "drop nodes with degree < 2, then their edges" over the
  // shared co-purchase artifact; the surviving 2-core is the part of
  // the graph where every member keeps >= 2 connections after the
  // under-connected tail peels away (at sf0.1 the graph collapses from
  // 3.6k edges to a 10-edge core — exactly the curation signal). Round
  // count FIXED and documented (the q92/LPA bounded-iteration
  // discipline); per round one degree hash-agg + two semi-joins, edge
  // keys only.
  private val q97 = Q("q97_kcore", Some(s"""
    WITH $copurchaseMatCtes,
    d1 AS MATERIALIZED (SELECT k, count(*) AS d FROM (
        SELECT u AS k FROM e0 UNION ALL SELECT v AS k FROM e0) GROUP BY k),
    k1 AS MATERIALIZED (SELECT k FROM d1 WHERE d >= 2),
    e1 AS MATERIALIZED (SELECT u, v FROM e0
           WHERE u IN (SELECT k FROM k1) AND v IN (SELECT k FROM k1)),
    d2 AS MATERIALIZED (SELECT k, count(*) AS d FROM (
        SELECT u AS k FROM e1 UNION ALL SELECT v AS k FROM e1) GROUP BY k),
    k2 AS MATERIALIZED (SELECT k FROM d2 WHERE d >= 2),
    e2 AS MATERIALIZED (SELECT u, v FROM e1
           WHERE u IN (SELECT k FROM k2) AND v IN (SELECT k FROM k2)),
    d3 AS MATERIALIZED (SELECT k, count(*) AS d FROM (
        SELECT u AS k FROM e2 UNION ALL SELECT v AS k FROM e2) GROUP BY k),
    k3 AS MATERIALIZED (SELECT k FROM d3 WHERE d >= 2),
    e3 AS MATERIALIZED (SELECT u, v FROM e2
           WHERE u IN (SELECT k FROM k3) AND v IN (SELECT k FROM k3))
    SELECT node, cast(count(*) as bigint) AS degree FROM (
      SELECT u AS node FROM e3 UNION ALL SELECT v AS node FROM e3)
    GROUP BY node ORDER BY node"""),
    (s, d) => GraphOps.kCore(SharedArtifacts.copurchaseEdges(s, d),
        "u", "v", k = 2, rounds = 3)
      .orderBy("node"))


  // Geometric-decay moving-average anomaly flag (the monitoring gate
  // over per-type daily volumes: each day compares against a
  // 2^i-weighted average of its <= 6 PRECEDING observed days — the
  // integer-exact stand-in for EWMA, whose truncating per-step
  // recurrence no closed form mirrors across engines). The baseline
  // rides a ROWS window collect per (type, day) — frame order is the
  // ORDER BY, so both engines build the identical ascending list; num =
  // sum(bl[i] * 2^i), den = 2^(m+1) - 2 in closed form, flags by integer
  // cross-multiplication (n*den vs 2*num), no float in any decision.
  // The sequence(1,0)-descends trap is guarded (first observed day per
  // type has an empty baseline -> NULL ewma, false flags).
  private val q98 = Q("q98_decay_anomaly", Some("""
    WITH dc AS (
      SELECT event_type,
        datediff('day', DATE '1970-01-01', cast(ts as date)) AS d,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, d, n,
        list(n) OVER (PARTITION BY event_type ORDER BY d
          ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS bl
      FROM dc),
    sc AS (
      SELECT event_type, d, n, coalesce(len(bl), 0) AS m,
        CASE WHEN coalesce(len(bl), 0) > 0 THEN
          list_sum(list_transform(generate_series(1, len(bl)),
            i -> bl[i] * (1::BIGINT << i))) END AS num
      FROM w)
    SELECT event_type, cast(d as bigint) AS day_num, cast(n as bigint) AS n,
      CASE WHEN m > 0
        THEN cast((num * 1000000) // ((1::BIGINT << (m + 1)) - 2) as bigint) END
        AS ewma_micro,
      coalesce(m > 0 AND n * ((1::BIGINT << (m + 1)) - 2) > 2 * num, false)
        AS flag_hi,
      coalesce(m > 0 AND 2 * n * ((1::BIGINT << (m + 1)) - 2) < num, false)
        AS flag_lo
    FROM sc ORDER BY event_type, day_num"""),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dc = T(s, d, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("d"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("d")
        .rowsBetween(-6, -1)
      dc.withColumn("bl", collect_list(col("n")).over(w))
        .withColumn("m", size(col("bl")))
        .withColumn("num", expr(
          """case when size(bl) = 0 then cast(null as bigint)
             else aggregate(transform(sequence(1, size(bl)),
               i -> element_at(bl, i) * shiftleft(cast(1 as bigint), i)),
               cast(0 as bigint), (a, x) -> a + x) end"""))
        .withColumn("den", expr(
          "shiftleft(cast(1 as bigint), m + 1) - cast(2 as bigint)"))
        .select(col("event_type"), col("d").cast("long").as("day_num"),
          col("n").cast("long").as("n"),
          when(col("m") > 0,
            expr("(num * cast(1000000 as bigint)) div den")).as("ewma_micro"),
          coalesce(col("m") > 0 && col("n") * col("den") > lit(2L) * col("num"),
            lit(false)).as("flag_hi"),
          coalesce(col("m") > 0 && lit(2L) * col("n") * col("den") < col("num"),
            lit(false)).as("flag_lo"))
        .orderBy("event_type", "day_num")
    })


  // Cohort retention matrix (the classic warehouse engagement rollup:
  // of users whose FIRST activity fell in week w, what share is still
  // active k weeks later). Weeks are integer epoch-day div 7 — no
  // engine-specific calendar truncation enters the keys; the cohort
  // assignment is a per-user min over the distinct (user, week) table,
  // the matrix two hash aggs + one join back; the single IEEE division
  // is nano-rounded and mirrored.
  private val q99 = Q("q99_cohort_retention", Some("""
    WITH uw AS (
      SELECT DISTINCT user_id,
        datediff('day', DATE '1970-01-01', cast(ts as date)) // 7 AS w
      FROM events),
    c AS (SELECT user_id, min(w) AS cw FROM uw GROUP BY user_id),
    sz AS (SELECT cw, count(*) AS n_cohort FROM c GROUP BY cw),
    r AS (
      SELECT c.cw, uw.w - c.cw AS off, count(DISTINCT uw.user_id) AS n_active
      FROM uw JOIN c USING (user_id) GROUP BY 1, 2)
    SELECT cast(r.cw as bigint) AS cohort_week,
      cast(r.off as bigint) AS week_offset,
      cast(r.n_active as bigint) AS n_active,
      cast(sz.n_cohort as bigint) AS n_cohort,
      cast(round(cast(r.n_active as double) / sz.n_cohort * 1000000000.0) as bigint)
        AS retention_nano
    FROM r JOIN sz USING (cw) ORDER BY cohort_week, week_offset"""),
    (s, d) => {
      val uw = T(s, d, "events")
        .select(col("user_id"),
          expr("datediff(to_date(ts), to_date('1970-01-01')) div 7").as("w"))
        .distinct()
      val c = uw.groupBy("user_id").agg(min("w").as("cw"))
      val sz = c.groupBy("cw").agg(count(lit(1)).as("n_cohort"))
      uw.join(c, Seq("user_id"))
        .groupBy(col("cw"), (col("w") - col("cw")).as("off"))
        .agg(countDistinct("user_id").as("n_active"))
        .join(sz, Seq("cw"))
        .select(col("cw").cast("long").as("cohort_week"),
          col("off").cast("long").as("week_offset"),
          col("n_active").cast("long").as("n_active"),
          col("n_cohort").cast("long").as("n_cohort"),
          round(col("n_active").cast("double") / col("n_cohort") * 1e9)
            .cast("long").as("retention_nano"))
        .orderBy("cohort_week", "week_offset")
    })


  // Incremental aggregate maintenance (the materialized-view refresh
  // primitive — dd08's increment-==-scratch discipline applied to the
  // RELATIONAL side): the per-event-type aggregate state over the
  // history partition is a persisted bucketed artifact
  // (SharedArtifacts.evAggState — mergeable components only: count,
  // exact-cents BIGINT sum, min, max), and the refresh touches ONLY the
  // delta partition (event_id % 10 ≥ 8) plus that key-cardinality-sized
  // state — never the history corpus. Merging partial states is one
  // unionByName + re-agg (count→sum, sum→sum, min→min, max→max); the
  // derived avg falls out of the merged sums as one integer division.
  // The oracle computes the SAME aggregate from scratch over ALL events
  // — hash equality IS the incremental-==-scratch proof.
  private val q100 = Q("q100_incremental_agg", Some("""
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
        AS sum_cents,
      CAST(min(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
        AS min_cents,
      CAST(max(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
        AS max_cents,
      CAST(CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
        // count(*) AS BIGINT) AS avg_cents
    FROM events GROUP BY event_type ORDER BY event_type"""),
    (s, d) => {
      val delta = T(s, d, "events")
        .where(expr("event_id % 10 >= 8"))
        .select(col("event_type"),
          (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("cents").as("min_cents"), max("cents").as("max_cents"))
      SharedArtifacts.evAggState(s, d).unionByName(delta)
        .groupBy("event_type")
        .agg(sum("n").as("n"), sum("sum_cents").as("sum_cents"),
          min("min_cents").as("min_cents"), max("max_cents").as("max_cents"))
        .withColumn("avg_cents", expr("sum_cents div n"))
        .orderBy("event_type")
    })


  // Sliding-window distinct (7-day rolling unique users): the query
  // COUNT(DISTINCT) cannot answer at scale — a naive rolling distinct
  // re-scans 7 days of raw events per output day. With mergeable KMV
  // sketches (q78's pattern over TIME instead of hierarchy) each day is
  // sketched ONCE, and every window is a union of ≤ 7 sketches. No
  // range join either: each day's sketch is exploded to the ≤ 7 window
  // days it contributes to (sequence(0,6) → equi-keys), so the whole
  // query is hash aggregations + one equi-semi-join against the
  // reduced day list. n_days shows the left-edge ramp-up.
  private val q81 = Q("q81_sliding_distinct", Some("""
    WITH ev AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
        ('0x' || substr(md5(cast(user_id as varchar)), 1, 15))::BIGINT AS h
      FROM events),
    dh AS (SELECT DISTINCT day, h FROM ev),
    dk AS (SELECT day, h FROM (
        SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
        FROM dh) t WHERE rn <= 64),
    days AS (SELECT DISTINCT day FROM ev),
    contrib AS (
      SELECT strftime(cast(dk.day as date) + cast(o.off as int), '%Y-%m-%d') AS wday,
        dk.day AS sday, dk.h
      FROM dk, (SELECT unnest(generate_series(0, 6)) AS off) o),
    w AS (SELECT c.wday AS day, c.sday, c.h
          FROM contrib c JOIN days d ON c.wday = d.day),
    u AS (SELECT DISTINCT day, h FROM w),
    r AS (SELECT day, h,
        row_number() OVER (PARTITION BY day ORDER BY h) AS rn,
        count(*) OVER (PARTITION BY day) AS nd
      FROM u),
    nd AS (SELECT day, count(distinct sday) AS n_days FROM w GROUP BY day)
    SELECT r.day, cast(nd.n_days as bigint) AS n_days,
      cast(CASE WHEN r.nd < 64 THEN cast(r.nd as double)
           ELSE floor(63.0 * 1152921504606846976.0 / cast(r.h as double)) END
        as bigint) AS est_7d
    FROM r JOIN nd USING (day)
    WHERE r.rn = least(r.nd, 64) ORDER BY r.day"""),
    (s, d) => SketchOps.slidingDistinct7d(
        SketchOps.dailyUserSketches(T(s, d, "events")))
      .orderBy("day"))


  // Last-touch attribution (marketing analytics' standard question:
  // which channel gets credit for each conversion): every purchase is
  // attributed to the LAST preceding non-purchase event in the user's
  // stream — one conditional last_value(... IGNORE NULLS) window per
  // user (hash-partitioned, per-user sort bounded — the q47/q79
  // shape); the share normalization runs over the ≤ |types|-row
  // reduced attribution table (window, no 1-row cross join).
  private val q84 = Q("q84_attribution", Some("""
    WITH a AS (
      SELECT event_type,
        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
          IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr
      FROM events),
    p AS (SELECT coalesce(attr, 'none') AS attr_type, count(*) AS n
          FROM a WHERE event_type = 'purchase' GROUP BY coalesce(attr, 'none')),
    t AS (SELECT attr_type, n, sum(n) OVER () AS tot FROM p)
    SELECT attr_type, cast(n as bigint) AS n_purchases,
      round(cast(n as double) / cast(tot as double), 6) AS share
    FROM t ORDER BY attr_type"""),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val p = T(s, d, "events")
        .withColumn("attr", last(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("attr"), lit("none")).as("attr_type"))
        .agg(count(lit(1)).as("n"))
      p.withColumn("tot", sum("n").over(Window.partitionBy(lit(1))))
        .select(col("attr_type"), col("n").cast("long").as("n_purchases"),
          round(col("n").cast("double") / col("tot").cast("double"), 6).as("share"))
        .orderBy("attr_type")
    })


  // Sketch SET OPERATIONS (the theta-sketch trick on KMV): estimate
  // the user-set UNION and INTERSECTION of every event-type pair from
  // per-type sketches alone — the "audience overlap" question, answered
  // without ever joining raw user sets. The union sketch is the k
  // smallest of the merged sketches (exact for the k minima); the
  // intersection estimate is the classic ratio estimator
  // i/m · est_union where i counts union-sketch members present in
  // BOTH input sketches — computed in pure integers (i·est_union div
  // m). Exact intersections ride along for calibration. Everything
  // past the one sketch-building aggregation runs on the |types|-row
  // reduced table.
  private val q83 = Q("q83_sketch_setops", Some("""
    WITH ev AS (
      SELECT DISTINCT event_type AS et,
        ('0x' || substr(md5(cast(user_id as varchar)), 1, 15))::BIGINT AS h
      FROM events),
    sk AS (SELECT et, list_slice(list_sort(list(h)), 1, 64) AS sk
           FROM ev GROUP BY et),
    pairs AS (SELECT a.et AS et1, b.et AS et2, a.sk AS sk1, b.sk AS sk2
              FROM sk a JOIN sk b ON a.et < b.et),
    c AS (SELECT et1, et2,
        list_slice(list_sort(list_distinct(list_concat(sk1, sk2))), 1, 64) AS usk,
        sk1, sk2
      FROM pairs),
    est AS (SELECT et1, et2, len(usk) AS m,
        len(list_filter(usk, x -> list_contains(sk1, x) AND list_contains(sk2, x))) AS i,
        cast(CASE WHEN len(usk) < 64 THEN cast(len(usk) as double)
             ELSE floor(63.0 * 1152921504606846976.0 / cast(usk[64] as double)) END
          as bigint) AS est_union
      FROM c),
    ex AS (SELECT a.et AS et1, b.et AS et2, count(*) AS n_exact
           FROM ev a JOIN ev b ON a.h = b.h AND a.et < b.et
           GROUP BY a.et, b.et)
    SELECT e.et1, e.et2,
      cast(coalesce(ex.n_exact, 0) as bigint) AS n_exact_inter,
      cast((e.i * e.est_union) // e.m as bigint) AS est_inter,
      e.est_union
    FROM est e LEFT JOIN ex ON ex.et1 = e.et1 AND ex.et2 = e.et2
    ORDER BY e.et1, e.et2"""),
    (s, d) => {
      val kmv = SketchOps.kmvUdaf(64)
      val ev = T(s, d, "events").select(col("event_type").as("et"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h")).distinct()
      val sk = ev.groupBy("et").agg(kmv(col("h")).as("sk"))
      val pairs = sk.as("a").join(sk.as("b"), col("a.et") < col("b.et"))
        .select(col("a.et").as("et1"), col("b.et").as("et2"),
          col("a.sk").as("sk1"), col("b.sk").as("sk2"))
      val est = pairs
        .withColumn("usk", slice(array_sort(array_union(col("sk1"), col("sk2"))), 1, 64))
        .withColumn("m", size(col("usk")))
        .withColumn("i", size(filter(col("usk"),
          x => array_contains(col("sk1"), x) && array_contains(col("sk2"), x))))
        .withColumn("est_union",
          when(col("m") < 64, col("m").cast("double"))
            .otherwise(floor(lit(63.0) * lit(1.152921504606846976e18)
              / element_at(col("usk"), 64).cast("double")))
            .cast("long"))
      val exact = ev.as("a").join(ev.as("b"),
          col("a.h") === col("b.h") && col("a.et") < col("b.et"))
        .groupBy(col("a.et").as("et1"), col("b.et").as("et2"))
        .agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("et1", "et2"), "left")
        .select(col("et1"), col("et2"),
          coalesce(col("n_exact"), lit(0L)).cast("long").as("n_exact_inter"),
          expr("(i * est_union) div m").cast("long").as("est_inter"),
          col("est_union"))
        .orderBy("et1", "et2")
    })


  // q81 run CONTINUOUSLY (StreamingOps.streamSlidingDistinct): per
  // micro-batch, per-day KMV sketches fold into a generation state
  // table — KMV merge is associative, so ANY micro-batching folds to
  // exactly the batch sketch — then the window-merge + estimator tail
  // shared VERBATIM with q81 (SketchOps). State is one ≤ 64-value
  // sketch per observed day (days, not users — the smallest table in
  // the topology); the oracle IS q81's batch SQL.
  private val q82 = Q("q82_stream_sliding_distinct",
    q81.oracle,
    (s, d) => graft.streaming.StreamingOps.streamSlidingDistinct(s,
        s"$d/events.parquet",
        queryName = "graft_stream_sliding_" + math.abs(d.hashCode),
        statePartitions = streamStatePartitions)
      .orderBy("day"))


  // Streaming token-bounded shard export (StreamingOps.streamShardExport
  // — dp24's cut rule run CONTINUOUSLY, the 11th streaming topology):
  // documents stream in as contiguous-id buckets; each micro-batch
  // appends its rows with their bucket-LOCAL exclusive token cumsum;
  // the global cut composes at close from the (#splits)-row bucket
  // totals. The state decomposition (offset + local — PrefixSumOps'
  // two-phase trick applied in TIME) makes the result identical under
  // ANY micro-batch arrival order, so the oracle is simply the batch
  // doc_id-order computation — no file-source ordering assumption
  // anywhere. StreamingOpsSpec additionally asserts multiple
  // micro-batches really ran and the manifest equals the batch
  // assignShards result.
  private val q85 = Q("q85_stream_shard_export", Some("""
    WITH tk AS (SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok
      FROM documents),
    rr AS (SELECT doc_id, tok,
        sum(tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS cum_excl
      FROM tk),
    sa AS (SELECT doc_id, tok, cum_excl // 4096 AS shard FROM rr)
    SELECT cast(shard as bigint) AS shard, cast(count(*) as bigint) AS n_docs,
      cast(sum(tok) as bigint) AS n_tokens,
      cast(min(doc_id) as bigint) AS first_pos,
      cast(max(doc_id) as bigint) AS last_pos,
      md5(string_agg(cast(doc_id as varchar), ',' ORDER BY doc_id)) AS content_md5
    FROM sa GROUP BY shard ORDER BY shard"""),
    (s, d) => graft.streaming.StreamingOps.streamShardExport(s,
        s"$d/documents.parquet",
        queryName = "graft_stream_shards_" + math.abs(d.hashCode),
        statePartitions = streamStatePartitions)
      .orderBy("shard"))


  // Bounded multi-source BFS over the co-purchase graph
  // (GraphOps.boundedDistances): hop distance from every part to its
  // nearest SEED part (pk % 13 == 0) within 3 rounds — the blast-radius
  // query (recall propagation, bad-source neighborhoods) that completes
  // the graph family: q68 global importance, dd06 components, q77 local
  // density, this one reachability. Whole-frontier expansion, one edge
  // equi-join per round, visited pruned by anti-join (first-reach depth
  // = BFS depth, so the oracle's UNION-recursive enumeration min()s to
  // the identical distance). The edge set is q77's shared artifact.
  private val q86 = Q("q86_graph_distance", Some(s"""
    WITH RECURSIVE $copurchaseCtes,
    nodes AS (SELECT DISTINCT s AS k FROM und),
    reach(node, dist) AS (
      SELECT k, 0 FROM nodes WHERE k % 13 = 0
      UNION
      SELECT e.t, r.dist + 1 FROM reach r JOIN und e ON e.s = r.node
      WHERE r.dist < 3)
    SELECT node, cast(min(dist) as int) AS dist
    FROM reach GROUP BY node ORDER BY node"""),
    (s, d) => {
      val edges = SharedArtifacts.copurchaseEdges(s, d)
      val seeds = edges.select(col("u").as("k"))
        .unionByName(edges.select(col("v").as("k")))
        .where(col("k") % 13 === 0).distinct()
      GraphOps.boundedDistances(edges, "u", "v", seeds, "k", maxRounds = 3)
        .select(col("node"), col("dist").cast("int").as("dist"))
        .orderBy("node")
    })


  // PERSONALIZED pagerank (the PPR retrieval/recommendation primitive:
  // "what is relevant to THIS segment", vs q68's global importance):
  // teleport mass returns only to the seed customers (custkey % 50 == 0)
  // and diffuses over the SYMMETRIZED customer-supplier graph, so
  // supplier mass flows back to co-purchasing customers — 4 power
  // iterations localize the walk around the seed segment (bipartite
  // collaborative filtering). Same GraphOps.intPageRank recurrence as
  // q68, with the seed predicate as the teleport flag; the oracle
  // replays every round via pprIterSql.
  private val q87 = Q("q87_personalized_pagerank", Some(s"""
    WITH e AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    eu AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    nodes AS (SELECT DISTINCT src AS node FROM eu),
    degu AS (SELECT src, count(*) AS deg FROM eu GROUP BY src),
    seeds AS (SELECT node FROM nodes WHERE node < 10000000 AND node % 50 = 0),
    smeta AS (SELECT 1000000000000 // greatest(1, count(*)) AS sinit FROM seeds),
    p0 AS (SELECT n.node,
        CASE WHEN s.node IS NOT NULL THEN (SELECT sinit FROM smeta)
             ELSE 0 END AS pr
      FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
    p1 AS (${pprIterSql("p0")}),
    p2 AS (${pprIterSql("p1")}),
    p3 AS (${pprIterSql("p2")}),
    p4 AS (${pprIterSql("p3")})
    SELECT node, pr FROM p4 WHERE pr > 0
    ORDER BY pr DESC, node LIMIT 100"""),
    (s, d) => {
      // the edge-scale intermediates (e, eu, euDeg — O(distinct
      // custkey×suppkey)×2 rows) ride DISK_ONLY (materializeLarge), not
      // localCheckpoint's MEMORY_AND_DISK: the r15 sf1 probe measured
      // 51 GB peak heap / 19% GC with the PPR working set (edges + loop
      // state + shuffle) crowding executor memory (VERDICT r15 #3) —
      // DISK_ONLY keeps the edge copies off-heap and keeps lineage, so
      // a lost block recomputes instead of failing. Loop state (ranks,
      // O(nodes) ≪ O(edges)) is checkpointed per round by intPageRank.
      val e = Exec.materializeLarge(
        T(s, d, "orders").join(T(s, d, "lineitem"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + 10000000L).as("dst"))
          .distinct())
      val eu = Exec.materializeLarge(
        e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
          .distinct())
      e.unpersist(false)
      // loop-invariant node table keyed by the rank-rebuild join key
      // (guide §2.4); the seed flag is a ROW-LOCAL predicate on the node
      // id, so it rides a projection over the keyed handle as the
      // teleport flag instead of a per-round nodes⋈seeds left join
      val nodes = Exec.materializeForSelfJoinBy(
        eu.select(col("src").as("node")).distinct(), col("node"))
      // degrees ride the edge rows (q68's one-join-per-round move),
      // keyed by the contribution join's key so the corpus-sized edge
      // table never re-shuffles inside the loop
      val euDeg = Exec.materializeLargeBy(
        eu.join(eu.groupBy("src").agg(count(lit(1)).as("deg")), "src"),
        col("src"))
      eu.unpersist(false)
      GraphOps.intPageRank(euDeg.select(col("src"), col("dst"),
          lit(1L).as("w"), col("deg")),
        nodes.select(col("node"),
          (col("node") < 10000000L && col("node") % 50 === 0).as("teleport")),
        rounds = 4)
        .where(col("pr") > 0)
        .orderBy(col("pr").desc, col("node")).limit(100)
        .orderBy(col("pr").desc, col("node"))
    })


  // Mergeable QUANTILE sketch rollup (the quantile complement of q78's
  // distinct-count sketches): per-(flag, month) KMV sample sketches —
  // the k smallest ROW-IDENTITY hashes, each carrying its value — merge
  // per flag by union-take-k (exactly the k minima of the union, so the
  // merged sketch equals the sketch a single pass would have built),
  // and p50/p90 read back from the bounded sample. QuantileOps'
  // histogram thresholds need a known bounded domain; this sketch
  // serves unbounded values and rolls up to ANY grouping after the
  // fact — state is groups × k pairs, the only corpus-sized operation
  // is one map-side-combined hash agg. The exact arm (full per-flag
  // rank selection) is the GRADING harness, linear by design like
  // ann07's truth arm; a deployment persists only the sketches. Ranks
  // are integer ceil(q·n) on both engines; a hash collision keeps the
  // smallest value so the sketch is merge-order-independent.
  private val q88 = Q("q88_sketch_quantiles", Some("""
    WITH hv AS (
      SELECT l_returnflag AS pri, strftime(l_shipdate, '%Y-%m') AS m,
        ('0x' || substr(md5(cast(l_orderkey as varchar) || '-' ||
           cast(l_linenumber as varchar)), 1, 15))::BIGINT AS h,
        cast(l_extendedprice as double) AS v
      FROM lineitem),
    hd AS (SELECT pri, m, h, min(v) AS v FROM hv GROUP BY pri, m, h),
    mk AS (SELECT pri, m, h, v FROM (
        SELECT pri, m, h, v,
          row_number() OVER (PARTITION BY pri, m ORDER BY h) AS rn
        FROM hd) t WHERE rn <= 128),
    mu AS (SELECT pri, h, min(v) AS v FROM mk GROUP BY pri, h),
    mg AS (SELECT pri, h, v FROM (
        SELECT pri, h, v,
          row_number() OVER (PARTITION BY pri ORDER BY h) AS rn
        FROM mu) t WHERE rn <= 128),
    sm AS (SELECT pri, count(*) AS ns FROM mg GROUP BY pri),
    sv AS (SELECT pri, v,
        row_number() OVER (PARTITION BY pri ORDER BY v, h) AS vr FROM mg),
    est AS (SELECT sv.pri, max(sm.ns) AS n_sample,
        max(CASE WHEN sv.vr = (sm.ns + 1) // 2 THEN sv.v END) AS est_p50,
        max(CASE WHEN sv.vr = (sm.ns * 9 + 9) // 10 THEN sv.v END) AS est_p90
      FROM sv JOIN sm USING (pri) GROUP BY sv.pri),
    ev AS (SELECT l_returnflag AS pri, cast(l_extendedprice as double) AS v
           FROM lineitem),
    ec AS (SELECT pri, count(*) AS n FROM ev GROUP BY pri),
    er AS (SELECT pri, v,
        row_number() OVER (PARTITION BY pri ORDER BY v) AS vr FROM ev),
    ex AS (SELECT er.pri, max(ec.n) AS n_rows,
        max(CASE WHEN er.vr = (ec.n + 1) // 2 THEN er.v END) AS exact_p50,
        max(CASE WHEN er.vr = (ec.n * 9 + 9) // 10 THEN er.v END) AS exact_p90
      FROM er JOIN ec USING (pri) GROUP BY er.pri)
    SELECT e.pri, cast(x.n_rows as bigint) AS n_rows,
      cast(e.n_sample as bigint) AS n_sample,
      e.est_p50, x.exact_p50, e.est_p90, x.exact_p90
    FROM est e JOIN ex x USING (pri) ORDER BY e.pri"""),
    (s, d) => {
      val kmv = SketchOps.kmvPairUdaf(128)
      val hv = T(s, d, "lineitem").select(
        col("l_returnflag").as("pri"),
        date_format(col("l_shipdate"), "yyyy-MM").as("m"),
        conv(substring(md5(concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("h"),
        col("l_extendedprice").cast("double").as("v"))
      val monthly = hv.groupBy("pri", "m")
        .agg(kmv(col("h"), col("v")).as("sk"))
      val merged = monthly.select(col("pri"), explode(col("sk")).as("p"))
        .select(col("pri"), col("p.h").as("h"), col("p.v").as("v"))
        .groupBy("pri").agg(kmv(col("h"), col("v")).as("sk"))
        .select(col("pri"), size(col("sk")).cast("long").as("n_sample"),
          SketchOps.sampleQuantile(col("sk"), 1, 2).as("est_p50"),
          SketchOps.sampleQuantile(col("sk"), 9, 10).as("est_p90"))
      def crank(n: Column, num: Int, den: Int): Column =
        floor((n * num + (den - 1)) / den).cast("long")
      val ev = T(s, d, "lineitem").select(col("l_returnflag").as("pri"),
        col("l_extendedprice").cast("double").as("v"))
      val er = ev
        .withColumn("vr", row_number().over(Window.partitionBy("pri").orderBy("v")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("pri")))
      val ex = er.groupBy("pri").agg(max("n").as("n_rows"),
        max(when(col("vr") === crank(col("n"), 1, 2), col("v"))).as("exact_p50"),
        max(when(col("vr") === crank(col("n"), 9, 10), col("v"))).as("exact_p90"))
      merged.join(ex, Seq("pri"))
        .select(col("pri"), col("n_rows").cast("long").as("n_rows"),
          col("n_sample"), col("est_p50"), col("exact_p50"),
          col("est_p90"), col("exact_p90"))
        .orderBy("pri")
    })


  // Mergeable HEAVY-HITTERS summaries (Misra-Gries under the Agarwal et
  // al. "Mergeable Summaries" merge — the frequency complement of q78's
  // distinct-count and q88's quantile sketches): per-(flag, month)
  // exact part histograms truncate to k=16 MG counters by subtracting
  // the (k+1)-th largest count (an exact histogram IS a zero-error MG
  // summary, and the subtract-and-drop step is the paper's merge
  // applied to it); the monthly summaries then merge per flag by
  // summing surviving counters and subtracting the merged (k+1)-th
  // largest again. Every estimate UNDERCOUNTS by at most the summed
  // subtracted thresholds — reported as `bound` and graded row-by-row
  // against the exact arm (est <= exact <= est + bound, spec-asserted).
  // State is groups x k counters; both corpus-sized operations are
  // map-side-combined hash aggs, and each (k+1)-th-largest window runs
  // over one group's counter rows, never the corpus. The threshold is
  // the (k+1)-th largest VALUE (duplicates counted), so ties need no
  // ordering contract — any tie order yields the same threshold.
  private val q89 = Q("q89_heavy_hitters", Some("""
    WITH c1 AS (
      SELECT l_returnflag AS pri, strftime(l_shipdate, '%Y-%m') AS m,
             l_partkey AS pk, count(*) AS cnt
      FROM lineitem GROUP BY 1, 2, 3),
    t1 AS (
      SELECT pri, m, coalesce(max(CASE WHEN rn = 17 THEN cnt END), 0) AS t
      FROM (SELECT pri, m, cnt,
              row_number() OVER (PARTITION BY pri, m
                                 ORDER BY cnt DESC, pk) AS rn
            FROM c1) z
      GROUP BY pri, m),
    s1 AS (
      SELECT c1.pri, c1.pk, c1.cnt - t1.t AS w
      FROM c1 JOIN t1 USING (pri, m) WHERE c1.cnt - t1.t > 0),
    m1 AS (SELECT pri, pk, sum(w) AS w FROM s1 GROUP BY pri, pk),
    t2 AS (
      SELECT pri, coalesce(max(CASE WHEN rn = 17 THEN w END), 0) AS tt
      FROM (SELECT pri, w, pk,
              row_number() OVER (PARTITION BY pri
                                 ORDER BY w DESC, pk) AS rn
            FROM m1) z
      GROUP BY pri),
    mg AS (
      SELECT m1.pri, m1.pk, m1.w - t2.tt AS est
      FROM m1 JOIN t2 USING (pri) WHERE m1.w - t2.tt > 0),
    ex AS (SELECT l_returnflag AS pri, l_partkey AS pk, count(*) AS exact
           FROM lineitem GROUP BY 1, 2),
    bd AS (SELECT t1.pri, sum(t1.t) AS tsum FROM t1 GROUP BY t1.pri)
    SELECT mg.pri, mg.pk, cast(mg.est as bigint) AS est,
      cast(ex.exact as bigint) AS exact,
      cast(bd.tsum + t2.tt as bigint) AS bound
    FROM mg JOIN ex USING (pri, pk) JOIN bd USING (pri) JOIN t2 USING (pri)
    ORDER BY mg.pri, est DESC, mg.pk"""),
    (s, d) => {
      val k = 16
      val li = T(s, d, "lineitem")
      val c1 = li.groupBy(col("l_returnflag").as("pri"),
          date_format(col("l_shipdate"), "yyyy-MM").as("m"),
          col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("cnt"))
      val w1 = Window.partitionBy("pri", "m")
        .orderBy(col("cnt").desc, col("pk"))
      val t1 = c1.withColumn("rn", row_number().over(w1))
        .groupBy("pri", "m")
        .agg(coalesce(max(when(col("rn") === k + 1, col("cnt"))), lit(0L))
          .as("t"))
      val s1 = c1.join(t1, Seq("pri", "m"))
        .select(col("pri"), col("pk"), (col("cnt") - col("t")).as("w"))
        .where(col("w") > 0)
      val m1 = s1.groupBy("pri", "pk").agg(sum("w").as("w"))
      val w2 = Window.partitionBy("pri").orderBy(col("w").desc, col("pk"))
      val t2 = m1.withColumn("rn", row_number().over(w2))
        .groupBy("pri")
        .agg(coalesce(max(when(col("rn") === k + 1, col("w"))), lit(0L))
          .as("tt"))
      val mg = m1.join(t2, Seq("pri"))
        .select(col("pri"), col("pk"), (col("w") - col("tt")).as("est"))
        .where(col("est") > 0)
      val ex = li.groupBy(col("l_returnflag").as("pri"),
          col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("exact"))
      val bd = t1.groupBy("pri").agg(sum("t").as("tsum"))
      mg.join(ex, Seq("pri", "pk")).join(bd, Seq("pri")).join(t2, Seq("pri"))
        .select(col("pri"), col("pk"), col("est").cast("long").as("est"),
          col("exact").cast("long").as("exact"),
          (col("tsum") + col("tt")).cast("long").as("bound"))
        .orderBy(col("pri"), col("est").desc, col("pk"))
    })


  // Bounded WEIGHTED shortest paths (GraphOps.boundedCheapestPaths —
  // q86's hop metric generalized to edge costs): the cheapest <=3-hop
  // cost from every part to the seed hubs (pk % 13 == 0) over the
  // co-purchase graph, edge cost = 1000000 div support, so strongly
  // co-purchased parts are "close" — the routing / trust-propagation
  // query the graph family lacked. Bellman-Ford relaxes the whole
  // distance table each round (a reached node's cost can still improve,
  // so there is no frontier to prune); the oracle replays each round as
  // an unrolled UNION/min CTE over the identical edge set. All-integer
  // costs; the edge set is q77/q86's shared weighted artifact.
  private val q90 = Q("q90_cheapest_path", Some(s"""
    WITH pp AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e0 AS (
      SELECT a.pk AS u, b.pk AS v, count(*) AS supp
      FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk HAVING count(*) >= 2),
    und AS (
      SELECT u AS s, v AS t, 1000000 // supp AS c FROM e0
      UNION ALL SELECT v, u, 1000000 // supp FROM e0),
    d0 AS (
      SELECT DISTINCT s AS node, cast(0 as bigint) AS cost
      FROM und WHERE s % 13 = 0),
    d1 AS (${bfIterSql("d0")}),
    d2 AS (${bfIterSql("d1")}),
    d3 AS (${bfIterSql("d2")})
    SELECT node, cast(cost as bigint) AS cost FROM d3 ORDER BY node"""),
    (s, d) => {
      val ew = SharedArtifacts.copurchaseWeighted(s, d)
        .select(col("u"), col("v"), expr("1000000 div supp").as("c"))
      val seeds = ew.select(col("u").as("k"))
        .unionByName(ew.select(col("v").as("k")))
        .where(col("k") % 13 === 0).distinct()
      GraphOps.boundedCheapestPaths(ew, "u", "v", "c", seeds, "k",
          maxRounds = 3)
        .select(col("node"), col("cost").cast("long").as("cost"))
        .orderBy("node")
    })


  // SCD Type-2 history build (SnapshotOps.scd2 — the dimension-table
  // complement of the J1/J2 snapshot ops): reconstruct each user's
  // slowly-changing event_type history from the raw event log —
  // consecutive repeats collapse, every CHANGE opens a version with
  // [valid_from, valid_to) stitched from the next change's timestamp
  // (NULL = current) — the standard warehouse backfill when a dimension
  // was never historized. Two per-key windows over the change rows,
  // no join, no corpus-wide window; event_id breaks equal-timestamp
  // ties identically on both engines, and validity bounds are integer
  // epoch microseconds (the epoch_us parity convention). user_id < 50
  // bounds the OUTPUT for the oracle diff; the windows are per-user
  // either way.
  private val q91 = Q("q91_scd2_history", Some("""
    WITH src AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events WHERE user_id < 50),
    o AS (
      SELECT user_id, event_type, ts_us, event_id,
        lag(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts_us, event_id) AS prev,
        row_number() OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS rn
      FROM src),
    ch AS (
      -- null-safe change test mirroring SnapshotOps.scd2's first-row
      -- flag + `<=>` (ADVICE r14 #1): `prev IS NULL OR <>` would drop
      -- X->NULL transitions and open a spurious version after every
      -- NULL attribute; rn = 1 + IS DISTINCT FROM matches the Scala
      -- semantics on NULL event_type exactly
      SELECT user_id, event_type, ts_us, event_id FROM o
      WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
    scd AS (
      SELECT user_id, event_type, ts_us AS valid_from_us,
        lead(ts_us) OVER (PARTITION BY user_id
                          ORDER BY ts_us, event_id) AS valid_to_us,
        row_number() OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS version
      FROM ch)
    SELECT user_id, cast(version as int) AS version, event_type,
      cast(valid_from_us as bigint) AS valid_from_us,
      cast(valid_to_us as bigint) AS valid_to_us
    FROM scd ORDER BY user_id, version"""),
    (s, d) => SnapshotOps.scd2(
        T(s, d, "events").where(col("user_id") < 50),
        "user_id", "event_type", "ts", "event_id")
      .select(col("user_id"), col("version").cast("int").as("version"),
        col("event_type"), col("valid_from_us"), col("valid_to_us"))
      .orderBy("user_id", "version"))


  // Synchronous label propagation over the co-purchase graph
  // (GraphOps.labelPropagation — deterministic LPA, community
  // detection): 3 rounds of adopt-the-most-frequent-neighbor-label
  // with the smaller label breaking ties, over the same shared edge
  // artifact q77/q86/q90 analyze. Completes the graph family's last
  // gap — q68 importance, dd06 connectivity, q77 density, q86/q90
  // reachability, this one COMMUNITY structure. Per round: one edge
  // equi-join, one (node, label) hash count, one degree-bounded
  // window; the oracle replays the 3 synchronous rounds as unrolled
  // nested-window CTEs (lpIterSql). Fixed rounds, not convergence —
  // synchronous LPA can 2-cycle, so bounded rounds IS the contract.
  private val q92 = Q("q92_label_prop", Some(s"""
    WITH $copurchaseCtes,
    p0 AS (SELECT DISTINCT s AS node, s AS label FROM und),
    p1 AS (${lpIterSql("p0")}),
    p2 AS (${lpIterSql("p1")}),
    p3 AS (${lpIterSql("p2")})
    SELECT node, label AS community,
      cast(count(*) OVER (PARTITION BY label) as bigint) AS comm_size
    FROM p3 ORDER BY node"""),
    (s, d) => {
      val labels = GraphOps.labelPropagation(
        SharedArtifacts.copurchaseEdges(s, d), "u", "v", rounds = 3)
      labels
        .withColumn("comm_size",
          count(lit(1)).over(Window.partitionBy("label")).cast("long"))
        .select(col("node"), col("label").as("community"), col("comm_size"))
        .orderBy("node")
    })


  // Time-series gap filling with linear interpolation (the missing-day
  // repair every monitoring/forecasting pipeline runs before modeling):
  // a sparse daily event-count series per event_type (decimated by
  // user_id % 503 so real gaps exist at every SF) has its interior
  // missing days filled by interpolating between the enclosing observed
  // days. NO grid join: each consecutive observed pair (lead() over the
  // per-type OBSERVED rows — state = days, never events) explodes its
  // own gap range directly, so work is O(observed + emitted). The
  // interpolation is the non-negative-weighted integer form
  // (v0·(d1−g) + v1·(g−d0))·1e9 div (d1−d0) — numerator ≥ 0, where
  // Spark's truncating `div` and DuckDB's flooring `//` agree (the
  // negative-operand divergence never arises). Gap explode guarded to
  // width ≥ 2 (Spark's `sequence` DESCENDS where DuckDB's
  // generate_series is empty — the TESTDATA gotcha).
  private val q93 = Q("q93_gap_fill", Some("""
    WITH f AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day
      FROM events WHERE user_id % 503 = 0),
    o AS (SELECT event_type, day, count(*) AS cnt FROM f GROUP BY 1, 2),
    iv AS (SELECT event_type, day, cnt,
            lead(day) OVER (PARTITION BY event_type ORDER BY day) AS d1,
            lead(cnt) OVER (PARTITION BY event_type ORDER BY day) AS v1
           FROM o),
    gaps AS (
      SELECT event_type, day AS d0, cnt AS v0, d1, v1,
        unnest(generate_series(day + 1, d1 - 1)) AS gday
      FROM iv WHERE d1 IS NOT NULL AND d1 - day >= 2),
    interp AS (
      SELECT event_type, gday AS day,
        (v0 * (d1 - gday) + v1 * (gday - d0)) * 1000000000 // (d1 - d0)
          AS val_nano,
        'interp' AS src
      FROM gaps),
    obs AS (SELECT event_type, day, cnt * 1000000000 AS val_nano,
              'obs' AS src FROM o)
    SELECT event_type, cast(day as bigint) AS day,
      cast(val_nano as bigint) AS val_nano, src
    FROM (SELECT * FROM obs UNION ALL SELECT * FROM interp) u
    ORDER BY event_type, day"""),
    (s, d) => {
      val f = T(s, d, "events").where(col("user_id") % 503 === 0)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      val o = f.groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val iv = o.withColumn("d1", lead("day", 1).over(w))
        .withColumn("v1", lead("cnt", 1).over(w))
      val interp = iv
        .where(col("d1").isNotNull && col("d1") - col("day") >= 2)
        .select(col("event_type"), col("day").as("d0"), col("cnt").as("v0"),
          col("d1"), col("v1"),
          explode(sequence(col("day") + 1, col("d1") - 1)).as("gday"))
        .select(col("event_type"), col("gday").as("day"),
          expr("(v0 * (d1 - gday) + v1 * (gday - d0)) * 1000000000 div (d1 - d0)")
            .as("val_nano"),
          lit("interp").as("src"))
      val obs = o.select(col("event_type"), col("day"),
        (col("cnt") * 1000000000L).as("val_nano"), lit("obs").as("src"))
      obs.unionByName(interp)
        .select(col("event_type"), col("day").cast("long").as("day"),
          col("val_nano").cast("long").as("val_nano"), col("src"))
        .orderBy("event_type", "day")
    })


  // Robust (median/MAD) outlier detection — the abuse/monitoring
  // classic: flag users whose per-type activity deviates from the
  // type's median by more than 3 median-absolute-deviations. All
  // integer: both medians are EXACT percentile_disc(0.5) computed by
  // QuantileOps.discreteQuantile — (group, value) frequency reduction
  // + the cross-multiplied rank test over the REDUCED table — never
  // Spark's value-buffering exact percentile aggregate and never a
  // window over the user rows (the domain of activity counts and
  // deviations is bounded by the max observation, not the user count).
  // The oracle keeps DuckDB's native quantile_disc. 3·MAD is the
  // integer comparison ad > 3·mad, so no float enters the predicate.
  private val q94 = Q("q94_mad_outliers", Some("""
    WITH u AS (
      SELECT event_type, user_id, count(*) AS n
      FROM events GROUP BY 1, 2),
    m AS (SELECT event_type, quantile_disc(n, 0.5) AS med
          FROM u GROUP BY 1),
    dev AS (
      SELECT u.event_type, u.user_id, u.n, m.med, abs(u.n - m.med) AS ad
      FROM u JOIN m USING (event_type)),
    md AS (SELECT event_type, quantile_disc(ad, 0.5) AS mad
           FROM dev GROUP BY 1)
    SELECT d.event_type, d.user_id, cast(d.n as bigint) AS n,
      cast(d.med as bigint) AS med, cast(md.mad as bigint) AS mad
    FROM dev d JOIN md USING (event_type)
    WHERE d.ad > 3 * md.mad
    ORDER BY event_type, user_id"""),
    (s, d) => {
      val u = T(s, d, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      val m = QuantileOps.discreteQuantile(u, Seq("event_type"), "n",
        num = 1, den = 2, outCol = "med")
      val dev = u.join(m, Seq("event_type"))
        .withColumn("ad", abs(col("n") - col("med")))
      val md = QuantileOps.discreteQuantile(dev, Seq("event_type"), "ad",
        num = 1, den = 2, outCol = "mad")
      dev.join(md, Seq("event_type"))
        .where(col("ad") > lit(3) * col("mad"))
        .select(col("event_type"), col("user_id"),
          col("n").cast("long").as("n"), col("med").cast("long").as("med"),
          col("mad").cast("long").as("mad"))
        .orderBy("event_type", "user_id")
    })


  // Streaming column-profile monitor (dp28 run CONTINUOUSLY —
  // StreamingOps.streamColumnProfile, the data-quality dashboard over
  // an arriving table): running counts / nulls / min / max / KMV(64)
  // distinct sketch per column. Every statistic is a streamable monoid
  // — distinct via the null-skipping KMV merge (exact countDistinct is
  // NOT streamable without corpus-sized state; the sketch is the
  // point) — so AvailableNow over the bounded source equals the batch
  // profile EXACTLY, which is what the oracle checks. State is
  // |columns| sketch rows, independent of stream volume; the estimator
  // tail applies after read-back, expression-identical to dp28/q46.
  private val q96 = Q("q96_stream_profile", Some(s"""
    WITH src AS (
      SELECT 'l_orderkey' AS c, cast(l_orderkey as varchar) AS v FROM lineitem
      UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
      UNION ALL SELECT 'l_linestatus_n', nullif(l_linestatus, 'O') FROM lineitem),
    counts AS (
      SELECT c, count(*) AS n_rows, count(*) - count(v) AS n_null,
        min(v) AS min_val, max(v) AS max_val
      FROM src GROUP BY c),
    $kmvNdvCtes
    SELECT counts.c AS col_name, cast(n_rows as bigint) AS n_rows,
      cast(n_null as bigint) AS n_null, min_val, max_val,
      cast(coalesce(ndv_kmv, 0) as bigint) AS ndv_kmv
    FROM counts LEFT JOIN kmv ON kmv.c = counts.c
    ORDER BY col_name"""),
    (s, d) => graft.streaming.StreamingOps.streamColumnProfile(s,
        s"$d/lineitem.parquet",
        queryName = "graft_stream_profile_" + math.abs(d.hashCode),
        statePartitions = streamStatePartitions)
      .orderBy("col_name"))


  // Chi-square independence test (the A/B-testing / cohort-comparison
  // statistic): is event volume independent of day-of-week? The full
  // 5×7 contingency grid comes from a bounded cross join of the two
  // marginal tables (rt × broadcast ct — q83's reduced-table BNLJ
  // shape), LEFT-joined to the observed cells so ZERO-observed cells
  // still contribute their rt·ct/N expectation (dropping them biases
  // the statistic). Everything upstream is three map-side-combinable
  // hash counts over one scan; per-cell contributions are mirrored
  // IEEE arithmetic over exact integer counts (every operand < 2^53),
  // nano-rounded BEFORE the global sum so both engines add the same
  // integers in any order. dow = epoch-day mod 7 — a pure integer both
  // engines agree on, no calendar-convention dependence.
  private val q95 = Q("q95_chisq_independence", Some("""
    WITH f AS (
      SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow
      FROM events),
    o AS (SELECT event_type, dow, count(*) AS o FROM f GROUP BY 1, 2),
    rt AS (SELECT event_type, count(*) AS rt FROM f GROUP BY 1),
    ct AS (SELECT dow, count(*) AS ct FROM f GROUP BY 1),
    n AS (SELECT count(*) AS n FROM f),
    grid AS (SELECT rt.event_type, ct.dow, rt.rt, ct.ct FROM rt CROSS JOIN ct),
    pre AS (
      SELECT g.event_type, g.dow, coalesce(o.o, 0) AS o, g.rt, g.ct, n.n,
        cast(coalesce(o.o, 0) as double) * cast(n.n as double)
          - cast(g.rt as double) * cast(g.ct as double) AS dev,
        cast(g.rt as double) * cast(g.ct as double) * cast(n.n as double) AS den
      FROM grid g LEFT JOIN o ON o.event_type = g.event_type AND o.dow = g.dow
      CROSS JOIN n),
    cells AS (
      SELECT event_type, dow, o,
        cast(round(cast(rt as double) * cast(ct as double)
          / cast(n as double) * 1000000000.0) as bigint) AS e_nano,
        cast(round(dev * dev / den * 1000000000.0) as bigint) AS contrib_nano
      FROM pre),
    tot AS (SELECT cast(sum(contrib_nano) as bigint) AS chi2_nano FROM cells)
    SELECT c.event_type, cast(c.dow as bigint) AS dow, cast(c.o as bigint) AS o,
      c.e_nano, c.contrib_nano, t.chi2_nano
    FROM cells c CROSS JOIN tot t ORDER BY event_type, dow"""),
    (s, d) => {
      val f = T(s, d, "events").select(col("event_type"),
        (expr("unix_micros(ts) div 86400000000") % 7).as("dow"))
      val o = f.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
      val rt = f.groupBy("event_type").agg(count(lit(1)).as("rt"))
      val ctb = f.groupBy("dow").agg(count(lit(1)).as("ct"))
      val n = f.agg(count(lit(1)).as("n"))
      val pre = rt.crossJoin(broadcast(ctb))
        .join(o, Seq("event_type", "dow"), "left").na.fill(0L, Seq("o"))
        .crossJoin(broadcast(n))
        .select(col("event_type"), col("dow"), col("o"), col("rt"),
          col("ct"), col("n"),
          (col("o").cast("double") * col("n").cast("double")
            - col("rt").cast("double") * col("ct").cast("double")).as("dev"),
          (col("rt").cast("double") * col("ct").cast("double")
            * col("n").cast("double")).as("den"))
      val cells = pre.select(col("event_type"), col("dow"), col("o"),
        expr("""cast(round(cast(rt as double) * cast(ct as double)
          / cast(n as double) * 1000000000.0) as bigint)""").as("e_nano"),
        expr("cast(round(dev * dev / den * 1000000000.0) as bigint)")
          .as("contrib_nano"))
      val tot = cells.agg(sum("contrib_nano").cast("long").as("chi2_nano"))
      cells.crossJoin(broadcast(tot))
        .select(col("event_type"), col("dow").cast("long").as("dow"),
          col("o").cast("long").as("o"), col("e_nano"), col("contrib_nano"),
          col("chi2_nano"))
        .orderBy("event_type", "dow")
    })


  // Two-level mergeable-HISTOGRAM quantile rollup — q78's pattern for
  // order statistics: per-(group, month) fixed-bin count vectors are
  // the persisted artifact, any coarser rollup just SUMS counts
  // (histogram merge is addition), and bin-granular p50/p95 thresholds
  // come off the merged vector with the tx16 cum·den ≥ n·num rule. The
  // query computes thresholds via BOTH paths (merged vs direct) and
  // ships both — provably equal, hash-checked. No sort, no
  // value-buffering percentile agg; the cumulative windows run over
  // the ≤ bins-row reduced table per group.
  private val q80 = Q("q80_histogram_rollup", Some("""
    WITH b AS (
      SELECT l_returnflag AS g, strftime(l_shipdate, '%Y-%m') AS m,
        least(cast(floor(l_extendedprice / 117.1875) as bigint), 1023) AS bin
      FROM lineitem),
    lvl1 AS (SELECT g, m, bin, count(*) AS cnt FROM b GROUP BY g, m, bin),
    merged AS (SELECT g, bin, sum(cnt) AS cnt FROM lvl1 GROUP BY g, bin),
    mc AS (SELECT g, bin, cnt,
        sum(cnt) OVER (PARTITION BY g ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        sum(cnt) OVER (PARTITION BY g) AS n
      FROM merged),
    mq AS (SELECT g, max(n) AS n,
        min(CASE WHEN cum * 2 >= n THEN bin END) AS p50_merged,
        min(CASE WHEN cum * 20 >= n * 19 THEN bin END) AS p95_merged
      FROM mc GROUP BY g),
    direct AS (SELECT g, bin, count(*) AS cnt FROM b GROUP BY g, bin),
    dc AS (SELECT g, bin, cnt,
        sum(cnt) OVER (PARTITION BY g ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        sum(cnt) OVER (PARTITION BY g) AS n
      FROM direct),
    dq AS (SELECT g,
        min(CASE WHEN cum * 2 >= n THEN bin END) AS p50_direct,
        min(CASE WHEN cum * 20 >= n * 19 THEN bin END) AS p95_direct
      FROM dc GROUP BY g)
    SELECT mq.g, cast(mq.n as bigint) AS n,
      cast(mq.p50_merged as bigint) AS p50_merged,
      cast(mq.p95_merged as bigint) AS p95_merged,
      cast(dq.p50_direct as bigint) AS p50_direct,
      cast(dq.p95_direct as bigint) AS p95_direct
    FROM mq JOIN dq USING (g) ORDER BY mq.g"""),
    (s, d) => {
      val b = T(s, d, "lineitem").select(
        col("l_returnflag").as("g"),
        date_format(col("l_shipdate"), "yyyy-MM").as("m"),
        least(floor(col("l_extendedprice") / lit(117.1875)), lit(1023L))
          .cast("long").as("bin"))
      def thresholds(counts: DataFrame, p50: String, p95: String): DataFrame = {
        val wCum = Window.partitionBy("g").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("g")
        counts
          .withColumn("cum", sum("cnt").over(wCum))
          .withColumn("n", sum("cnt").over(wAll))
          .groupBy("g")
          .agg(max("n").as("n"),
            min(when(col("cum") * 2 >= col("n"), col("bin"))).as(p50),
            min(when(col("cum") * 20 >= col("n") * 19, col("bin"))).as(p95))
      }
      val lvl1 = b.groupBy("g", "m", "bin").agg(count(lit(1)).as("cnt"))
      val merged = thresholds(
        lvl1.groupBy("g", "bin").agg(sum("cnt").as("cnt")), "p50_merged", "p95_merged")
      val direct = thresholds(
        b.groupBy("g", "bin").agg(count(lit(1)).as("cnt")), "p50_direct", "p95_direct")
        .drop("n")
      merged.join(direct, "g")
        .select(col("g"), col("n").cast("long").as("n"),
          col("p50_merged").cast("long"), col("p95_merged").cast("long"),
          col("p50_direct").cast("long"), col("p95_direct").cast("long"))
        .orderBy("g")
    })


  // Recursive CTE on the Spark SQL surface (Spark 4 WITH RECURSIVE): a
  // data-driven month spine from min to max order month, left-joined to
  // per-month counts — the classic gap-filling calendar recursion, and
  // a surface DuckDB users expect. The recursion carries the bound along
  // (no correlated subquery in the recursive term, which neither engine
  // guarantees). All-integer month index keeps both engines exact.
  // (dd06's clustering keeps the explicit checkpointed loop instead of
  // recursion: iterative graph workloads need per-round lineage control.)
  private val q70 = Q("q70_recursive_cte", Some("""
    WITH RECURSIVE bounds AS (
      SELECT cast(min(year(o_orderdate)*12 + month(o_orderdate) - 1) as int) AS lo,
             cast(max(year(o_orderdate)*12 + month(o_orderdate) - 1) as int) AS hi
      FROM orders),
    spine(ym, hi) AS (
      SELECT lo, hi FROM bounds
      UNION ALL
      SELECT ym + 1, hi FROM spine WHERE ym < hi),
    per AS (
      SELECT year(o_orderdate)*12 + month(o_orderdate) - 1 AS ym, count(*) AS n
      FROM orders GROUP BY year(o_orderdate)*12 + month(o_orderdate) - 1)
    SELECT cast(s.ym // 12 as bigint) AS yr, cast(s.ym % 12 + 1 as bigint) AS mon,
           cast(coalesce(p.n, 0) as bigint) AS n_orders
    FROM spine s LEFT JOIN per p ON p.ym = s.ym
    ORDER BY s.ym"""),
    (s, d) => {
      Tables.registerAll(s, d)
      // the corpus spans ~80 months — near Spark's default recursion
      // cap of 100 levels; raise it so a wider date range cannot
      // silently hit the ceiling
      s.conf.set("spark.sql.cteRecursionLevelLimit", "10000")
      s.sql("""
        WITH RECURSIVE bounds AS (
          SELECT cast(min(year(o_orderdate)*12 + month(o_orderdate) - 1) as int) AS lo,
                 cast(max(year(o_orderdate)*12 + month(o_orderdate) - 1) as int) AS hi
          FROM orders),
        spine(ym, hi) AS (
          SELECT lo, hi FROM bounds
          UNION ALL
          SELECT ym + 1, hi FROM spine WHERE ym < hi),
        per AS (
          SELECT year(o_orderdate)*12 + month(o_orderdate) - 1 AS ym, count(*) AS n
          FROM orders GROUP BY year(o_orderdate)*12 + month(o_orderdate) - 1)
        SELECT cast(s.ym div 12 as bigint) AS yr, cast(s.ym % 12 + 1 as bigint) AS mon,
               cast(coalesce(p.n, 0) as bigint) AS n_orders
        FROM spine s LEFT JOIN per p ON p.ym = s.ym
        ORDER BY s.ym""")
    })


  // HITS hubs & authorities (Kleinberg 1999) over the q68 bipartite
  // customer→supplier graph, 3 synchronous rounds in the pure-integer
  // pagerank discipline (GraphOps.hits: uniform 10^12-scaled start,
  // integer-quotient L1 renormalization per half-round — exact longs,
  // bit-equal across engines under any aggregation order). Per round:
  // one equi-join + one hash agg per direction, loop state
  // checkpointed + released. Top-30 per side via the two-phase salted
  // top-k (a bare PARTITION BY side window would sort each whole side
  // in one task at scale).
  private val q101 = Q("q101_hits", Some(s"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    hubs AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
    meta AS (SELECT 1000000000000 // greatest(1, count(*)) AS init FROM hubs),
    h0 AS MATERIALIZED (SELECT node, (SELECT init FROM meta) AS score FROM hubs),
    ${hitsRoundCtes(1)},
    ${hitsRoundCtes(2)},
    ${hitsRoundCtes(3)}
    SELECT side, node, score, rank FROM (
      SELECT 'hub' AS side, node, score,
        row_number() OVER (ORDER BY score DESC, node) AS rank FROM h3
      UNION ALL
      SELECT 'auth' AS side, node, score,
        row_number() OVER (ORDER BY score DESC, node) AS rank FROM a3) t
    WHERE rank <= 30 ORDER BY side, rank"""),
    (s, d) => {
      val edges = T(s, d, "orders").join(T(s, d, "lineitem"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 10000000L).as("dst"))
      val scores = GraphOps.hits(edges, "src", "dst", rounds = 3)
      TopKOps.perGroupTopK(scores, Seq("side"),
          Seq(col("score").desc, col("node").asc), k = 30, saltOn = col("node"))
        .select("side", "node", "score", "rank")
        .orderBy("side", "rank")
    })


  // Weighted bipartite projection (the co-occurrence / co-purchase
  // kernel behind item-item recommenders and graph features): supplier
  // pairs weighted by the number of common customers. The classic
  // quadratic blowup — a degree-d customer contributes d² pairs — is
  // bounded by the SAME discipline the dedup family uses for hot
  // shingles (dd12's stop-key cap): customers with degree outside
  // [2, 50] are dropped BEFORE the pair join (deg-1 customers form no
  // pairs; hub customers contribute O(d²) noise pairs and little
  // signal), so per-customer work is ≤ C(50,2) forever. Top-20 by
  // (weight, pair) is a LIMIT over the aggregated pair table.
  private val q102 = Q("q102_cooccur_projection", Some("""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    deg AS MATERIALIZED (SELECT c, count(*) AS d FROM e GROUP BY c),
    ek AS MATERIALIZED (SELECT e.c, e.s FROM e JOIN deg USING (c)
           WHERE deg.d BETWEEN 2 AND 50),
    pairs AS MATERIALIZED (
      SELECT a.s AS s1, b.s AS s2, count(*) AS w
      FROM ek a JOIN ek b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2)
    SELECT s1, s2, cast(w as bigint) AS n_common,
      row_number() OVER (ORDER BY w DESC, s1, s2) AS rank
    FROM pairs ORDER BY w DESC, s1, s2 LIMIT 20"""),
    (s, d) => {
      val e = customerSupplierEdges(s, d)
      val deg = e.groupBy("c").agg(count(lit(1)).as("d"))
      val ek = e.join(deg.where(col("d").between(2, 50)).select("c"), "c")
      val pairs = ek.select(col("c"), col("s").as("s1"))
        .join(ek.select(col("c"), col("s").as("s2")), "c")
        .where(col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("w"))
      pairs.orderBy(col("w").desc, col("s1"), col("s2")).limit(20)
        .select(col("s1"), col("s2"), col("w").cast("long").as("n_common"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("w").desc, col("s1"), col("s2"))).as("rank"))
        .orderBy("rank")
    })


  // Adamic–Adar link prediction (Adamic & Adar 2003) over the same
  // bipartite co-occurrence: candidate supplier pairs score
  // Σ_z 1/ln(deg(z)) over common customers z — rare co-customers count
  // more than hubs. Each term is nano-rounded BEFORE the pair sum (the
  // tx15 discipline: exact long under any aggregation order; ln is the
  // one float step, mirrored op-for-op), and the q102 degree cap bounds
  // the pair join. deg(z) ≥ 2 by the cap, so ln is never 0.
  private val q103 = Q("q103_adamic_adar", Some("""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    deg AS MATERIALIZED (SELECT c, count(*) AS d FROM e GROUP BY c),
    ek AS MATERIALIZED (SELECT e.c, e.s, deg.d FROM e JOIN deg USING (c)
           WHERE deg.d BETWEEN 2 AND 50),
    pairs AS MATERIALIZED (
      SELECT a.s AS s1, b.s AS s2,
        cast(sum(cast(round(1000000000.0 / ln(cast(a.d as double))) as bigint))
          as bigint) AS aa_nano,
        count(*) AS n_common
      FROM ek a JOIN ek b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2)
    SELECT s1, s2, cast(n_common as bigint) AS n_common, aa_nano,
      row_number() OVER (ORDER BY aa_nano DESC, s1, s2) AS rank
    FROM pairs ORDER BY aa_nano DESC, s1, s2 LIMIT 20"""),
    (s, d) => {
      val e = customerSupplierEdges(s, d)
      val deg = e.groupBy("c").agg(count(lit(1)).as("d"))
      val ek = e.join(deg.where(col("d").between(2, 50)), "c")
      val pairs = ek.select(col("c"), col("s").as("s1"), col("d"))
        .join(ek.select(col("c"), col("s").as("s2")), "c")
        .where(col("s1") < col("s2"))
        .groupBy("s1", "s2")
        .agg(sum(expr(
            "cast(round(1000000000.0 / ln(cast(d as double))) as bigint)"))
          .cast("long").as("aa_nano"),
          count(lit(1)).cast("long").as("n_common"))
      pairs.orderBy(col("aa_nano").desc, col("s1"), col("s2")).limit(20)
        .select(col("s1"), col("s2"), col("n_common"), col("aa_nano"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("aa_nano").desc, col("s1"), col("s2"))).as("rank"))
        .orderBy("rank")
    })


  // Theil–Sen robust trend over the monthly order-count series
  // (QuantileOps.theilSen — the monitoring slope one outlier month
  // cannot drag the way it drags tx18's OLS): median of all pairwise
  // slopes, then median residual as intercept, both lower-medians under
  // a total order, every value an exact long after per-pair nano
  // rounding. The O(M²) pair join runs on the AGGREGATED month series —
  // bounded by the calendar forever, the operator's documented
  // contract.
  private val q104 = Q("q104_theil_sen", Some("""
    WITH per AS (
      SELECT year(o_orderdate)*12 + month(o_orderdate) - 1 AS x,
        count(*) AS y
      FROM orders GROUP BY 1),
    pr AS (SELECT a.x AS xi, a.y AS yi, b.x AS xj, b.y AS yj
           FROM per a JOIN per b ON a.x < b.x),
    sl AS (SELECT xi, xj,
        cast(round((yj - yi) * 1000000000.0 / (xj - xi)) as bigint) AS s
      FROM pr),
    sm AS (SELECT s AS slope_nano, n AS n_pairs FROM (
        SELECT s, xi, xj, row_number() OVER (ORDER BY s, xi, xj) AS rn,
          count(*) OVER () AS n FROM sl) t
      WHERE rn = (n + 1) // 2),
    res AS (SELECT cast(y * 1000000000 - sm.slope_nano * x as bigint) AS r,
        x, sm.slope_nano, sm.n_pairs
      FROM per CROSS JOIN sm)
    SELECT cast(n as bigint) AS n_points, cast(n_pairs as bigint) AS n_pairs,
      slope_nano, r AS intercept_nano
    FROM (SELECT r, x, slope_nano, n_pairs,
        row_number() OVER (ORDER BY r, x) AS rn, count(*) OVER () AS n
      FROM res) t
    WHERE rn = (n + 1) // 2"""),
    (s, d) => QuantileOps.theilSen(
      T(s, d, "orders").groupBy(
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("x"))
        .agg(count(lit(1)).as("y")),
      "x", "y"))


  // CDC apply — the MERGE-with-deletes that closes dp04's loop:
  // added/changed rows take the diff's new values, removed keys drop,
  // untouched rows survive via one left-anti join against the delta
  // keys (the apply never rescans the new snapshot). The oracle states
  // the TARGET snapshot directly, so hash equality IS the round-trip
  // proof apply(old, diff(old, new)) == new — the q100/dd23
  // increment-==-scratch discipline on the relational side.
  private val q105 = Q("q105_cdc_apply", Some("""
    SELECT c_custkey, c_name,
      CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2 ELSE c_acctbal END
        AS c_acctbal
    FROM customer WHERE c_custkey % 11 <> 0
    ORDER BY c_custkey"""),
    (s, d) => {
      val (oldSnap, newSnap) = customerSnapshots(s, d)
      val diff = SnapshotOps.snapshotDiff(oldSnap, newSnap,
        keys = Seq("c_custkey"), compareCols = Seq("c_name", "c_acctbal"))
      SnapshotOps.applyDiff(oldSnap, diff,
          keys = Seq("c_custkey"), compareCols = Seq("c_name", "c_acctbal"))
        .orderBy("c_custkey")
    })


  // Crawl-frontier canonicalization + dedup (CrawlOps — VERDICT r15 #5,
  // the reference-thematic gap: the reference's frontier is BASE_SITE +
  // code fetched one at a time, `procedure_code.py:541`; a fleet-scale
  // frontier must collapse syntactic URL aliases BEFORE spending a
  // fetch). RFC 3986 §6 normalization as pure column algebra —
  // lowercase scheme/host, strip default port + fragment, sort query
  // keys, '/' for empty paths — then one hash aggregation on the
  // canonical key. The oracle mirrors every regexp verbatim; the messy
  // corpus is CONSTRUCTED so each canonical absorbs the uppercase-port
  // spelling with its fragment twin (0/1) or the permuted-query pair
  // (2/3).
  private val q106 = Q("q106_url_frontier_dedup", Some(s"""
    WITH $urlRawSql,
    $urlCanonCtes
    SELECT canonical_url, host,
      cast(count(*) as bigint) AS n_variants,
      cast(count(DISTINCT url) as bigint) AS n_distinct_raw,
      cast(min(p_partkey) as bigint) AS first_key
    FROM c WHERE canonical_url IS NOT NULL
    GROUP BY canonical_url, host
    ORDER BY canonical_url"""),
    (s, d) => CrawlOps.frontierDedup(urlRawSpark(s, d), "url", "p_partkey")
      .select(col("canonical_url"), col("host"),
        col("n_variants").cast("long").as("n_variants"),
        col("n_distinct_raw").cast("long").as("n_distinct_raw"),
        col("first_key").cast("long").as("first_key"))
      .orderBy("canonical_url"))


  // Count-min sketch frequency estimation with measured error
  // (SketchOps.cmsCounters/cmsEstimate — Cormode & Muthukrishnan 2005;
  // the MERGEABLE frequency sketch next to q89's Misra–Gries: CMS
  // counters ADD across partitions/days/streams with no threshold
  // dance, the property a 100 TB monitoring plane needs). A 4×256
  // counter matrix over lineitem's part keys — one map-side-combinable
  // pass, state independent of key cardinality — then the exact top-10
  // keys are point-queried: est = min over rows of the hashed-bucket
  // counter, NEVER below the true count, and the published
  // overcount = est − exact is the measured error (the ann07/dd17
  // grading discipline applied to the sketch). Two widths (256, 4096)
  // publish the e·N/W error scaling side by side — TPC-H part keys are
  // near-uniform (the sketch's WORST case: no heavy hitter rises above
  // the collision mass), so the curve shows exactly what an undersized
  // sketch costs and how width buys it back, the dd28 trade-curve
  // pattern. The oracle replays both matrices' 4 hash rows, counter
  // aggregations, and min-probes.
  private val q107 = Q("q107_cms_heavy_hitters", Some(s"""
    WITH keys AS (SELECT l_partkey AS pk FROM lineitem),
    ex AS (SELECT pk, count(*) AS exact FROM keys GROUP BY pk),
    top AS (SELECT pk, exact, rn AS rank FROM (
        SELECT pk, exact, row_number() OVER (ORDER BY exact DESC, pk) AS rn
        FROM ex) t WHERE rn <= 10),
    ${Seq(256, 4096).map { w =>
      s"""cms$w AS (
      SELECT dd.d,
        ('0x' || substr(md5(cast(dd.d as varchar) || ':' || cast(pk as varchar)),
          1, 8))::BIGINT % $w AS b,
        count(*) AS c
      FROM keys, (SELECT unnest(generate_series(0, 3)) AS d) dd
      GROUP BY 1, 2),
    pr$w AS (
      SELECT top.pk, top.exact, top.rank, dd.d,
        ('0x' || substr(md5(cast(dd.d as varchar) || ':' || cast(top.pk as varchar)),
          1, 8))::BIGINT % $w AS b
      FROM top, (SELECT unnest(generate_series(0, 3)) AS d) dd),
    est$w AS (
      SELECT $w AS width, pr$w.pk, pr$w.exact, pr$w.rank,
        min(coalesce(cms$w.c, 0)) AS est
      FROM pr$w LEFT JOIN cms$w USING (d, b)
      GROUP BY 1, 2, 3, 4)"""
    }.mkString(",\n    ")}
    SELECT cast(width as bigint) AS width, cast(rank as bigint) AS rank,
      cast(pk as bigint) AS pk, cast(exact as bigint) AS exact,
      cast(est as bigint) AS est, cast(est - exact as bigint) AS overcount
    FROM (SELECT * FROM est256 UNION ALL SELECT * FROM est4096) u
    ORDER BY width, rank"""),
    (s, d) => {
      val keys = T(s, d, "lineitem").select(col("l_partkey").as("pk"))
      // exact top-10: TakeOrderedAndProject (bounded heaps), ranked after
      val top = keys.groupBy("pk").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("pk").asc).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("exact").desc, col("pk").asc)).cast("long"))
      Seq(256, 4096).map { w =>
        val counters = SketchOps.cmsCounters(keys, "pk", depth = 4, width = w)
        SketchOps.cmsEstimate(counters, top, "pk", depth = 4, width = w)
          .select(lit(w.toLong).as("width"), col("rank"),
            col("pk").cast("long").as("pk"),
            col("exact").cast("long").as("exact"),
            col("est").cast("long").as("est"),
            (col("est") - col("exact")).cast("long").as("overcount"))
      }.reduce(_ unionByName _).orderBy("width", "rank")
    })


  // Sketch-space join-cardinality estimation (SketchOps.cmsInnerProduct
  // — the AMS-style inner product over two CMS matrices, the classic
  // query-optimizer move: estimate |A ⋈ B| from two few-KB sketches
  // without touching either table again). Two statistics, each at
  // widths 256 and 4096: the self-join size (second frequency moment
  // F2 = Σ f²) of lineitem's part keys, and the lineitem ⋈ orders
  // equi-join size on the order key. est = min over depth rows of
  // Σ_b cA·cB — never below truth (collision cross-terms only add);
  // near-uniform TPC-H keys are the estimator's WORST case and the
  // published overcount scales as N_A·N_B/W, shown side by side at
  // both widths (the q107/dd28 trade-curve discipline). The oracle
  // replays all three counter matrices per width and both min-probes.
  private val q108 = Q("q108_cms_join_size", Some(s"""
    WITH lp AS (SELECT l_partkey AS k FROM lineitem),
    lo AS (SELECT l_orderkey AS k FROM lineitem),
    oo AS (SELECT o_orderkey AS k FROM orders),
    exf2 AS (SELECT cast(sum(c * c) as bigint) AS exact
             FROM (SELECT count(*) AS c FROM lp GROUP BY k)),
    exj AS (SELECT cast(sum(a.c * b.c) as bigint) AS exact
            FROM (SELECT k, count(*) AS c FROM lo GROUP BY k) a
            JOIN (SELECT k, count(*) AS c FROM oo GROUP BY k) b USING (k)),
    ${Seq(256, 4096).map { w =>
      def cms(name: String, src: String) = s"""$name AS (
      SELECT dd.d,
        ('0x' || substr(md5(cast(dd.d as varchar) || ':' || cast(k as varchar)),
          1, 8))::BIGINT % $w AS b,
        count(*) AS c
      FROM $src, (SELECT unnest(generate_series(0, 3)) AS d) dd
      GROUP BY 1, 2)"""
      s"""${cms(s"clp$w", "lp")},
    ${cms(s"clo$w", "lo")},
    ${cms(s"coo$w", "oo")},
    f2e$w AS (SELECT cast(min(s) as bigint) AS est FROM (
        SELECT d, sum(c * c) AS s FROM clp$w GROUP BY d)),
    je$w AS (SELECT cast(min(s) as bigint) AS est FROM (
        SELECT a.d, sum(a.c * b.c) AS s
        FROM clo$w a JOIN coo$w b USING (d, b) GROUP BY a.d))"""
    }.mkString(",\n    ")}
    SELECT stat, cast(width as bigint) AS width, exact, est,
      cast(est - exact as bigint) AS overcount
    FROM (
      SELECT 'f2_l_partkey' AS stat, 256 AS width, exf2.exact, f2e256.est
        FROM exf2 CROSS JOIN f2e256
      UNION ALL
      SELECT 'f2_l_partkey', 4096, exf2.exact, f2e4096.est
        FROM exf2 CROSS JOIN f2e4096
      UNION ALL
      SELECT 'join_l_o_orderkey', 256, exj.exact, je256.est
        FROM exj CROSS JOIN je256
      UNION ALL
      SELECT 'join_l_o_orderkey', 4096, exj.exact, je4096.est
        FROM exj CROSS JOIN je4096) u
    ORDER BY stat, width"""),
    (s, d) => {
      val lp = T(s, d, "lineitem").select(col("l_partkey").as("k"))
      val lo = T(s, d, "lineitem").select(col("l_orderkey").as("k"))
      val oo = T(s, d, "orders").select(col("o_orderkey").as("k"))
      val exF2 = lp.groupBy("k").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).cast("long").as("exact"))
      val exJ = lo.groupBy("k").agg(count(lit(1)).as("c"))
        .join(oo.groupBy("k").agg(count(lit(1)).as("_c2")), "k")
        .agg(sum(col("c") * col("_c2")).cast("long").as("exact"))
      Seq(256, 4096).map { w =>
        val cLp = SketchOps.cmsCounters(lp, "k", depth = 4, width = w)
        val cLo = SketchOps.cmsCounters(lo, "k", depth = 4, width = w)
        val cOo = SketchOps.cmsCounters(oo, "k", depth = 4, width = w)
        val f2 = exF2.crossJoin(SketchOps.cmsInnerProduct(cLp, cLp))
          .select(lit("f2_l_partkey").as("stat"), lit(w.toLong).as("width"),
            col("exact"), col("est"))
        val js = exJ.crossJoin(SketchOps.cmsInnerProduct(cLo, cOo))
          .select(lit("join_l_o_orderkey").as("stat"), lit(w.toLong).as("width"),
            col("exact"), col("est"))
        f2.unionByName(js)
      }.reduce(_ unionByName _)
        .withColumn("overcount", (col("est") - col("exact")).cast("long"))
        .orderBy("stat", "width")
    })


  // Streaming count-min monitor (StreamingOps.streamCmsMonitor — q107's
  // sketch run CONTINUOUSLY as a native streaming aggregation, the 12th
  // streaming topology): micro-batches increment the 4×256 hashed
  // counter matrix — state is depth × width rows, never per-key — and
  // the closed counters equal the batch cmsCounters because counter
  // addition is order-independent (the q76/q85 discipline), so the
  // oracle is the batch SQL verbatim. At close, the exact top-10 user
  // ids (the offline grading arm) probe the STREAMED counters; 150
  // distinct users into 256 buckets reads near-exact, the collision
  // regime q107's width curve covers.
  private val q109 = Q("q109_stream_cms_monitor", Some("""
    WITH keys AS (SELECT user_id AS pk FROM events),
    cms AS (
      SELECT dd.d,
        ('0x' || substr(md5(cast(dd.d as varchar) || ':' || cast(pk as varchar)),
          1, 8))::BIGINT % 256 AS b,
        count(*) AS c
      FROM keys, (SELECT unnest(generate_series(0, 3)) AS d) dd
      GROUP BY 1, 2),
    ex AS (SELECT pk, count(*) AS exact FROM keys GROUP BY pk),
    top AS (SELECT pk, exact, rn AS rank FROM (
        SELECT pk, exact, row_number() OVER (ORDER BY exact DESC, pk) AS rn
        FROM ex) t WHERE rn <= 10),
    pr AS (
      SELECT top.pk, top.exact, top.rank, dd.d,
        ('0x' || substr(md5(cast(dd.d as varchar) || ':' || cast(top.pk as varchar)),
          1, 8))::BIGINT % 256 AS b
      FROM top, (SELECT unnest(generate_series(0, 3)) AS d) dd),
    est AS (
      SELECT pr.pk, pr.exact, pr.rank, min(coalesce(cms.c, 0)) AS est
      FROM pr LEFT JOIN cms USING (d, b)
      GROUP BY 1, 2, 3)
    SELECT cast(rank as bigint) AS rank, cast(pk as bigint) AS pk,
      cast(exact as bigint) AS exact, cast(est as bigint) AS est,
      cast(est - exact as bigint) AS overcount
    FROM est ORDER BY rank"""),
    (s, d) => graft.streaming.StreamingOps.streamCmsMonitor(s,
        s"$d/events.parquet",
        queryName = "graft_stream_cms_" + math.abs(d.hashCode),
        statePartitions = streamStatePartitions)
      .orderBy("rank"))


  // Histogram range-selectivity estimation (ProfileOps.equiWidthHistogram
  // — the ANALYZE-side complement to q108's sketch join estimate: the
  // two numbers a cost-based optimizer wants before picking a plan).
  // An 8-bucket equi-width histogram over l_quantity (one narrow map +
  // an 8-row aggregate), then three range predicates estimated by
  // uniform-within-bucket interpolation — contribution = cnt · overlap
  // div observed-bucket-width, all integer arithmetic (truncating
  // division mirrored cross-engine) — published against exact counts
  // with the SIGNED error (interpolation can under- or over-shoot,
  // unlike the sketches' one-sided bounds; the grading shows which).
  private val q110 = Q("q110_histogram_selectivity", Some("""
    WITH v AS (SELECT cast(l_quantity as bigint) AS q FROM lineitem
               WHERE l_quantity IS NOT NULL),
    mm AS (SELECT min(q) AS lo, max(q) AS hi FROM v),
    hb AS (SELECT least(7, (q - mm.lo) * 8 // (mm.hi - mm.lo + 1)) AS bucket, q
           FROM v, mm),
    h AS (SELECT bucket, min(q) AS lo, max(q) AS hi, count(*) AS cnt
          FROM hb GROUP BY bucket),
    p AS (SELECT * FROM (VALUES ('q_11_30', 11, 30), ('q_gt_45', 46, 50),
                                ('q_le_15', 1, 15)) AS t(pred, a, c)),
    co AS (SELECT p.pred,
        cast(sum(h.cnt * greatest(0, least(h.hi, p.c) - greatest(h.lo, p.a) + 1)
          // (h.hi - h.lo + 1)) as bigint) AS est
      FROM h CROSS JOIN p GROUP BY p.pred),
    ex AS (SELECT
        cast(sum(CASE WHEN q BETWEEN 11 AND 30 THEN 1 ELSE 0 END) as bigint) AS e1,
        cast(sum(CASE WHEN q BETWEEN 46 AND 50 THEN 1 ELSE 0 END) as bigint) AS e2,
        cast(sum(CASE WHEN q BETWEEN 1 AND 15 THEN 1 ELSE 0 END) as bigint) AS e3
      FROM v),
    exr AS (SELECT 'q_11_30' AS pred, e1 AS exact FROM ex
            UNION ALL SELECT 'q_gt_45', e2 FROM ex
            UNION ALL SELECT 'q_le_15', e3 FROM ex)
    SELECT exr.pred, exr.exact, co.est,
      cast(co.est - exr.exact as bigint) AS err
    FROM exr JOIN co USING (pred) ORDER BY pred"""),
    (s, d) => {
      val v = T(s, d, "lineitem")
        .select(col("l_quantity").cast("long").as("_q"))
        .where(col("_q").isNotNull)
      val hist = ProfileOps.equiWidthHistogram(v, col("_q"), buckets = 8)
      val preds = Seq(("q_11_30", 11L, 30L), ("q_gt_45", 46L, 50L),
        ("q_le_15", 1L, 15L))
      import s.implicits._
      val pdf = preds.toDF("pred", "a", "c")
      val est = hist.crossJoin(broadcast(pdf))
        .withColumn("_ov", greatest(lit(0L),
          least(col("hi"), col("c")) - greatest(col("lo"), col("a")) + 1))
        .groupBy("pred")
        .agg(sum(expr("cnt * _ov div (hi - lo + 1)")).cast("long").as("est"))
      val ex = v.agg(
        sum(when(col("_q").between(11, 30), 1L).otherwise(0L)).as("q_11_30"),
        sum(when(col("_q").between(46, 50), 1L).otherwise(0L)).as("q_gt_45"),
        sum(when(col("_q").between(1, 15), 1L).otherwise(0L)).as("q_le_15"))
        .select(expr("stack(3, 'q_11_30', q_11_30, 'q_gt_45', q_gt_45, " +
          "'q_le_15', q_le_15) as (pred, exact)"))
      ex.join(est, "pred")
        .select(col("pred"), col("exact").cast("long").as("exact"),
          col("est"), (col("est") - col("exact")).cast("long").as("err"))
        .orderBy("pred")
    })

  private[queries] def coreQueries: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25, q26, q27, q28, q29, q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43, q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54, q55, q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66, q67, q68, q69, q70, q71, q72, q73, q74, q75, q76, q77, q78, q79, q80, q81, q82, q83, q84, q85, q86, q87, q88, q89, q90, q91, q92, q93, q94, q95, q96, q97, q98, q99, q100, q101, q102, q103, q104, q105, q106, q107, q108, q109, q110)
}
