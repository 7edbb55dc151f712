package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.Etl

/** One declared query per reference operator class (SURVEY.md §2 / §7.3).
  *
  * Each query has a DuckDB oracle; the driver hash-compares results, sorting
  * columns by name. Conventions that make the compare bit-exact:
  *
  *  - every computed column aliased identically in Spark and SQL;
  *  - double aggregation goes through DECIMAL (exact, order-independent) and
  *    is cast back to DOUBLE, because parallel float summation is otherwise
  *    non-deterministic across engines;
  *  - timestamps are emitted as formatted strings or epoch bigints, never as
  *    raw timestamp columns (Spark writes UTC-adjusted micros, DuckDB reads
  *    naive nanos — raw values cannot hash-match);
  *  - every query is fully ordered by a deterministic key.
  */
case class Q(name: String, doc: String, oracle: Option[String],
             run: (SparkSession, String) => DataFrame)

object Inventory {

  /** Exact sum of a 2-dp money double: decimal-cast, sum, back to double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact decimal sum on the LONG fast path: each row casts to
    * DECIMAL(18,scale) (the oracle's per-row rounding, unchanged), shifts
    * the scale out (exact — the product is integral), and SUMS AS LONG —
    * the codegen-friendly aggregation buffer, no per-row decimal
    * bookkeeping. The group-count-sized finisher converts back through
    * DECIMAL division, so the double is the nearest-double of the exact
    * rational — bit-identical to `CAST(SUM(decimal) AS DOUBLE)` — even
    * where the scaled sum exceeds 2^53 (a double division would round
    * twice there). Headroom: |scaled sum| < 2^63.
    */
  private def lsum(c: Column, scale: Int = 2): Column = {
    val shift = math.pow(10, scale).toLong
    (sum((c.cast(DecimalType(18, scale)) * shift).cast("long"))
      .cast(DecimalType(38, 0)) / shift).cast("double")
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  // ---------------------------------------------------------------- q01
  private val q01 = Q("q01_filter_project",
    "P1-P9: conjunctive filters, null predicates, projection pruning",
    Some("""
      SELECT o_orderkey, o_orderstatus,
             nullif(o_orderpriority, '1-URGENT') IS NULL AS is_urgent,
             coalesce(nullif(o_orderpriority, '1-URGENT'), 'URGENT') AS prio
      FROM orders
      WHERE o_orderstatus = 'O' AND o_totalprice > 50000
      ORDER BY o_orderkey"""),
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O" && col("o_totalprice") > 50000)
        .withColumn("prio_n", expr("nullif(o_orderpriority, '1-URGENT')"))
        .select(
          col("o_orderkey"), col("o_orderstatus"),
          col("prio_n").isNull.as("is_urgent"),
          coalesce(col("prio_n"), lit("URGENT")).as("prio"))
        .orderBy("o_orderkey")
    })

  // ---------------------------------------------------------------- q02
  private val q02 = Q("q02_hash_dedup",
    "F1+A2: sha256 record-identity hash (db.py:49-55) + distinct",
    Some("""
      SELECT DISTINCT sha256(l_returnflag || CAST(l_orderkey AS VARCHAR)) AS rec_hash
      FROM lineitem
      ORDER BY rec_hash"""),
    (s, dir) => {
      t(s, dir, "lineitem")
        .select(Etl.recordHash(col("l_returnflag"),
          col("l_orderkey").cast("string")).as("rec_hash"))
        .distinct()
        .orderBy("rec_hash")
    })

  // ---------------------------------------------------------------- q03
  private val q03 = Q("q03_anti_join_dedup",
    "J1: ledger dedup as left-anti join on sha256 identity (dags/dreem.py:44-67)",
    Some("""
      WITH inc AS (
        SELECT event_id, sha256('DRM' || CAST(event_id AS VARCHAR)) AS rec_hash
        FROM events),
      led AS (
        SELECT sha256('DRM' || CAST(event_id AS VARCHAR)) AS rec_hash
        FROM events WHERE event_id % 10 < 3)
      SELECT event_id, rec_hash FROM inc
      WHERE rec_hash NOT IN (SELECT rec_hash FROM led)
      ORDER BY event_id"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
      val inc = ev.select(col("event_id"),
        Etl.recordHash(lit("DRM"), col("event_id").cast("string")).as("rec_hash"))
      val ledger = ev.filter(pmod(col("event_id"), lit(10)) < 3)
        .select(Etl.recordHash(lit("DRM"), col("event_id").cast("string")).as("rec_hash"))
      // At 100 TB the ledger side is the big one: anti-join shuffles on the
      // 64-hex hash (uniform keys, no skew); a Bloom pre-filter is planted by
      // Spark's InjectRuntimeFilter when thresholds allow.
      inc.join(ledger, Seq("rec_hash"), "left_anti")
        .select(col("event_id"), col("rec_hash"))
        .orderBy("event_id")
    })

  // ---------------------------------------------------------------- q04
  private val q04 = Q("q04_lookup_join",
    "J2/J3: broadcast equi-join enrichment (uid→serial→device-id pattern)",
    Some("""
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             p_name, p_brand, s_name, l_extendedprice
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE p_size > 45
      ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_size") > 45)
      val su = t(s, dir, "supplier")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_name"),
          col("p_brand"), col("s_name"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    })

  // ---------------------------------------------------------------- q05
  private val q05 = Q("q05_interval_first_match",
    "J4: wear-period containment join, day-normalised, open-ended intervals, " +
      "deterministic first-match via row_number (ucam.py:119-136)",
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, ts, ts + INTERVAL 2 HOUR AS te FROM events),
      a AS (
        SELECT o_orderkey, o_custkey,
               DATE '2024-01-01' + CAST(o_orderkey % 25 AS INT) AS a_start,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE DATE '2024-01-01' + CAST(o_orderkey % 25 AS INT) + 3
               END AS a_end
        FROM orders),
      j AS (
        SELECT e.event_id, a.o_orderkey, a.o_custkey, a.a_start,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY a.a_start NULLS LAST,
                                           a.o_orderkey NULLS LAST) AS rn
        FROM ev e LEFT JOIN a
          ON e.user_id = a.o_custkey
         AND CAST(e.ts AS DATE) BETWEEN a.a_start
                                    AND coalesce(a.a_end, DATE '2024-02-15')
         AND CAST(e.te AS DATE) BETWEEN a.a_start
                                    AND coalesce(a.a_end, DATE '2024-02-15'))
      SELECT event_id, o_orderkey AS assignment_ref,
             'P-' || CAST(o_custkey AS VARCHAR) AS patient_id,
             strftime(a_start, '%Y-%m-%d') AS wear_start
      FROM j WHERE rn = 1
      ORDER BY event_id"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("te"))
      val aStart = date_add(to_date(lit("2024-01-01")),
        pmod(col("o_orderkey"), lit(25)).cast("int"))
      val a = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), aStart.as("a_start"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null))
          .otherwise(date_add(aStart, 3)).as("a_end"))
      // `end_wear ?? today` (ucam.py:129) with a pinned "today" for oracle
      // stability; day-normalised containment of BOTH record endpoints.
      val aEndEff = coalesce(col("a_end"), to_date(lit("2024-02-15")))
      val joined = ev.join(a,
        col("user_id") === col("o_custkey") &&
          to_date(col("ts")).between(col("a_start"), aEndEff) &&
          to_date(col("te")).between(col("a_start"), aEndEff),
        "left")
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col("a_start").asc_nulls_last, col("o_orderkey").asc_nulls_last)
      joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("event_id"), col("o_orderkey").as("assignment_ref"),
          concat(lit("P-"), col("o_custkey").cast("string")).as("patient_id"),
          date_format(col("a_start"), "yyyy-MM-dd").as("wear_start"))
        .orderBy("event_id")
    })

  // ---------------------------------------------------------------- q06
  private val q06 = Q("q06_day_bucket",
    "A1: day-cut-off tumbling window + composite dmp_id " +
      "(operators/ucam.py:103-124, cut-off 12:00:00)",
    Some("""
      WITH b AS (
        SELECT 'DEV-' || CAST(user_id AS VARCHAR) AS dev,
               'P-' || CAST(user_id % 7 AS VARCHAR) AS pat,
               CASE WHEN strftime(ts, '%H:%M:%S') < '12:00:00'
                    THEN CAST(ts AS DATE) - 1 ELSE CAST(ts AS DATE) END AS bs,
               value
        FROM events)
      SELECT regexp_replace(dev, '-', '', 'g') || '-' ||
             regexp_replace(pat, '-', '', 'g') || '-' ||
             strftime(bs, '%Y%m%d') || '-' ||
             strftime(bs + 1, '%Y%m%d') AS dmp_id,
             count(*) AS n_records,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM b GROUP BY 1
      ORDER BY dmp_id"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("dev", concat(lit("DEV-"), col("user_id").cast("string")))
        .withColumn("pat", concat(lit("P-"), pmod(col("user_id"), lit(7)).cast("string")))
      val bs = Etl.bucketStart(col("ts"), "12:00:00")
      val be = Etl.bucketEnd(col("ts"), "12:00:00")
      ev.withColumn("dmp_id", Etl.dmpId(col("dev"), col("pat"), bs, be))
        .groupBy("dmp_id")
        .agg(count(lit(1)).as("n_records"), dsum(col("value")).as("sum_value"))
        .orderBy("dmp_id")
    })

  // ---------------------------------------------------------------- q07
  private val q07 = Q("q07_aggregates",
    "A2-A5: count / exact sum / min / max / avg / distinct / bool_or",
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             min(value) AS min_value, max(value) AS max_value,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
             count(DISTINCT user_id) AS n_users,
             bool_or(value > 90) AS any_high
      FROM events GROUP BY event_type
      ORDER BY event_type"""),
    (s, dir) => {
      t(s, dir, "events").groupBy("event_type").agg(
        count(lit(1)).as("n"),
        dsum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        (dsum(col("value")) / count(lit(1))).as("avg_value"),
        countDistinct(col("user_id")).as("n_users"),
        expr("bool_or(value > 90)").as("any_high"))
        .orderBy("event_type")
    })

  // ---------------------------------------------------------------- q08
  private val q08 = Q("q08_topk",
    "L1 + sort/top-k: TakeOrderedAndProject with deterministic tiebreak",
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 10"""),
    (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    })

  // ---------------------------------------------------------------- q09
  private val q09 = Q("q09_set_ops",
    "§2.7: union / except / intersect (distinct set semantics)",
    Some("""
      WITH ud AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events)
      SELECT user_id, strftime(day, '%Y-%m-%d') AS day_str FROM (
        SELECT user_id, day FROM (
          (SELECT user_id, day FROM ud WHERE event_type = 'click'
           UNION
           SELECT user_id, day FROM ud WHERE event_type = 'purchase')
          EXCEPT
          SELECT user_id, day FROM ud WHERE event_type = 'error')
        INTERSECT
        SELECT user_id, day FROM ud WHERE event_type = 'view')
      ORDER BY user_id, day_str"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
      def slice(et: String) = ev.filter(col("event_type") === et)
        .select("user_id", "day")
      slice("click").union(slice("purchase")).distinct()
        .except(slice("error"))
        .intersect(slice("view"))
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day_str"))
        .orderBy("user_id", "day_str")
    })

  // ---------------------------------------------------------------- q10
  private val q10 = Q("q10_window_functions",
    "§2.5: row_number / rank / lag / exact running sum per key",
    Some("""
      SELECT event_id, user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
             RANK() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS value_rank,
             LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum
      FROM events
      ORDER BY event_id"""),
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val wRank = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      val wSum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("value"),
        row_number().over(w).as("rn"),
        rank().over(wRank).as("value_rank"),
        lag(col("value"), 1).over(w).as("prev_value"),
        sum(col("value").cast(DecimalType(18, 2))).over(wSum)
          .cast("double").as("run_sum"))
        .orderBy("event_id")
    })

  // ---------------------------------------------------------------- q11
  private val q11 = Q("q11_scalar_functions",
    "F2-F13: regexp_replace, date_format/strftime, date_trunc, epoch millis, " +
      "concat_ws composite key, split/element_at reverse parse",
    Some("""
      SELECT o_orderkey,
             regexp_replace(regexp_replace(c_name, 'Customer#', '', 'g'), '^0+', '', 'g') AS cid,
             strftime(o_orderdate, '%Y%m%d') AS day_key,
             strftime(date_trunc('day', o_orderdate), '%Y-%m-%d %H:%M:%S') AS day_trunc,
             epoch_ms(o_orderdate) AS order_epoch_ms,
             epoch_ms(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d')) AS weartime_ms,
             regexp_replace(regexp_replace(c_name, 'Customer#', '', 'g'), '^0+', '', 'g')
               || '-' || o_orderstatus || '-' || strftime(o_orderdate, '%Y%m%d') AS composite,
             string_split(regexp_replace(regexp_replace(c_name, 'Customer#', '', 'g'), '^0+', '', 'g')
               || '-' || o_orderstatus || '-' || strftime(o_orderdate, '%Y%m%d'), '-')[2] AS parsed_status
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderkey % 100 = 0
      ORDER BY o_orderkey"""),
    (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val cid = regexp_replace(regexp_replace(col("c_name"), "Customer#", ""), "^0+", "")
      val dayKey = date_format(col("o_orderdate"), "yyyyMMdd")
      val composite = concat_ws("-", cid, col("o_orderstatus"), dayKey)
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .filter(pmod(col("o_orderkey"), lit(100)) === 0)
        .select(
          col("o_orderkey"),
          cid.as("cid"),
          dayKey.as("day_key"),
          date_format(Etl.normaliseDay(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("day_trunc"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("order_epoch_ms"),
          Etl.weartimeMs(dayKey).as("weartime_ms"),
          composite.as("composite"),
          element_at(split(composite, "-"), 2).as("parsed_status"))
        .orderBy("o_orderkey")
    })

  // ---------------------------------------------------------------- q12
  private val q12 = Q("q12_tpch_q1",
    "TPC-H Q1 pricing summary: scan-heavy multi-aggregate (exact decimals)",
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    (s, dir) => {
      // all eight aggregates ride LONG buffers (lsum): the per-row decimal
      // cast keeps the oracle's rounding, but no decimal state survives
      // into the (hot) aggregation loop — Q1 is THE scan-agg benchmark and
      // decimal sum buffers were most of its runtime
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      val discPrice = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val charge = discPrice * (lit(1) + col("l_tax"))
      li.groupBy("l_returnflag", "l_linestatus").agg(
        lsum(col("l_quantity")).as("sum_qty"),
        lsum(col("l_extendedprice")).as("sum_base_price"),
        lsum(discPrice, 6).as("sum_disc_price"),
        lsum(charge, 6).as("sum_charge"),
        (lsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (lsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (lsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    })

  // ---------------------------------------------------------------- q13
  private val q13 = Q("q13_tpch_q3",
    "TPC-H Q3 shipping priority: 3-way join + agg + ordered top-k",
    Some("""
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             strftime(o_orderdate, '%Y-%m-%d') AS order_date,
             o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""),
    (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-03-15 00:00:00").cast("timestamp"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15 00:00:00").cast("timestamp"))
      val discPrice = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 6))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(discPrice).cast("double").as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    })

  // ---------------------------------------------------------------- q14
  private val q14 = Q("q14_rollup",
    "multi-join + ROLLUP grouping sets over region/nation hierarchy",
    Some("""
      SELECT coalesce(r_name, 'ALL') AS region_name,
             coalesce(n_name, 'ALL') AS nation_name,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
             count(*) AS n_orders
      FROM region JOIN nation ON r_regionkey = n_regionkey
                  JOIN customer ON n_nationkey = c_nationkey
                  JOIN orders ON c_custkey = o_custkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY region_name, nation_name"""),
    (s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(dsum(col("o_totalprice")).as("total_price"),
          count(lit(1)).as("n_orders"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          col("total_price"), col("n_orders"))
        .orderBy("region_name", "nation_name")
    })

  // ---------------------------------------------------------------- q15
  private val q15 = Q("q15_merge_no_override",
    "§4 MERGE semantics: update only where target still null " +
      "(db.py:99,105-106; tests/hooks/test_db.py:16-47)",
    Some("""
      WITH ledger AS (
        SELECT o_orderkey AS key,
               CASE WHEN o_orderkey % 3 = 0 THEN NULL
                    ELSE 'S' || CAST(o_orderkey % 100 AS VARCHAR) END AS device_serial
        FROM orders WHERE o_orderkey % 50 < 5),
      updates AS (
        SELECT o_orderkey AS key, 'N' || CAST(o_orderkey % 100 AS VARCHAR) AS new_serial
        FROM orders WHERE o_orderkey % 2 = 0)
      SELECT l.key, l.device_serial, u.new_serial,
             coalesce(l.device_serial, u.new_serial) AS merged,
             (l.device_serial IS NULL AND u.new_serial IS NOT NULL) AS advanced
      FROM ledger l LEFT JOIN updates u ON l.key = u.key
      ORDER BY l.key"""),
    (s, dir) => {
      val o = t(s, dir, "orders")
      val ledger = o.filter(pmod(col("o_orderkey"), lit(50)) < 5).select(
        col("o_orderkey").as("key"),
        when(pmod(col("o_orderkey"), lit(3)) === 0, lit(null))
          .otherwise(concat(lit("S"), pmod(col("o_orderkey"), lit(100)).cast("string")))
          .as("device_serial"))
      val updates = o.filter(pmod(col("o_orderkey"), lit(2)) === 0).select(
        col("o_orderkey").as("ukey"),
        concat(lit("N"), pmod(col("o_orderkey"), lit(100)).cast("string")).as("new_serial"))
      ledger.join(updates, col("key") === col("ukey"), "left")
        .select(col("key"), col("device_serial"), col("new_serial"),
          coalesce(col("device_serial"), col("new_serial")).as("merged"),
          (col("device_serial").isNull && col("new_serial").isNotNull).as("advanced"))
        .orderBy("key")
    })

  // ---------------------------------------------------------------- q16
  private val q16 = Q("q16_distinct_enrich_rejoin",
    "§4 dedup-then-rejoin rewrite: resolve each distinct key once, fan back",
    Some("""
      WITH dim AS (
        SELECT p_partkey,
               CASE WHEN p_retailprice > 1500 THEN 'hi'
                    WHEN p_retailprice > 900 THEN 'mid'
                    ELSE 'lo' END AS price_band
        FROM part)
      SELECT price_band, count(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem JOIN dim ON l_partkey = p_partkey
      GROUP BY price_band
      ORDER BY price_band"""),
    (s, dir) => {
      val dim = t(s, dir, "part").select(col("p_partkey"),
        when(col("p_retailprice") > 1500, "hi")
          .when(col("p_retailprice") > 900, "mid")
          .otherwise("lo").as("price_band"))
      t(s, dir, "lineitem")
        .join(broadcast(dim), col("l_partkey") === col("p_partkey"))
        .groupBy("price_band")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("total_qty"))
        .orderBy("price_band")
    })

  // ---------------------------------------------------------------- q17
  private val q17 = Q("q17_upload_manifest",
    "P6+J5+A4+A5: pending-group manifest with bool_or / span / size " +
      "(dags/dreem.py:153-234)",
    Some("""
      WITH b AS (
        SELECT event_id, value,
               'DEV' || CAST(user_id AS VARCHAR) || '-' ||
               'P' || CAST(user_id % 7 AS VARCHAR) || '-' ||
               strftime(CASE WHEN strftime(ts, '%H:%M:%S') < '12:00:00'
                             THEN CAST(ts AS DATE) - 1 ELSE CAST(ts AS DATE) END, '%Y%m%d') AS dmp_id,
               ts
        FROM events)
      SELECT dmp_id, count(*) AS n_records,
             bool_or(event_id % 5 = 0) AS any_uploaded,
             strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS span_start,
             strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS span_end
      FROM b GROUP BY dmp_id
      HAVING NOT bool_and(event_id % 5 = 0)
      ORDER BY dmp_id"""),
    (s, dir) => {
      val ev = t(s, dir, "events")
      val bs = Etl.bucketStart(col("ts"), "12:00:00")
      val dmp = concat_ws("-",
        concat(lit("DEV"), col("user_id").cast("string")),
        concat(lit("P"), pmod(col("user_id"), lit(7)).cast("string")),
        date_format(bs, "yyyyMMdd"))
      ev.withColumn("dmp_id", dmp)
        .groupBy("dmp_id")
        .agg(count(lit(1)).as("n_records"),
          expr("bool_or(event_id % 5 = 0)").as("any_uploaded"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("span_start"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("span_end"),
          expr("bool_and(event_id % 5 = 0)").as("all_uploaded"))
        .filter(!col("all_uploaded"))
        .drop("all_uploaded")
        .orderBy("dmp_id")
    })

  // ---------------------------------------------------------------- q38
  private val q38 = Q("q38_tpch_q5",
    "TPC-H Q5 local-supplier revenue: 6-way join with region filter " +
      "(join-order/broadcast selection left to Catalyst)",
    Some("""
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""),
    (s, dir) => {
      val discPrice = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 6))
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(discPrice).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    })

  // ---------------------------------------------------------------- q39
  private val q39 = Q("q39_enum_decode",
    "F15: int-coded enum decode (DiseaseType 1..7, ucam.py:53) as a when-chain",
    Some("""
      SELECT CASE CAST(user_id % 7 + 1 AS INT)
               WHEN 1 THEN 'Healthy' WHEN 2 THEN 'HD' WHEN 3 THEN 'IBD'
               WHEN 4 THEN 'PD' WHEN 5 THEN 'PSS' WHEN 6 THEN 'RA'
               ELSE 'SLE' END AS disease,
             count(*) AS n
      FROM events GROUP BY 1 ORDER BY disease"""),
    (s, dir) => {
      val code = (pmod(col("user_id"), lit(7)) + 1).cast("int")
      val decoded = graft.model.DiseaseType.ByCode.toSeq.sortBy(_._1)
        .foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
          when(code === k, v).otherwise(acc)
        }
      t(s, dir, "events")
        .select(decoded.as("disease"))
        .groupBy("disease").agg(count(lit(1)).as("n"))
        .orderBy("disease")
    })

  // ---------------------------------------------------------------- q42
  private val q42 = Q("q42_tpch_q7",
    "TPC-H Q7 volume shipping: supplier-nation x customer-nation pairs, " +
      "per-year revenue (self-joined dimension, non-equi pair filter)",
    Some("""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_nationkey < 3 AND n2.n_nationkey < 3
        AND n1.n_nationkey <> n2.n_nationkey
      GROUP BY 1, 2, 3
      ORDER BY supp_nation, cust_nation, l_year"""),
    (s, dir) => {
      val n1 = t(s, dir, "nation").filter(col("n_nationkey") < 3)
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").filter(col("n_nationkey") < 3)
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      val discPrice = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 6))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .filter(col("n1_key") =!= col("n2_key"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(discPrice).cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    })

  // ---------------------------------------------------------------- q43
  private val q43 = Q("q43_percentiles",
    "exact interpolated percentiles (sort-based order statistics) per group",
    Some("""
      SELECT event_type,
             quantile_cont(value, 0.25) AS p25,
             quantile_cont(value, 0.5) AS p50,
             quantile_cont(value, 0.9) AS p90,
             min(value) AS min_v, max(value) AS max_v
      FROM events GROUP BY event_type ORDER BY event_type"""),
    (s, dir) => {
      // Scalar percentile columns (not one LIST column): the driver's pandas
      // sort cannot key on array cells.
      t(s, dir, "events").groupBy("event_type").agg(
        expr("percentile(value, 0.25d)").as("p25"),
        expr("percentile(value, 0.5d)").as("p50"),
        expr("percentile(value, 0.9d)").as("p90"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
        .orderBy("event_type")
    })

  // ---------------------------------------------------------------- q44
  private val q44 = Q("q44_portable_variance",
    "variance/stddev from exact decimal sums — engine-portable (builtin " +
      "stddev uses Welford accumulation whose float path differs per engine)",
    Some("""
      WITH s AS (
        SELECT event_type, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(24,4)) ) AS DOUBLE) AS sxx
        FROM events GROUP BY event_type)
      SELECT event_type, n,
             (sxx - sx * sx / n) / (n - 1) AS var_value,
             sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_value
      FROM s ORDER BY event_type"""),
    (s, dir) => {
      val grouped = t(s, dir, "events").groupBy("event_type").agg(
        count(lit(1)).as("n"),
        dsum(col("value")).as("sx"),
        sum((col("value") * col("value")).cast(DecimalType(24, 4)))
          .cast("double").as("sxx"))
      val variance = (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)
      grouped.select(col("event_type"), col("n"),
        variance.as("var_value"), sqrt(variance).as("stddev_value"))
        .orderBy("event_type")
    })

  // ---------------------------------------------------------------- q45
  private val q45 = Q("q45_histogram",
    "fixed-width histogram binning per group (portable floor arithmetic)",
    Some("""
      SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bin,
             count(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bin_sum
      FROM events GROUP BY 1, 2 ORDER BY event_type, bin"""),
    (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") / 25.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("bin_sum"))
        .orderBy("event_type", "bin")
    })

  // ---------------------------------------------------------------- q46
  private val q46 = Q("q46_mode",
    "per-group mode with deterministic tiebreak (count desc, value asc)",
    Some("""
      WITH c AS (SELECT user_id, event_type, count(*) AS n
                 FROM events GROUP BY 1, 2),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY n DESC, event_type) AS r FROM c)
      SELECT user_id, event_type AS mode_event, n AS mode_count
      FROM rk WHERE r = 1 ORDER BY user_id"""),
    (s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n").desc, col("event_type").asc)
      counts.withColumn("r", row_number().over(w)).filter(col("r") === 1)
        .select(col("user_id"), col("event_type").as("mode_event"),
          col("n").as("mode_count"))
        .orderBy("user_id")
    })

  // ---------------------------------------------------------------- q47
  private val q47 = Q("q47_edit_distance",
    "fuzzy matching: all same-nation customer pairs within Levenshtein 2, " +
      "FULL table — Spark side blocks by complete symmetric-delete " +
      "signatures (graft.ops.Fuzzy) and verifies; the oracle checks the " +
      "same result the naive all-pairs way",
    Some("""
      SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
             levenshtein(a.c_name, b.c_name) AS dist
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 2
      ORDER BY cust_a, cust_b"""),
    (s, dir) => {
      graft.ops.Fuzzy.editDistancePairs(t(s, dir, "customer"),
        "c_custkey", "c_name", Seq("c_nationkey"), maxDist = 2)
        .select(col("id_a").as("cust_a"), col("id_b").as("cust_b"), col("dist"))
        .orderBy("cust_a", "cust_b")
    })

  // ---------------------------------------------------------------- q48
  private val q48 = Q("q48_pivot",
    "pivot: per-user event-type counts as fixed columns (conditional aggs)",
    Some("""
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      FROM events GROUP BY user_id ORDER BY user_id"""),
    (s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    })

  // ---------------------------------------------------------------- q49
  private val q49 = Q("q49_null_semantics",
    "null-safe equality (<=> / IS NOT DISTINCT FROM), NULLS FIRST/LAST " +
      "ordering, null-propagating vs null-skipping aggregates",
    Some("""
      WITH v AS (SELECT o_orderkey,
                 CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END AS st
                 FROM orders WHERE o_orderkey % 100 = 0)
      SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b, a.st
      FROM v a JOIN v b
        ON a.st IS NOT DISTINCT FROM b.st
       AND a.o_orderkey < b.o_orderkey
       AND b.o_orderkey - a.o_orderkey <= 2000
      ORDER BY a.st NULLS FIRST, key_a, key_b"""),
    (s, dir) => {
      val v = t(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(100)) === 0)
        .select(col("o_orderkey"),
          when(pmod(col("o_orderkey"), lit(3)) === 0, lit(null))
            .otherwise(col("o_orderstatus")).as("st"))
      val a = v.select(col("o_orderkey").as("key_a"), col("st"))
      val b = v.select(col("o_orderkey").as("key_b"), col("st").as("st_b"))
      // `st` alone is a ~4-distinct-value join key, so candidate pairs per
      // hash group grow quadratically with data. The band predicate
      // (key_b - key_a <= 2000) admits a range-bucket equi key: a qualifying
      // key_b lands in bucket(key_a) or bucket(key_a)+1, so probe exactly
      // those two buckets. Join key becomes (st, bucket) — group sizes are
      // band-bounded regardless of scale. Each pair matches exactly one of
      // the two probe buckets, so no dedup step is needed.
      val aBkt = a.withColumn("bkt_probe",
        explode(array(floor(col("key_a") / 2000),
                      floor(col("key_a") / 2000) + 1)))
      val bBkt = b.withColumn("bkt", floor(col("key_b") / 2000))
      aBkt.join(bBkt,
          col("st") <=> col("st_b") && col("bkt_probe") === col("bkt") &&
          col("key_a") < col("key_b") && col("key_b") - col("key_a") <= 2000)
        .select(col("key_a"), col("key_b"), col("st"))
        .orderBy(col("st").asc_nulls_first, col("key_a"), col("key_b"))
    })

  // ---------------------------------------------------------------- q57
  private val q57 = Q("q57_correlated_scalar_subquery",
    "TPC-H Q17 shape: per-brand revenue of below-half-average-quantity " +
      "lineitems — a correlated SCALAR subquery Catalyst decorrelates into " +
      "an aggregate + join (the per-part average is decimal-exact so the " +
      "threshold compare is bit-stable across engines)",
    Some("""
      SELECT p_brand,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             count(*) AS n_low
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_quantity < (
        SELECT 0.5 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
      GROUP BY p_brand ORDER BY p_brand"""),
    (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      t(s, dir, "part").createOrReplaceTempView("part")
      s.sql("""
        SELECT p_brand,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               count(*) AS n_low
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_quantity < (
          SELECT 0.5 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        GROUP BY p_brand ORDER BY p_brand""")
    })

  // ---------------------------------------------------------------- q58
  private val q58 = Q("q58_exists_not_exists",
    "TPC-H Q21 shape: suppliers who shipped last in multi-supplier " +
      "finished orders — correlated EXISTS (semi-join) + NOT EXISTS " +
      "(anti-join) in one decorrelated plan",
    Some("""
      SELECT s_name, count(*) AS numwait
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      WHERE o_orderstatus = 'F'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > l1.l_shipdate)
      GROUP BY s_name ORDER BY numwait DESC, s_name"""),
    (s, dir) => {
      // Single-pass rewrite of the decorrelated EXISTS/NOT-EXISTS plan
      // (which scanned + shuffled lineitem three times). Both subqueries
      // probe only rows of l1's own order, and an order is uniformly 'F'
      // or not, so restricting lineitem to 'F' orders FIRST is semantics-
      // preserving. Then per row we need
      //   EXISTS other supplier        <=> min(supp) != max(supp) in order
      //   NOT EXISTS later other-supp  <=> l_shipdate >= otherMax, where
      // otherMax = max shipdate among rows of a DIFFERENT supplier:
      //   if >=2 suppliers ship at the order max m1 -> m1 for everyone;
      //   else (unique s* at m1) -> m1 for rows of s != s*,
      //        and max-shipdate-over-supp!=s* for rows of s*.
      // All windows partition by l_orderkey with no ORDER BY, so the join
      // exchange is reused: lineitem shuffles exactly once.
      val ord = t(s, dir, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
      val w = Window.partitionBy(col("l_orderkey"))
      val step1 = li
        .withColumn("m1", max(col("l_shipdate")).over(w))
        .withColumn("supp_lo", min(col("l_suppkey")).over(w))
        .withColumn("supp_hi", max(col("l_suppkey")).over(w))
      val step2 = step1
        .withColumn("at_m1_lo",
          min(when(col("l_shipdate") === col("m1"), col("l_suppkey"))).over(w))
        .withColumn("at_m1_hi",
          max(when(col("l_shipdate") === col("m1"), col("l_suppkey"))).over(w))
      val step3 = step2
        .withColumn("m2_excl",
          max(when(col("l_suppkey") =!= col("at_m1_lo"), col("l_shipdate"))).over(w))
      val otherMax = when(col("at_m1_lo") =!= col("at_m1_hi"), col("m1"))
        .when(col("l_suppkey") =!= col("at_m1_lo"), col("m1"))
        .otherwise(col("m2_excl"))
      val qual = step3
        .where(col("supp_lo") =!= col("supp_hi"))
        .where(col("l_shipdate") >= otherMax)
      qual.join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    })

  // ---------------------------------------------------------------- q59
  private val q59 = Q("q59_range_frame_window",
    "RANGE-frame window: per-user trailing-1-hour event count and exact " +
      "decimal sum ordered by event time (a value-range frame, not a row " +
      "count — the moving-aggregate shape row frames can't express)",
    Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS tms,
                 value FROM events)
      SELECT user_id, event_id, tms,
             count(*) OVER w AS n_1h,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY tms
                   RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""),
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("tms"), col("value"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tms"))
        .rangeBetween(-3600000L, Window.currentRow)
      e.select(col("user_id"), col("event_id"), col("tms"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("sum_1h"))
        .orderBy("user_id", "event_id")
    })

  // ---------------------------------------------------------------- q60
  private val q60 = Q("q60_asof_join",
    "AS-OF join: each query event matched to the latest preceding state " +
      "event of the same user (graft.ops.AsOf: union + one ordered window " +
      "carry-forward — never a per-pair join); oracle verifies via " +
      "ROW_NUMBER over the candidate pairing",
    Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS tms,
                 value FROM events),
      l AS (SELECT user_id, event_id AS q_id, tms AS q_tms FROM e
            WHERE event_id % 7 = 0),
      r AS (SELECT user_id, event_id, tms, value FROM e
            WHERE event_id % 7 <> 0),
      cand AS (SELECT l.user_id, l.q_id, l.q_tms, r.tms AS asof_tms,
               r.event_id AS asof_event_id, r.value AS asof_value,
               ROW_NUMBER() OVER (PARTITION BY l.q_id
                 ORDER BY r.tms DESC, r.event_id DESC) AS rn
               FROM l JOIN r ON l.user_id = r.user_id AND r.tms <= l.q_tms)
      SELECT user_id, q_id, q_tms, asof_tms, asof_event_id, asof_value
      FROM cand WHERE rn = 1
      UNION ALL
      SELECT user_id, q_id, q_tms, NULL, NULL, NULL FROM l
      WHERE NOT EXISTS (SELECT 1 FROM r
                        WHERE r.user_id = l.user_id AND r.tms <= l.q_tms)
      ORDER BY q_id"""),
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("tms"), col("value"))
      val l = e.filter(pmod(col("event_id"), lit(7)) === 0)
        .select(col("user_id"), col("event_id").as("q_id"),
          col("tms").as("q_tms"))
      val r = e.filter(pmod(col("event_id"), lit(7)) =!= 0)
      graft.ops.AsOf.join(l, r, Seq("user_id"),
        leftTs = "q_tms", rightTs = "tms", tiebreak = "event_id",
        payload = Seq("value"))
        .orderBy("q_id")
    })

  // ---------------------------------------------------------------- q76
  private val q76 = Q("q76_json_extraction",
    "semi-structured columns at scale: JSON payload parsed with a declared " +
      "schema (from_json — codegen'd parse, no UDF; the F11 dot-path " +
      "scalar's set-oriented twin) and aggregated per group",
    Some("""
      SELECT event_type,
             CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
             CAST(count(*) FILTER (WHERE CAST(props->>'$.k' AS BIGINT) > 50)
                  AS BIGINT) AS n_high
      FROM events GROUP BY event_type ORDER BY event_type"""),
    (s, dir) => {
      val k = from_json(col("props"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k")
      t(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"),
          count(when(col("k") > 50, lit(1))).as("n_high"))
        .orderBy("event_type")
    })

  // ---------------------------------------------------------------- q88
  /** q88/q89 derive a partsupp stand-in from lineitem (the driver testdata
    * has no partsupp table): supply cost = exact decimal MIN of the part's
    * prices at that supplier, availqty = a deterministic function of the
    * pair — identical CTE text on both sides.
    */
  private val q88 = Q("q88_tpch_q2_min_cost_supplier",
    "TPC-H Q2 shape: minimum-cost supplier per part within a region — a " +
      "correlated scalar MIN subquery over a 4-table join tree, " +
      "decorrelated by Catalyst into an aggregate + join (the classic " +
      "pick-the-argmin-per-group pattern)",
    Some("""
      WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                         CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ps_supplycost
                  FROM lineitem GROUP BY 1, 2)
      SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
      FROM part, ps, supplier, nation, region
      WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        AND p_size % 10 = 3
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND ps_supplycost = (
          SELECT MIN(ps2.ps_supplycost)
          FROM ps ps2, supplier s2, nation n2, region r2
          WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey"""),
    (s, dir) => {
      // DataFrame-first shape (r6; q57 keeps the raw-SQL Catalyst-
      // decorrelation exercise): both the outer block and the correlated
      // MIN restrict ps to size-matched parts × EUROPE suppliers, and both
      // restrictions are filters ON the aggregate's group keys — so they
      // push BELOW the (partkey,suppkey) aggregate as broadcast semi joins
      // (~10% of parts x ~1/5 of suppliers survive, two orders less
      // near-unique-key hashing). The min rides a CENTS long (lsum's
      // argument: per-row decimal cast keeps oracle rounding, long min
      // buffers), and the correlated MIN becomes an explicit per-partkey
      // argmin joined back on EXACT integer cents — no double equality.
      val smallParts = broadcast(t(s, dir, "part")
        .filter(pmod(col("p_size"), lit(10)) === 3)
        .select(col("p_partkey"), col("p_brand")))
      val eurNations = broadcast(t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name")))
      val eurSupp = t(s, dir, "supplier")
        .join(eurNations, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      val ps = t(s, dir, "lineitem")
        .join(smallParts.select("p_partkey"),
              col("p_partkey") === col("l_partkey"), "left_semi")
        .join(broadcast(eurSupp.select("s_suppkey")),
              col("s_suppkey") === col("l_suppkey"), "left_semi")
        .groupBy(col("l_partkey").as("ps_partkey"),
                 col("l_suppkey").as("ps_suppkey"))
        .agg(min((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("cost_c"))
      val minPer = ps.groupBy(col("ps_partkey").as("m_partkey"))
        .agg(min(col("cost_c")).as("min_c"))
      ps.join(minPer, col("ps_partkey") === col("m_partkey") &&
                col("cost_c") === col("min_c"))
        .join(smallParts, col("p_partkey") === col("ps_partkey"))
        .join(broadcast(eurSupp), col("s_suppkey") === col("ps_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_brand"),
          (col("cost_c").cast(DecimalType(38, 0)) / 100).cast("double")
            .as("ps_supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
    })

  // ---------------------------------------------------------------- q89
  private val q89 = Q("q89_tpch_q20_nested_in",
    "TPC-H Q20 shape: suppliers holding excess stock of a part family " +
      "moved in 1995 — IN (subquery) nested inside IN (subquery) plus a " +
      "correlated half-of-shipped-quantity threshold; three levels of " +
      "semi-join decorrelation in one plan",
    Some("""
      WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                         CAST(count(*) * 17 % 95 + 5 AS BIGINT) AS ps_availqty
                  FROM lineitem GROUP BY 1, 2)
      SELECT s_name, s_acctbal
      FROM supplier, nation
      WHERE s_suppkey IN (
          SELECT ps_suppkey FROM ps
          WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_size < 15)
            AND ps_availqty > (
              SELECT 0.5 * CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              FROM lineitem l
              WHERE l.l_partkey = ps_partkey AND l.l_suppkey = ps_suppkey
                AND l.l_shipdate >= CAST('1995-01-01' AS TIMESTAMP)
                AND l.l_shipdate < CAST('1996-01-01' AS TIMESTAMP)))
        AND s_nationkey = n_nationkey AND n_name LIKE 'NATION_1%'
      ORDER BY s_name"""),
    (s, dir) => {
      // Spark plan: the SQL form's correlated scalar SUM decorrelates into a
      // SECOND per-(partkey,suppkey) aggregate over lineitem joined back to
      // the ps CTE's first one. Both aggregates share the same grouping key,
      // so compute them in ONE pass: the 1995-window quantity rides along as
      // a conditional sum (NULL when no row falls in the window, preserving
      // the empty-scalar-subquery NULL semantics -> row excluded).
      // Two more cuts vs the naive pass (r6): the p_size partkey filter is a
      // filter ON the grouping key, so it pushes BELOW the aggregate — the
      // broadcast semi-join runs on lineitem rows first (~28% survive) and
      // the near-unique (partkey,suppkey) grouping hashes 3.5x fewer rows;
      // and the quantity sum runs in LONG (quantities are integral by the
      // TPC-H-shape data contract), the codegen-fast path — the oracle's
      // DECIMAL(18,2) sum of integers is the same exact value.
      val inWindow = col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp")
      val smallParts = broadcast(
        t(s, dir, "part").filter(col("p_size") < 15).select(col("p_partkey")))
      val ps = t(s, dir, "lineitem")
        .join(smallParts, col("p_partkey") === col("l_partkey"), "left_semi")
        .groupBy(col("l_partkey").as("ps_partkey"),
                 col("l_suppkey").as("ps_suppkey"))
        .agg((count(lit(1)) * 17 % 95 + 5).cast("bigint").as("ps_availqty"),
             sum(when(inWindow, col("l_quantity").cast("long")))
               .as("year_qty"))
      // no .distinct() on the probe set: the left_semi join below dedups by
      // construction — a distinct here would add a full exchange + two
      // HashAggregates for nothing
      val okSupp = ps
        .filter(col("ps_availqty") > lit(0.5) * col("year_qty").cast("double"))
        .select(col("ps_suppkey"))
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_name").like("NATION_1%"))),
              col("s_nationkey") === col("n_nationkey"))
        .join(okSupp, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy("s_name")
    })

  // ---------------------------------------------------------------- q90
  private val q90 = Q("q90_grouping_sets",
    "explicit GROUPING SETS with grouping() indicator flags — the " +
      "irregular-aggregation surface ROLLUP/CUBE (q14/q37) can't express: " +
      "(type, flag), (type), (flag), and grand total in one pass",
    Some("""
      SELECT coalesce(event_type, 'ALL') AS etype,
             coalesce(CAST(user_id % 2 AS VARCHAR), 'ALL') AS uflag,
             CAST(grouping(event_type) AS BIGINT) AS g_type,
             CAST(grouping(user_id % 2) AS BIGINT) AS g_flag,
             count(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY GROUPING SETS ((event_type, user_id % 2), (event_type),
                              (user_id % 2), ())
      ORDER BY etype, uflag, g_type, g_flag"""),
    (s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("events")
      s.sql("""
        SELECT coalesce(event_type, 'ALL') AS etype,
               coalesce(CAST(user_id % 2 AS STRING), 'ALL') AS uflag,
               CAST(grouping(event_type) AS BIGINT) AS g_type,
               CAST(grouping(user_id % 2) AS BIGINT) AS g_flag,
               count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY GROUPING SETS ((event_type, user_id % 2), (event_type),
                                (user_id % 2), ())
        ORDER BY etype, uflag, g_type, g_flag""")
    })

  // ---------------------------------------------------------------- q94
  /** q94's exact-arithmetic trick: `l_quantity < 0.2 * avg(...)` cross-
    * multiplies to `5 * q * count < sum` — two correlated scalar
    * aggregates (outer reference in WHERE only, the official Q17 shape)
    * compared with exact DECIMAL multiplication, so no engine-specific
    * decimal division/rounding can flip a boundary row.
    */
  private val q94 = Q("q94_tpch_q17_small_qty_revenue",
    "TPC-H Q17 shape: revenue lost to small-quantity orders — correlated " +
      "scalar AVG subquery per part, decorrelated by Catalyst into one " +
      "aggregate + join; exact cross-multiplied decimal compare instead " +
      "of a 0.2*avg boundary",
    Some("""
      SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
      FROM lineitem l, part
      WHERE p_partkey = l.l_partkey AND p_brand = 'Brand#4'
        AND CAST(l.l_quantity AS DECIMAL(18,2)) * 5 *
            (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
            < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,2)))
               FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)"""),
    (s, dir) => {
      // Spark plan: Catalyst decorrelates the two scalar subqueries into TWO
      // separate per-partkey aggregates over lineitem (one count, one sum) and
      // joins each back — three lineitem passes. Instead: restrict to the
      // brand's partkeys first (broadcast the filtered part keys), compute
      // count+sum in ONE per-partkey pass over that slice, and join once.
      // Same exact cross-multiplied decimal compare, one third the scan work.
      val brand = broadcast(
        t(s, dir, "part").filter(col("p_brand") === "Brand#4")
          .select(col("p_partkey")))
      val li = t(s, dir, "lineitem")
        .join(brand, col("p_partkey") === col("l_partkey"))
      // Quantities are integral (TPC-H-shape data contract), so the
      // cross-multiplied compare runs in pure LONG — bit-identical to the
      // oracle's DECIMAL compare, without the decimal aggregate's overhead.
      val perPart = li.groupBy(col("l_partkey").as("a_partkey"))
        .agg(count(lit(1)).as("cnt"),
             sum(col("l_quantity").cast("long")).as("sumq"))
      li.join(perPart, col("l_partkey") === col("a_partkey"))
        .filter(col("l_quantity").cast("long") * 5 * col("cnt")
                  < col("sumq"))
        .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2)))
                .cast("double") / 7.0).cast("double").as("avg_yearly"))
    })

  // ---------------------------------------------------------------- q95
  /** q95 adapts Q21's "late" predicate to this schema (no receipt/commit
    * dates): late = shipped more than 60 days after the order date. The
    * lateness join happens ONCE in a CTE so both correlated subqueries
    * correlate on l_orderkey alone — the original query's shape (EXISTS
    * another supplier + NOT EXISTS another LATE supplier on the same
    * order), which Spark plans as one semi + one anti join.
    */
  private val q95 = Q("q95_tpch_q21_waiting_supplier",
    "TPC-H Q21 shape: the only-late-supplier-per-order census — EXISTS + " +
      "NOT EXISTS against the same relation with <> correlation, the " +
      "hardest decorrelation pattern in the TPC-H suite",
    Some("""
      WITH lo AS (SELECT l_orderkey, l_suppkey,
                  CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60 THEN 1 ELSE 0 END AS late,
                  o_orderstatus
                  FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
      SELECT s_name, count(*) AS numwait
      FROM supplier, lo l1
      WHERE s_suppkey = l1.l_suppkey AND l1.o_orderstatus = 'F' AND l1.late = 1
        AND EXISTS (SELECT 1 FROM lo l2
                    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lo l3
                        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.late = 1)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name"""),
    (s, dir) => {
      // Spark plan: the SQL form inlines the lo CTE three times (base + semi
      // + anti), re-running the lineitem⋈orders join for each. The two
      // correlated quantifiers only ask per-order supplier counts:
      //   EXISTS another supplier      <=> #distinct suppliers on order >= 2
      //   NOT EXISTS another LATE one  <=> late-supplier set == {l1's} (size 1,
      //                                    l1 itself is late)
      // so ONE per-orderkey aggregate answers both. Three shape choices (r6):
      // (1) the o_orderstatus='F' bar is per-ORDER, and the quantifiers only
      //     correlate within l1's order — restrict to F orders BEFORE the
      //     join (1/3 of orders survive, pushed to the orders scan);
      // (2) a groupBy, not a window: when the order's distinct-late count is
      //     1, the late supplier IS that order's only late suppkey, and l1's
      //     count(*) contribution is that order's late-row count — so the
      //     aggregate emits (late_supp, n_late_rows) directly, no join-back
      //     of per-order stats onto the row set;
      // (3) NO distinct-count machinery at all: "#distinct suppliers >= 2"
      //     is min(supp) != max(supp), and "exactly one distinct LATE
      //     supplier" is min(when(late,supp)) = max(when(late,supp)) non-
      //     null — the whole pass is min/max/sum of longs, pure codegen
      //     HashAggregate (collect_set/countDistinct would plan an
      //     ObjectHashAggregate / an Expand, both off the Tungsten path).
      val fOrders = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val lo = t(s, dir, "lineitem")
        .join(fOrders, col("o_orderkey") === col("l_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          when(datediff(col("l_shipdate"), col("o_orderdate")) > 60, 1)
            .otherwise(0).as("late"))
      val lateSupp = when(col("late") === 1, col("l_suppkey"))
      lo.groupBy(col("l_orderkey"))
        .agg(min(col("l_suppkey")).as("mn_supp"),
             max(col("l_suppkey")).as("mx_supp"),
             min(lateSupp).as("mn_late"),
             max(lateSupp).as("mx_late"),
             sum(col("late")).as("n_late_rows"))
        .filter(col("mn_supp") =!= col("mx_supp") &&
                col("mx_late").isNotNull &&
                col("mn_late") === col("mx_late"))
        .join(broadcast(t(s, dir, "supplier")),
              col("s_suppkey") === col("mx_late"))
        .groupBy(col("s_name"))
        .agg(sum(col("n_late_rows")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    })

  // ---------------------------------------------------------------- q96
  /** q96's anti condition is "no FINISHED order" (every testdata customer
    * has some order, so Q22's literal no-order census would be empty);
    * the above-average-balance bar is the exact cross-multiplied form
    * `bal * count > sum` — decimal sign test, no decimal division.
    */
  private val q96 = Q("q96_tpch_q22_idle_balance",
    "TPC-H Q22 shape: high-balance customers with no finished order, " +
      "grouped by a derived country code — two uncorrelated scalar " +
      "subqueries (count + sum, the exact form of the AVG bar) feeding a " +
      "filter, plus an anti join",
    Some("""
      SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode, count(*) AS numcust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      FROM customer
      WHERE c_nationkey % 10 < 5
        AND CAST(c_acctbal AS DECIMAL(18,2)) *
            (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0.0 AND c_nationkey % 10 < 5)
            > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer WHERE c_acctbal > 0.0 AND c_nationkey % 10 < 5)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      Seq("customer", "orders").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode, count(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer
        WHERE c_nationkey % 10 < 5
          AND CAST(c_acctbal AS DECIMAL(18,2)) *
              (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0.0 AND c_nationkey % 10 < 5)
              > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer WHERE c_acctbal > 0.0 AND c_nationkey % 10 < 5)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        GROUP BY CAST(c_nationkey % 10 AS BIGINT) ORDER BY cntrycode""")
    })

  // ---------------------------------------------------------------- q97
  /** q97 keeps the MAX bar in DECIMAL: the revenue CTE feeds both the
    * join and the scalar-MAX subquery, and the winner test is exact
    * decimal equality — a double round-trip could drop a tied supplier.
    */
  private val q97 = Q("q97_tpch_q15_top_supplier",
    "TPC-H Q15 shape: top supplier by quarterly revenue — an aggregated " +
      "CTE consumed twice (join + scalar MAX bar), exact decimal equality " +
      "picks the winner(s)",
    Some("""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      ORDER BY s_suppkey"""),
    (s, dir) => {
      Seq("lineitem", "supplier").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= CAST('1996-01-01 00:00:00' AS TIMESTAMP)
            AND l_shipdate < CAST('1996-04-01 00:00:00' AS TIMESTAMP)
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey""")
    })

  // ---------------------------------------------------------------- q98
  /** q98's IN-subquery carries its own HAVING aggregate over the SAME
    * fact table the outer query re-aggregates — Catalyst plans the bar as
    * one aggregate + left-semi join, so lineitem is scanned twice but
    * never squared.
    */
  private val q98 = Q("q98_tpch_q18_large_orders",
    "TPC-H Q18 shape: large-volume orders — IN subquery with a HAVING " +
      "aggregate bar (semi join against an aggregated form of the same " +
      "fact table), top-100 by price",
    Some("""
      SELECT c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
             CAST(o_totalprice AS DOUBLE) AS total_price,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                           HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
      GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
      ORDER BY total_price DESC, o_orderkey
      LIMIT 100"""),
    (s, dir) => {
      // Spark plan: the SQL form scans lineitem twice (the HAVING-IN bar as a
      // semi join + the outer re-aggregation). Each order belongs to exactly
      // one customer, so the outer GROUP BY is per-order: compute the
      // per-orderkey quantity sum ONCE, keep the >150 survivors (few), and
      // join orders + customer onto that tiny set. One lineitem pass, and the
      // survivors side of both joins is small enough to broadcast. The
      // quantity sum runs in LONG (quantities are integral by the TPC-H-shape
      // data contract) — same exact value as the oracle's DECIMAL(18,2) sum,
      // on the codegen-fast path.
      val bigOrders = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sumq"))
        .filter(col("sumq") > 150)
      bigOrders
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
                date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
                col("o_totalprice").cast("double").as("total_price"),
                col("sumq").cast("double").as("sum_qty"))
        .orderBy(col("total_price").desc, col("o_orderkey"))
        .limit(100)
    })

  // ---------------------------------------------------------------- q99
  /** q99 adapts Q19's disjunctive join filter to this schema (brand/size/
    * quantity brackets instead of container/shipmode). The plan point:
    * Catalyst factors the common `p_partkey = l_partkey` out of the OR so
    * the join stays an equi hash join, and pushes the per-side residues
    * (brand/size -> part scan, quantity -> lineitem scan) below it.
    */
  private val q99 = Q("q99_tpch_q19_disjunctive_filter",
    "TPC-H Q19 shape: revenue under a 3-arm OR of brand/size/quantity " +
      "brackets — the disjunctive-predicate pushdown test: equi join " +
      "extracted from the OR, per-table residues pushed to both scans",
    Some("""
      SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             count(*) AS n_rows
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)"""),
    (s, dir) => {
      Seq("lineitem", "part").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
               count(*) AS n_rows
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""")
    })

  // --------------------------------------------------------- q101-q105
  /** The remaining canonical TPC-H shapes, adapted to this schema (no
    * receipt/commit dates, shipmodes, or partsupp): Q4's lateness test is
    * shipped >45 days after order; Q16's supplier exclusion bar is
    * negative account balance. Decimal/date/ORDER BY conventions as q12+.
    */
  private val q101 = Q("q101_tpch_q4_priority_census",
    "TPC-H Q4 shape: order-priority census over a quarter, EXISTS a late " +
      "lineitem — correlated EXISTS planned as one semi join",
    Some("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND datediff('day', o_orderdate, l_shipdate) > 45)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    (s, dir) => {
      Seq("orders", "lineitem").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= CAST('1996-01-01 00:00:00' AS TIMESTAMP)
          AND o_orderdate < CAST('1996-04-01 00:00:00' AS TIMESTAMP)
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND datediff(l_shipdate, o_orderdate) > 45)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    })

  private val q102 = Q("q102_tpch_q6_forecast_revenue",
    "TPC-H Q6 shape: single-table filtered aggregate — every predicate " +
      "must reach the parquet scan (the pushdown benchmark)",
    Some("""
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
             count(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
    (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
               count(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= CAST('1996-01-01 00:00:00' AS TIMESTAMP)
          AND l_shipdate < CAST('1997-01-01 00:00:00' AS TIMESTAMP)
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")
    })

  private val q103 = Q("q103_tpch_q10_returned_items",
    "TPC-H Q10 shape: top-20 customers by returned-item revenue — 4-way " +
      "join with two broadcast dims, ordered top-k",
    Some("""
      SELECT c_custkey, c_name, n_name,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             CAST(c_acctbal AS DOUBLE) AS acctbal
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON l_orderkey = o_orderkey
                    JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, n_name, c_acctbal
      ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    (s, dir) => {
      Seq("customer", "orders", "lineitem", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT c_custkey, c_name, n_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
               CAST(c_acctbal AS DOUBLE) AS acctbal
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
                      JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= CAST('1996-01-01 00:00:00' AS TIMESTAMP)
          AND o_orderdate < CAST('1996-04-01 00:00:00' AS TIMESTAMP)
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name, c_acctbal
        ORDER BY revenue DESC, c_custkey LIMIT 20""")
    })

  private val q104 = Q("q104_tpch_q14_promo_share",
    "TPC-H Q14 shape: conditional-aggregate ratio (promo revenue share) — " +
      "one CASE sum over a month of shipments, exact decimal sums, one " +
      "final double division",
    Some("""
      SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS DOUBLE) AS promo_revenue_pct
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'"""),
    (s, dir) => {
      Seq("lineitem", "part").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS DOUBLE) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= CAST('1996-09-01 00:00:00' AS TIMESTAMP)
          AND l_shipdate < CAST('1996-10-01 00:00:00' AS TIMESTAMP)""")
    })

  private val q105 = Q("q105_tpch_q16_supplier_census",
    "TPC-H Q16 shape: distinct-supplier census by part attributes with a " +
      "NOT IN exclusion subquery — anti join + count(DISTINCT) under a " +
      "grouped sort",
    Some("""
      SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM part JOIN lineitem ON p_partkey = l_partkey
      WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
        AND p_size IN (1, 9, 19, 29, 49)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),
    (s, dir) => {
      Seq("part", "lineitem", "supplier")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM part JOIN lineitem ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
          AND p_size IN (1, 9, 19, 29, 49)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
    })

  /** q107's filter lives in the JOIN CONDITION, not WHERE — the Q13
    * semantic trap: customers whose every order is urgent must still
    * appear with c_count = 0, which a WHERE filter would silently drop
    * along with the outer join itself.
    */
  private val q107 = Q("q107_tpch_q13_order_distribution",
    "TPC-H Q13 shape: customer order-count distribution — left outer " +
      "join with the filter inside the join condition (zero-order " +
      "customers survive), then a double aggregation",
    Some("""
      SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey) c_orders
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),
    (s, dir) => {
      Seq("customer", "orders").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
            AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) c_orders
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")
    })

  private val q108 = Q("q108_tpch_q8_market_share",
    "TPC-H Q8 shape: national market share — the widest join tree in the " +
      "suite (8 relations, nation twice under different roles), a " +
      "conditional-share aggregate per year",
    Some("""
      SELECT o_year,
        CAST(CAST(SUM(CASE WHEN nation = 'NATION_7' THEN volume ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
      FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                   CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume,
                   n2.n_name AS nation
            FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
            WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
              AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
              AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
              AND s_nationkey = n2.n_nationkey
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              AND p_type = 'STANDARD') allnations
      GROUP BY o_year ORDER BY o_year"""),
    (s, dir) => {
      Seq("part", "supplier", "lineitem", "orders", "customer", "nation",
        "region").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT o_year,
          CAST(CAST(SUM(CASE WHEN nation = 'NATION_7' THEN volume ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
        FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                     CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume,
                     n2.n_name AS nation
              FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
              WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
                AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
                AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
                AND s_nationkey = n2.n_nationkey
                AND o_orderdate >= CAST('1996-01-01 00:00:00' AS TIMESTAMP)
                AND o_orderdate < CAST('1998-01-01 00:00:00' AS TIMESTAMP)
                AND p_type = 'STANDARD') allnations
        GROUP BY o_year ORDER BY o_year""")
    })

  /** q109–q111 complete the 22-shape TPC-H census. The schema has no
    * partsupp or shipmode, so the three remaining shapes are adapted the
    * same way q94–q108 were: Q9's supply cost becomes a retail-price
    * proxy, Q11's stock value becomes lineitem revenue per part, Q12's
    * shipmode becomes the returnflag class — the JOIN TREES and
    * aggregate shapes (the things the planner sees) are unchanged.
    */
  private val q109 = Q("q109_tpch_q9_product_profit",
    "TPC-H Q9 shape: product-type profit by nation and year — 5-relation " +
      "join with a LIKE part filter and a two-term profit expression " +
      "aggregated per (nation, year); cost proxied by p_retailprice " +
      "(schema has no partsupp)",
    Some("""
      SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
      FROM (SELECT n_name AS nation,
                   CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                   CAST(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1 AS DECIMAL(18,6)) AS amount
            FROM part, supplier, lineitem, orders, nation
            WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
              AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
              AND p_name LIKE '%red%') profit
      GROUP BY nation, o_year
      ORDER BY nation, o_year DESC"""),
    (s, dir) => {
      Seq("part", "supplier", "lineitem", "orders", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
        FROM (SELECT n_name AS nation,
                     CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                     CAST(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1 AS DECIMAL(18,6)) AS amount
              FROM part, supplier, lineitem, orders, nation
              WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
                AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
                AND p_name LIKE '%red%') profit
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC""")
    })

  private val q110 = Q("q110_tpch_q11_important_parts",
    "TPC-H Q11 shape: per-part value census kept only above a fraction " +
      "of the GLOBAL total — grouped HAVING against an uncorrelated " +
      "scalar subquery that re-aggregates the same join (value = lineitem " +
      "revenue; schema has no partsupp)",
    Some("""
      SELECT l_partkey, CAST(SUM(val) AS DOUBLE) AS part_value
      FROM (SELECT l_partkey, CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS val
            FROM lineitem, supplier, nation
            WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_3') v
      GROUP BY l_partkey
      HAVING SUM(val) > (
        SELECT SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 0.001
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_3')
      ORDER BY part_value DESC, l_partkey"""),
    (s, dir) => {
      Seq("lineitem", "supplier", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT l_partkey, CAST(SUM(val) AS DOUBLE) AS part_value
        FROM (SELECT l_partkey, CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS val
              FROM lineitem, supplier, nation
              WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_3') v
        GROUP BY l_partkey
        HAVING SUM(val) > (
          SELECT SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 0.001
          FROM lineitem, supplier, nation
          WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_3')
        ORDER BY part_value DESC, l_partkey""")
    })

  private val q111 = Q("q111_tpch_q12_priority_by_class",
    "TPC-H Q12 shape: two-branch conditional counts per shipping class " +
      "inside one aggregation, with a ship-after-order date comparison " +
      "(returnflag stands in for the absent shipmode)",
    Some("""
      SELECT l_returnflag AS ship_class,
             COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
             COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate > o_orderdate
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    (s, dir) => {
      Seq("orders", "lineitem").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT l_returnflag AS ship_class,
               COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
               COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= CAST('1997-01-01 00:00:00' AS TIMESTAMP)
          AND l_shipdate < CAST('1998-01-01 00:00:00' AS TIMESTAMP)
          AND l_shipdate > o_orderdate
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")
    })

  def core: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09,
    q10, q11, q12, q13, q14, q15, q16, q17, q38, q39, q42, q43, q44, q45,
    q46, q47, q48, q49, q57, q58, q59, q60, q76, q88, q89, q90, q94, q95,
    q96, q97, q98, q99, q101, q102, q103, q104, q105, q107, q108, q109,
    q110, q111)

  def all: Seq[Q] = core ++ Pipeline.all ++ Extensions.all
}
