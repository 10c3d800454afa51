package graft.queries

import graft.QueryDef
import graft.QueryDef.t
import graft.engine.Session
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator inventory (SURVEY.md §2.2–§2.7) demonstrated over the
  * driver's TPC-H-ish tables, each with a DuckDB oracle.
  *
  * Parity rules applied throughout (see QueryDef):
  *   - every aggregated double is `round(_, 2)` in both dialects
  *     (summation order differs between engines);
  *   - DuckDB integer SUMs are CAST to BIGINT (DuckDB widens to HUGEINT);
  *   - timestamps leave the result as DATE or a formatted string, never a
  *     raw timestamp (rendering differs between engines);
  *   - aggregate/computed columns aliased identically on both sides.
  */
object Relational {

  val defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // A10/§2.4: hash aggregate with partial (map-side) combine. The classic
    // pricing-summary shape: Catalyst plans partial_sum/partial_count before
    // the exchange, so the shuffle carries 6 rows/partition, not 600k — the
    // property that matters at 100 TB.
    QueryDef(
      "q_agg_pricing",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            // rounding scales: a sum of exact-k-decimal values is exact at k
            // decimals, so rounding AT k is noise-erasing but can never land
            // on a half boundary (where Spark HALF_UP and DuckDB half-even
            // disagree). qty/price are 2-decimal → 2 is safe but we use the
            // product's 4; avgs are rationals → 6 digits, boundary measure ~0.
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
              .as("sum_disc_price"),
            round(avg("l_quantity"), 6).as("avg_qty"),
            round(avg("l_discount"), 6).as("avg_disc"),
            count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base_price,
             |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
             |  round(avg(l_quantity), 6) AS avg_qty,
             |  round(avg(l_discount), 6) AS avg_disc,
             |  CAST(count(*) AS BIGINT) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
      covers = Seq("A10", "2.4")),

    // ------------------------------------------------------------------
    // P1/P4/P5/§2.2: projection + predicates; both the filter and the
    // 4-column ReadSchema must reach the parquet scan (PushedFilters).
    // Row-level arithmetic only — bit-exact across engines, no rounding
    // needed, but we round anyway for uniformity.
    QueryDef(
      "q_filter_project",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(
            col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
              col("l_returnflag") === "R" && col("l_quantity") < 25)
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            // row-level arithmetic: identical IEEE op tree in both engines
            // → bit-exact, no rounding needed (rounding would ADD risk).
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("disc_price")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_extendedprice * (1.0 - l_discount) AS disc_price
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
             |  AND l_shipdate < TIMESTAMP '1996-01-01'
             |  AND l_returnflag = 'R' AND l_quantity < 25""".stripMargin),
      covers = Seq("P1", "P4", "P5")),

    // ------------------------------------------------------------------
    // J6/J7/§2.3: the reference's O(n·m) correlated lookups re-expressed as
    // broadcast hash joins over the dimension chain customer→nation→region.
    QueryDef(
      "q_join_broadcast_dims",
      (s, dir) =>
        t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"), "left")
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"), "left")
          .groupBy("r_name", "n_name")
          .agg(count(lit(1)).as("n_cust"), round(avg("c_acctbal"), 6).as("avg_bal")),
      Some("""SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
             |  round(avg(c_acctbal), 6) AS avg_bal
             |FROM customer
             |LEFT JOIN nation ON c_nationkey = n_nationkey
             |LEFT JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name""".stripMargin),
      covers = Seq("J6", "J7", "2.3")),

    // ------------------------------------------------------------------
    // J1/J3/§2.3: a 6-way left-join chain (the EAV-assembly shape), with the
    // same dimension (nation) joined twice under different roles — the
    // J3 "same column name on each right side" disambiguation hazard,
    // solved with aliases. Fact side stays partitioned; all five dimension
    // sides broadcast.
    QueryDef(
      "q_join_chain6",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val cn = t(s, dir, "nation").select(
          col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
        val sup = t(s, dir, "supplier")
        val sn = t(s, dir, "nation").select(
          col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
        li.join(o, col("l_orderkey") === col("o_orderkey"), "left")
          .join(broadcast(c), col("o_custkey") === col("c_custkey"), "left")
          .join(broadcast(cn), col("c_nationkey") === col("cn_key"), "left")
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"), "left")
          .join(broadcast(sn), col("s_nationkey") === col("sn_key"), "left")
          .groupBy("cust_nation", "supp_nation")
          .agg(
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
              .as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      Some("""SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
             |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
             |  CAST(count(*) AS BIGINT) AS n_lines
             |FROM lineitem
             |LEFT JOIN orders ON l_orderkey = o_orderkey
             |LEFT JOIN customer ON o_custkey = c_custkey
             |LEFT JOIN nation cn ON c_nationkey = cn.n_nationkey
             |LEFT JOIN supplier ON l_suppkey = s_suppkey
             |LEFT JOIN nation sn ON s_nationkey = sn.n_nationkey
             |GROUP BY cn.n_name, sn.n_name""".stripMargin),
      covers = Seq("J1", "J3")),

    // ------------------------------------------------------------------
    // J7/P7/§2.2–2.3: left join against a filtered dim with NULL backfill +
    // coalesce default — the reference's "PlotID or ''" lookup semantics.
    QueryDef(
      "q_left_join_coalesce",
      (s, dir) => {
        val bld = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"), col("c_mktsegment"))
        t(s, dir, "orders")
          .join(broadcast(bld), col("o_custkey") === col("c_custkey"), "left")
          .select(
            col("o_orderkey"),
            coalesce(col("c_mktsegment"), lit("")).as("seg"))
      },
      Some("""SELECT o_orderkey, coalesce(c_mktsegment, '') AS seg
             |FROM orders
             |LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer
             |           WHERE c_mktsegment = 'BUILDING') b
             |  ON o_custkey = c_custkey""".stripMargin),
      covers = Seq("J7", "P7", "P4")),

    // ------------------------------------------------------------------
    // A1/A2/§2.4: sort + keep-first dedup via row_number window (the
    // reference's drop_duplicates(keep='first') after sort_values).
    // Tie-break on the key column makes it deterministic in both engines.
    QueryDef(
      "q_dedup_first",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(
            col("o_custkey"),
            col("o_orderkey").as("first_orderkey"),
            col("o_orderdate").cast("date").as("first_date"))
      },
      Some("""SELECT o_custkey, o_orderkey AS first_orderkey,
             |  CAST(o_orderdate AS DATE) AS first_date
             |FROM (SELECT *, row_number() OVER
             |        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) rn
             |      FROM orders) WHERE rn = 1""".stripMargin),
      covers = Seq("A1", "A2", "A4", "2.6")),

    // ------------------------------------------------------------------
    // A7/A8/§2.4: group counter (pandas cumcount) as row_number over an
    // explicit deterministic order — the StemNum pattern.
    QueryDef(
      "q_group_counter",
      (s, dir) => {
        val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"))
          .withColumn("stem_num", row_number().over(w))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(row_number() OVER
             |    (PARTITION BY l_orderkey ORDER BY l_linenumber) AS INT) AS stem_num
             |FROM lineitem""".stripMargin),
      covers = Seq("A7", "A8")),

    // ------------------------------------------------------------------
    // V1/V2/§2.5: EAV-style long→wide pivot. Explicit value list keeps the
    // plan single-pass (no distinct-values job) — at 100 TB you never want
    // the implicit collect of pivot values.
    QueryDef(
      "q_pivot",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(round(sum("l_quantity"), 2)),
      Some("""SELECT l_returnflag,
             |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
             |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      covers = Seq("V1", "V2")),

    // ------------------------------------------------------------------
    // A3/A5/A6/§2.4: distinct projection + literal column (the Transect
    // derivation shape).
    QueryDef(
      "q_distinct_project",
      (s, dir) =>
        t(s, dir, "orders")
          .select("o_orderpriority", "o_orderstatus")
          .distinct()
          .withColumn("fixed_len", lit(75)),
      Some("""SELECT DISTINCT o_orderpriority, o_orderstatus,
             |  CAST(75 AS INT) AS fixed_len FROM orders""".stripMargin),
      covers = Seq("A3", "A5", "A6")),

    // ------------------------------------------------------------------
    // §2.7/P7: unionByName with missing-column null backfill (the XML
    // row-concat semantics).
    QueryDef(
      "q_union_backfill",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val a = c.filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey", "c_name", "c_mktsegment")
        val b = c.filter(col("c_mktsegment") === "AUTOMOBILE")
          .select("c_custkey", "c_name")
        a.unionByName(b, allowMissingColumns = true)
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE c_mktsegment = 'BUILDING'
             |UNION ALL BY NAME
             |SELECT c_custkey, c_name FROM customer
             |WHERE c_mktsegment = 'AUTOMOBILE'""".stripMargin),
      covers = Seq("2.7", "P7")),

    // ------------------------------------------------------------------
    // F1–F4/§2.8: the PlotID/EventID identity derivation re-expressed as
    // native column expressions over the dim chain (upper, translate strip,
    // prefix slice, date-pattern extract + concat).
    QueryDef(
      "q_ident_derive",
      (s, dir) => {
        val dims = t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .select(
            col("c_custkey"),
            concat(
              substring(translate(upper(col("r_name")), " _-.", ""), 1, 5),
              translate(col("c_name"), " _", "")).as("plot_id"))
        t(s, dir, "orders")
          .join(broadcast(dims), col("o_custkey") === col("c_custkey"), "left")
          .select(
            col("o_orderkey"),
            col("plot_id"),
            concat(col("plot_id"), date_format(col("o_orderdate"), "yyyyMMdd"))
              .as("event_id"))
      },
      Some("""WITH dims AS (
             |  SELECT c_custkey,
             |    substr(translate(upper(r_name), ' _-.', ''), 1, 5)
             |      || translate(c_name, ' _', '') AS plot_id
             |  FROM customer
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey)
             |SELECT o_orderkey, plot_id,
             |  plot_id || strftime(o_orderdate, '%Y%m%d') AS event_id
             |FROM orders LEFT JOIN dims ON o_custkey = c_custkey""".stripMargin),
      covers = Seq("F1", "F2", "F3", "F4")),

    // ------------------------------------------------------------------
    // F7/§2.8: the VisitID when-ladder (nested CASE with prefix-slice and
    // trim rules) over orders.
    QueryDef(
      "q_when_ladder",
      (s, dir) =>
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            concat(
              date_format(col("o_orderdate"), "yyyy"),
              when(col("o_orderstatus") === "F", lit("Fire")).otherwise(lit("")),
              when(col("o_orderpriority").isNull, lit(""))
                .when(col("o_orderpriority").startsWith("1"), substring(col("o_orderpriority"), 1, 3))
                .otherwise(trim(col("o_orderpriority")))).as("visit_id")),
      Some("""SELECT o_orderkey,
             |  strftime(o_orderdate, '%Y')
             |  || (CASE WHEN o_orderstatus = 'F' THEN 'Fire' ELSE '' END)
             |  || (CASE WHEN o_orderpriority IS NULL THEN ''
             |           WHEN o_orderpriority LIKE '1%' THEN substr(o_orderpriority, 1, 3)
             |           ELSE trim(o_orderpriority) END) AS visit_id
             |FROM orders""".stripMargin),
      covers = Seq("F7")),

    // ------------------------------------------------------------------
    // F5/F6/§2.8: convert_datetime semantics — normalize a timestamp to the
    // SQL-Server-style millisecond ISO string, plus year extraction.
    QueryDef(
      "q_datetime_norm",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss.SSS").as("ship_ts"),
            date_format(col("l_shipdate"), "yyyy").as("ship_year")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  strftime(l_shipdate, '%Y-%m-%dT%H:%M:%S.%g') AS ship_ts,
             |  strftime(l_shipdate, '%Y') AS ship_year
             |FROM lineitem""".stripMargin),
      covers = Seq("F5", "F6", "F16")),

    // ------------------------------------------------------------------
    // F8/F9/§2.8: multi-delimiter list parse + set-union + canonical rejoin
    // (the personnel-team merge), as pure native expressions: split,
    // filter, array_distinct, array_sort, array_join.
    QueryDef(
      "q_list_parse",
      (s, dir) =>
        t(s, dir, "part")
          .select(
            col("p_partkey"),
            array_join(
              array_sort(
                array_distinct(
                  filter(split(col("p_name"), " "), x => x =!= ""))),
              ", ").as("team")),
      Some("""SELECT p_partkey,
             |  array_to_string(list_sort(list_distinct(
             |    list_filter(string_split(p_name, ' '), x -> x != ''))), ', ') AS team
             |FROM part""".stripMargin),
      covers = Seq("F8", "F9", "A9")),

    // ------------------------------------------------------------------
    // §2.8 ext: JSON property extraction from the events props column.
    QueryDef(
      "q_json_extract",
      (s, dir) =>
        Session.table(s, dir, "events")
          .select(
            col("event_id"),
            col("event_type"),
            get_json_object(col("props"), "$.k").cast("int").as("k_val")),
      Some("""SELECT event_id, event_type,
             |  CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k_val
             |FROM events""".stripMargin),
      covers = Seq("F-json")),

    // ------------------------------------------------------------------
    // §2.9: event-time tumbling window aggregation (batch form of the
    // streaming windowed agg; the streaming variant is in
    // graft.streaming.EventStream with its own spec).
    QueryDef(
      "q_time_window",
      (s, dir) =>
        Session.events(s, dir)
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("hour_bucket"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value")),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_bucket,
             |  event_type, CAST(count(*) AS BIGINT) AS n,
             |  round(sum(value), 2) AS total_value
             |FROM events GROUP BY 1, 2""".stripMargin),
      covers = Seq("2.9")),

    // ------------------------------------------------------------------
    // §2.9 ext: batch face of the CHAINED streaming aggregation
    // (EventStream.chainedWindowAgg — two stateful window aggs in one
    // append-mode query): per-minute counts rolled into hourly
    // peak-minute/total. The same plan runs as a stream (watermark
    // no-op in batch); this parity row is the oracle for it, exactly the
    // q_stream_window_parity discipline. Spark's window() starts align
    // with epoch minutes/hours = date_trunc in DuckDB.
    QueryDef(
      "q_stream_chain_parity",
      (s, dir) =>
        graft.streaming.EventStream
          .chainedWindowAgg(Session.events(s, dir), "1 minute", "1 hour", "2 hours")
          .select(
            date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("window_start"),
            col("event_type"),
            col("peak_minute"),
            col("n_total")),
      Some("""WITH m AS (
             |  SELECT date_trunc('minute', ts) AS mb, event_type,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2)
             |SELECT strftime(date_trunc('hour', mb), '%Y-%m-%d %H:%M') AS window_start,
             |  event_type, max(n) AS peak_minute,
             |  CAST(sum(n) AS BIGINT) AS n_total
             |FROM m GROUP BY 1, 2""".stripMargin),
      covers = Seq("2.9", "ext-chained-agg")),

    // ------------------------------------------------------------------
    // §2.9 ext: batch sessionization (gaps-and-islands) — the batch
    // analogue of a streaming session_window. lag marks session starts
    // (gap >= 1h), a running sum numbers sessions, then one agg per
    // session. All in integer nanoseconds so both engines agree
    // bit-for-bit. One shuffle on user_id serves both windows AND the
    // final agg (same key).
    QueryDef(
      "q_sessionize",
      (s, dir) => {
        // microseconds on both sides: DuckDB reads the parquet NANOS
        // timestamps at micro precision, so micros is the shared grain
        val gapUs = 3600L * 1000000L
        val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        Session.table(s, dir, "events")
          // integer div: epoch-nanos (~1.7e18) overflows double precision
          .withColumn("ts_us", expr("ts div 1000"))
          .withColumn("prev_us", lag("ts_us", 1).over(w))
          .withColumn(
            "is_new",
            when(col("prev_us").isNull || col("ts_us") - col("prev_us") >= gapUs, 1L)
              .otherwise(0L))
          .withColumn("sess_id", sum("is_new").over(w))
          .groupBy("user_id", "sess_id")
          .agg(
            count(lit(1)).as("n_events"),
            min("ts_us").as("start_us"),
            max("ts_us").as("end_us"))
      },
      Some("""WITH marked AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 3600000000
             |         THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
             |sess AS (
             |  SELECT user_id, ts_us,
             |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS sess_id
             |  FROM marked)
             |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  min(ts_us) AS start_us, max(ts_us) AS end_us
             |FROM sess GROUP BY user_id, sess_id""".stripMargin),
      covers = Seq("2.9", "ext-sessionize")),

    // ------------------------------------------------------------------
    // §2.9: the STREAMING operator itself (EventStream.windowedAgg —
    // watermark + window() aggregation), executed in batch mode against
    // the oracle. Structured Streaming plans are source-agnostic; this
    // pins that the declared streaming plan computes exactly what the
    // equivalent batch SQL does.
    QueryDef(
      "q_stream_window_parity",
      (s, dir) =>
        graft.streaming.EventStream.windowedAgg(Session.events(s, dir), "1 hour", "2 hours")
          .select(
            date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("window_start"),
            col("event_type"),
            col("n"),
            round(col("total_value"), 2).as("total_value")),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
             |  event_type, CAST(count(*) AS BIGINT) AS n,
             |  round(sum(value), 2) AS total_value
             |FROM events GROUP BY 1, 2""".stripMargin),
      covers = Seq("2.9", "ext-stream-batch-parity")),

    // ------------------------------------------------------------------
    // §2.9/A2: event dedup — first event per (user, type) by event time,
    // full nano precision via the raw ns column.
    QueryDef(
      "q_event_dedup",
      (s, dir) => {
        val w = Window.partitionBy("user_id", "event_type").orderBy(col("ts_ns"), col("event_id"))
        Session.events(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id").as("first_event"))
      },
      Some("""SELECT user_id, event_type, event_id AS first_event
             |FROM (SELECT *, row_number() OVER
             |        (PARTITION BY user_id, event_type
             |         ORDER BY epoch_ns(ts), event_id) rn
             |      FROM events) WHERE rn = 1""".stripMargin),
      covers = Seq("2.9", "A2"))
  )
}
