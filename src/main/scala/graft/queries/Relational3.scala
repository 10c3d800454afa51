package graft.queries

import graft.QueryDef
import graft.QueryDef.t
import graft.engine.Session
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third relational wave: statistical aggregates, exact percentiles,
  * irregular-interval range join, event-time interval self-join (the batch
  * face of the stream-stream join), deterministic hash-based train/test
  * splitting, ranking analytics, and explicit grouping sets.
  *
  * The reference needs none of these (SURVEY.md §2.4/§2.6 note the
  * absence) but they are table stakes for an analytics engine feeding a
  * training-data pipeline; each is declared Spark-first and oracle-checked.
  */
object Relational3 {

  val defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // Statistical aggregates: stddev / correlation / covariance compute as
    // single-pass co-moments with partial aggregation (map-side combine),
    // so at 100 TB they cost one shuffle of 5 tiny rows. Rounding is per
    // magnitude: the co-moment accumulation order differs between engines
    // at the ulp, and the absolute FP noise scales with the statistic.
    QueryDef(
      "q_stats_agg",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            round(avg("l_extendedprice"), 4).as("avg_price"),
            round(stddev_samp("l_extendedprice"), 2).as("sd_price"),
            round(corr("l_quantity", "l_extendedprice"), 6).as("qp_corr"),
            round(covar_samp("l_quantity", "l_extendedprice"), 2).as("qp_covar")),
      Some("""SELECT l_returnflag,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(avg(l_extendedprice), 4) AS avg_price,
             |  round(stddev_samp(l_extendedprice), 2) AS sd_price,
             |  round(corr(l_quantity, l_extendedprice), 6) AS qp_corr,
             |  round(covar_samp(l_quantity, l_extendedprice), 2) AS qp_covar
             |FROM lineitem GROUP BY 1""".stripMargin),
      covers = Seq("ext-stats-agg")),

    // ------------------------------------------------------------------
    // Exact percentiles with linear interpolation (percentile_cont
    // semantics). Interpolating between 2-decimal prices at quartile
    // fractions terminates at 4 decimals, so round(x, 4) erases only FP
    // noise, never a half-boundary. At scale the exact form sorts within
    // each group; the approximate sketch path (approx_percentile) is
    // bound-checked against this in Relational3Spec.
    QueryDef(
      "q_percentiles",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("ps"))
          .select(
            col("l_returnflag"),
            round(element_at(col("ps"), 1), 4).as("p25"),
            round(element_at(col("ps"), 2), 4).as("p50"),
            round(element_at(col("ps"), 3), 4).as("p75")),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
             |  round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
             |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
             |FROM lineitem GROUP BY 1""".stripMargin),
      covers = Seq("ext-percentiles")),

    // ------------------------------------------------------------------
    // Range join against IRREGULAR intervals (exponential price bands —
    // regular bands would just be floor() arithmetic, no join needed).
    // The band table is tiny → broadcast nested-loop, the scale-correct
    // plan: the fact side streams through codegen'd comparisons, zero
    // shuffle. 2^i and the 2-decimal prices are exact doubles, so the
    // band predicate is bit-identical across engines.
    QueryDef(
      "q_range_join",
      (s, dir) => {
        val bands = s.range(0, 10).select(
          col("id").as("band"),
          (lit(1000.0) * pow(lit(2.0), col("id"))).as("lo"),
          (lit(1000.0) * pow(lit(2.0), col("id") + 1)).as("hi"))
        t(s, dir, "orders")
          .join(broadcast(bands), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
          .groupBy("band")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("revenue"))
      },
      Some("""SELECT band, CAST(count(*) AS BIGINT) AS n,
             |  round(sum(o_totalprice), 2) AS revenue
             |FROM orders
             |JOIN (SELECT i AS band, 1000.0 * 2**i AS lo, 1000.0 * 2**(i+1) AS hi
             |      FROM range(0, 10) t(i)) b
             |  ON o_totalprice >= lo AND o_totalprice < hi
             |GROUP BY band""".stripMargin),
      covers = Seq("ext-range-join")),

    // ------------------------------------------------------------------
    // Event-time interval self-join — the batch face of the stream-stream
    // join: pairs of same-user events within (0, 1 hour]. In streaming
    // the two-sided time bound is what lets Spark expire join state; in
    // batch the bucketed variant joins on
    // (user_id, time-bucket) so per-group pair generation is bounded by
    // bucket occupancy, not a user's total event count — the difference
    // between O(k²) and O(k²/buckets) per user at 100 TB.
    QueryDef(
      "q_interval_join",
      (s, dir) =>
        graft.streaming.EventStream.intervalJoinBatch(
          Session.events(s, dir),
          Session.events(s, dir)),
      Some("""SELECT a.user_id AS user_id, a.event_id AS ev_a, b.event_id AS ev_b
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id
             | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR""".stripMargin),
      covers = Seq("ext-interval-join")),

    // ------------------------------------------------------------------
    // Deterministic train/eval split: hash the stable key, bucket on the
    // first hex digit (0-3 → ~25% eval). Reproducible across runs, engines
    // and cluster sizes — unlike rand()-based sampling — and embarrassingly
    // parallel: a pure row-level projection, no shuffle before the audit agg.
    QueryDef(
      "q_train_test_split",
      (s, dir) =>
        t(s, dir, "orders")
          .withColumn(
            "split",
            when(
              substring(md5(col("o_orderkey").cast("string")), 1, 1).isin("0", "1", "2", "3"),
              "eval").otherwise("train"))
          .groupBy("split", "o_orderstatus")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("revenue")),
      Some("""SELECT CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
             |         IN ('0','1','2','3') THEN 'eval' ELSE 'train' END AS split,
             |  o_orderstatus,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(sum(o_totalprice), 2) AS revenue
             |FROM orders GROUP BY 1, 2""".stripMargin),
      covers = Seq("ext-det-split")),

    // ------------------------------------------------------------------
    // Ranking analytics beyond row_number: lag/lead, quartile ntile,
    // percent_rank, cume_dist in ONE window pass (one sort per partition,
    // all five functions share it). The rank ratios are k/(n-1) and k/n —
    // identical FP division in both engines, so no rounding is needed.
    QueryDef(
      "q_window_analytics",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(
            col("o_custkey"),
            col("o_orderkey"),
            lag("o_totalprice", 1).over(w).as("prev_price"),
            lead("o_totalprice", 1).over(w).as("next_price"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  lag(o_totalprice, 1) OVER w AS prev_price,
             |  lead(o_totalprice, 1) OVER w AS next_price,
             |  CAST(ntile(4) OVER w AS INT) AS quartile,
             |  percent_rank() OVER w AS pr,
             |  cume_dist() OVER w AS cd
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),
      covers = Seq("ext-window-analytics")),

    // ------------------------------------------------------------------
    // UNPIVOT — the inverse of the reference's signature wide-table pivot
    // (SURVEY.md §2.5): measure columns melted to (measure, val) rows in
    // one Expand pass, no shuffle. Project the id+measure columns FIRST so
    // the scan reads only what melts.
    QueryDef(
      "q_unpivot",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_discount"), col("l_tax")),
            "measure",
            "val"),
      Some("""SELECT l_orderkey, l_linenumber, measure, val
             |FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
             |      FROM lineitem)
             |UNPIVOT (val FOR measure IN (l_quantity, l_discount, l_tax))""".stripMargin),
      covers = Seq("ext-unpivot")),

    // ------------------------------------------------------------------
    // Collect + serialize: per-group sorted key list as one string column
    // (the denormalized export shape). collect_list is the one agg whose
    // state grows with group size — safe here because groups are bounded
    // (orders per customer), the caveat that matters at 100 TB.
    QueryDef(
      "q_collect_list",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(
            array_join(
              transform(array_sort(collect_list(col("o_orderkey"))), _.cast("string")),
              ",").as("order_keys"),
            count(lit(1)).as("n")),
      Some("""SELECT o_custkey,
             |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM orders GROUP BY 1""".stripMargin),
      covers = Seq("ext-collect-serialize")),

    // ------------------------------------------------------------------
    // Bloom-filter semi-join reduction (operators.BloomJoin): build-side
    // keys folded into a bloom sketch, probe side thinned at the scan by
    // codegen'd might_contain, exactness restored by the final semi join.
    // The oracle is the plain EXISTS — the bloom path must be invisible
    // in the result.
    QueryDef(
      "q_bloom_semi",
      (s, dir) => {
        val hot = t(s, dir, "orders")
          .filter(col("o_totalprice") > 400000.0)
          .select("o_orderkey")
        graft.operators.BloomJoin.semiJoin(
          t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"),
          "l_orderkey",
          hot,
          "o_orderkey",
          expectedItems = 1L << 16)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_orderkey = l_orderkey AND o_totalprice > 400000.0)""".stripMargin),
      covers = Seq("ext-bloom-semi")),

    // ------------------------------------------------------------------
    // Explicit GROUPING SETS: two independent dimension rollups in one
    // Expand pass over the fact table instead of two scans + union.
    QueryDef(
      "q_grouping_sets",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |  count(*) AS n,
                |  round(sum(o_totalprice), 2) AS revenue,
                |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
                |  CAST(grouping(o_orderpriority) AS INT) AS g_prio
                |FROM orders
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(sum(o_totalprice), 2) AS revenue,
             |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
             |  CAST(grouping(o_orderpriority) AS INT) AS g_prio
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin),
      covers = Seq("ext-grouping-sets"))
  )
}
