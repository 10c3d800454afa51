package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The MV-routing queries check their plans through the scan nodes' own
  * roots and table names, so the checks hold when the plan string cuts a
  * lake path short: here every file location in it is cut to 16
  * characters, shorter than any temp root.
  */
class MvRouteCheckSpec extends SparkSpec {

  private val MaxMetadata = "spark.sql.maxMetadataStringLength"

  Seq("q_view_autoroute", "q_view_hll_route", "q_view_distinct_route",
    "q_view_autoroute_stale", "q_catalog_mv").foreach { q =>
    test(s"$q routes with abbreviated plan strings") {
      val prior = spark.conf.getOption(MaxMetadata)
      spark.conf.set(MaxMetadata, "16")
      try assert(SparkEntry.queries(q)(spark, sf).count() > 0)
      finally prior.fold(spark.conf.unset(MaxMetadata))(spark.conf.set(MaxMetadata, _))
    }
  }
}
