package graft

/** Scratch probe for the r5 np_geoip_join regression: times the two
  * geoip twins at a chosen SF and dumps formatted plans. */
object GeoipProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.fromEnv()
    val names = Seq("np_geoip_join", "np_geoip_bucketed")
    names.foreach { n =>
      println(s"===== $n plan =====")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    (1 to 4).foreach { round =>
      names.foreach { n =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"[probe] round $round $n%-20s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
