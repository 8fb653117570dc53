package graft

/** r21 deliverable support: writes `.explain("formatted")` output for
  * declared queries to a directory (default plans/r21, suffix via
  * args), so before/after plan shapes are committed evidence next to
  * OPTIMIZATION_r21.md. Pre-execution AQE initial plans — the static
  * shape (Exchange count, join strategy, PushedFilters/ReadSchema),
  * which is what the optimization claims reference. Diagnostic only;
  * not part of the driver contract.
  *
  * Usage: graft.PlanDump <suffix> [queryName ...]
  *   writes plans/r21/<query>_<suffix>.txt (no names = all queries).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "/root/repo/plans/r21")
    val spark = Session.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val all = SparkEntry.queries
    val names = (if (args.length > 1) args.drop(1).toSeq else all.keys.toSeq).sorted
    for (n <- names) {
      try {
        val df = all(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
          txt.getBytes("UTF-8"))
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
