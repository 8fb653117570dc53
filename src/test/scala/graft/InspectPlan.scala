package graft
object InspectPlan {
  def main(args: Array[String]): Unit = {
    val spark = Session.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.collect()
      println(s"===== $name executed =====")
      println(df.queryExecution.executedPlan.toString.take(8000))
    }
    spark.stop()
  }
}
