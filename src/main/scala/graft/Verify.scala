package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — the driver passes two; any
    // extra names restrict the dump to those queries (local spot-checks).
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = Session.fromEnv()
    new java.io.File(outDir).mkdirs()
    // same staleness rule for the collected errors file
    new java.io.File(s"$outDir/errors.json").delete()
    // On failure, leave a readable artifact per query (<name>.err) plus a
    // collected errors.json — a round where N queries error is then
    // self-diagnosing from the verify output alone, instead of the
    // driver's JSON silently omitting those keys.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Reruns into the same outDir must never leave STALE artifacts: a
    // query that fails after previously succeeding would leave its old
    // parquet in place (the driver's compare then reports a false PASS
    // against stale data), and a fixed query would leave its old .err.
    // Clear both before every attempt so outDir reflects THIS run only.
    def rmRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmRec))
      f.delete(); ()
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      rmRec(new java.io.File(s"$outDir/$name"))
      rmRec(new java.io.File(s"$outDir/$name.err"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")  // output-dump: per-query verification result at small SF
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        Files.writeString(Paths.get(s"$outDir/$name.err"), msg + "\n")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (errors.nonEmpty) {
      val errJson = errors.map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    }
    spark.stop()
  }
}
