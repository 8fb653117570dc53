package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Artifact write-parallelism policy guards.
  *
  * The repo's scale discipline: `coalesce(1)` single-file writes are
  * legal ONLY for cardinality-bounded artifacts — vocabulary/codebook
  * dims (unigram dictionaries, k-row centroid tables, PQ codebooks),
  * per-micro-batch outputs (small by the trigger cadence), or local
  * verification dumps. A corpus-cardinality table (one row per
  * document/vector) funneled through one write task is a single-task
  * index build at 100 TB — the r13 BBQ packed-index bug. Every
  * `coalesce(1)` site must therefore declare its bound with a marker
  * comment, and the one corpus-cardinality artifact that was caught
  * (bbq_packed) is asserted to build with a parallel write.
  *
  * Four source-layout guards ride along: `src/main` builds a
  * SparkSession only in `Session.scala` (one session policy for every
  * entry point), holds only the five mains the service and the driver
  * run — diagnostic mains live in `src/test` — touches Spark's
  * private streaming internals (the query manager's `startQuery`, the
  * foreachBatch sink, the trigger clock) only under `graftshim/`, so a
  * Spark upgrade has one place to fix, and registers no query-execution
  * listener, so `/metrics` has one counting path.
  */
class ArtifactPolicySpec extends SparkSpec {

  private def walkScala(root: String): Iterator[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))

  test("every coalesce(1) in main source declares its cardinality bound") {
    val markers = Seq("dim-bounded:", "batch-bounded:", "output-dump:")
    val offenders = walkScala("src/main/scala").flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i)
          if {
            val cut = line.indexOf("//")
            val code = if (cut < 0) line else line.substring(0, cut)
            code.contains(".coalesce(1)")
          } && !markers.exists(line.contains) =>
          s"$p:${i + 1}"
      }
    }.toList
    assert(offenders.isEmpty,
      s"coalesce(1) without a declared cardinality bound (dim-bounded:/" +
        s"batch-bounded:/output-dump: marker): ${offenders.mkString(", ")}")
  }

  private def mainFilesContaining(needle: String): Set[String] =
    walkScala("src/main/scala")
      .filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).toSet

  test("src/main builds a SparkSession only in the Session factory") {
    val builders = mainFilesContaining("SparkSession.builder")
    assert(builders == Set("Session.scala"),
      s"SparkSession.builder outside Session.scala: ${builders - "Session.scala"}")
  }

  test("src/main holds only the driver, gate and deploy mains") {
    val mains = mainFilesContaining("def main(")
    assert(mains == Set("Bench.scala", "Verify.scala", "Liveness.scala",
      "Serve.scala", "Replay.scala"),
      s"mains in src/main: ${mains.toSeq.sorted.mkString(", ")}")
  }

  test("Spark-private streaming internals appear only in the graftshim package") {
    val shim = Paths.get("src/main/scala/org/apache/spark/sql/graftshim")
    val offenders = for {
      needle <- Seq("startQuery(", "ForeachBatchSink", "org.apache.spark.util.Clock")
      p <- walkScala("src/main/scala").toSeq
      if !p.startsWith(shim) && Files.readString(p).contains(needle)
    } yield s"$p: $needle"
    assert(offenders.isEmpty,
      s"Spark streaming internals outside graftshim: ${offenders.mkString(", ")}")
  }

  test("src/main counts /metrics one way: no query-execution listener is registered") {
    // every counter is added by the code that did the work; a listener
    // harvesting observe() nodes off the async bus is a second path
    val offenders = Seq("QueryExecutionListener", "listenerManager.register")
      .flatMap(mainFilesContaining)
    assert(offenders.isEmpty,
      s"query-execution listeners in src/main: ${offenders.mkString(", ")}")
  }

  test("bbq packed index (corpus-cardinality artifact) builds with a parallel write") {
    // Migration guard: a pre-fix artifact written single-file under the
    // same source key would otherwise serve forever. Drop any keyed
    // build with exactly one part file (under the buildOnce lock), then
    // let the query's buildOnce rebuild it with the fixed write path.
    val base = Paths.get("/root/repo/target/bbq_packed")
    def partFiles(dir: Path): List[Path] =
      Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toList
    graft.ops.Artifacts.synchronized {
      if (Files.exists(base)) {
        Files.list(base).iterator().asScala.filter(Files.isDirectory(_))
          .filter(d => partFiles(d).size <= 1)
          .foreach { d =>
            Files.walk(d).iterator().asScala.toList.reverse.foreach(Files.delete)
          }
      }
    }
    // Constructing the frame triggers the buildOnce; the action reads it.
    assert(SparkEntry.queries("ns_similarity_bbq")(spark, sfDir).count() > 0)
    val keyed = Files.list(base).iterator().asScala
      .filter(d => Files.isDirectory(d) && d.getFileName.toString.contains("sf0.001"))
      .toList
    assert(keyed.nonEmpty, "no sf0.001-keyed bbq_packed artifact was built")
    // The >1-part assertion is only meaningful when the build's SOURCE
    // side is itself wider than one partition (Par.spread width on this
    // rig) — a legitimately single-partition source (smaller or
    // regenerated testdata) writes one part file from a parallel write
    // path and must not fail the policy spuriously.
    val writeWidth = graft.ops.Par.spread(spark,
      Tables.embeddings(spark, sfDir),
      org.apache.spark.sql.functions.col("vec_id")).rdd.getNumPartitions
    if (writeWidth > 1) keyed.foreach { d =>
      val n = partFiles(d).size
      assert(n > 1,
        s"bbq_packed at $d wrote $n part file(s) from a $writeWidth-partition " +
          "source — corpus-cardinality artifacts must keep the scan's write parallelism")
    }
  }
}
