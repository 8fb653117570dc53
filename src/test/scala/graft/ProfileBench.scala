package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** r21 optimization-round instrumentation (guide §1): decomposes each
  * declared query's bench pass into the phases the min-of-N total hides
  * — DataFrame construction+analysis, Catalyst optimization, physical
  * planning, and execution through the same noop sink Bench times —
  * plus scheduler-side counts (jobs / stages / tasks launched per
  * pass). At sf0.1 the tables are 0.3–11 MB, so a pass is mostly FIXED
  * cost; this tool attributes it so optimization effort lands where the
  * time actually goes instead of on the operator with the scariest
  * asymptotics. Diagnostic only: not part of the driver contract, never
  * invoked by Bench/Verify.
  *
  * Usage: graft.ProfileBench [queryName ...]   (no args = all queries)
  * Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as Bench.
  */
object ProfileBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks += 1
    })

    val all = SparkEntry.queries
    val names = (if (args.nonEmpty) args.toSeq else all.keys.toSeq).sorted

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

    // warmup: pays buildOnce artifacts + codegen, as Bench's pass 0
    for (n <- names) {
      try all(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[warm] $n failed: ${e.getMessage}") }
    }

    println("query,construct_ms,optimize_ms,physplan_ms,exec_ms,total_ms,jobs,stages,tasks")
    for (n <- names) {
      try {
        // phase decomposition on a fresh frame (min of 3)
        var best = (Double.MaxValue, 0.0, 0.0, 0.0, 0.0)
        var bj = 0; var bs = 0; var bt = 0
        for (_ <- 1 to 3) {
          Thread.sleep(80) // let listener events drain (listenerBus is private[spark])
          val j0 = jobs; val s0 = stages; val t0c = tasks
          val t0 = System.nanoTime()
          val df = all(n)(spark, sfDir)
          val c = ms(t0)
          val t1 = System.nanoTime()
          df.queryExecution.optimizedPlan
          val o = ms(t1)
          val t2 = System.nanoTime()
          df.queryExecution.executedPlan
          val p = ms(t2)
          val t3 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val e = ms(t3)
          val tot = ms(t0)
          Thread.sleep(80) // let listener events drain (listenerBus is private[spark])
          if (tot < best._1) { best = (tot, c, o, p, e); bj = jobs - j0; bs = stages - s0; bt = tasks - t0c }
        }
        val (tot, c, o, p, e) = best
        println(f"$n,$c%.1f,$o%.1f,$p%.1f,$e%.1f,$tot%.1f,$bj,$bs,$bt")
      } catch { case ex: Throwable => println(s"$n,FAILED: ${ex.getMessage}") }
    }
    spark.stop()
  }
}
