package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.DedupStream

/** Streaming incremental dedup semantics: cross-batch dups flag against
  * the persisted store, within-batch dups flag against the smaller id,
  * and only uniques extend the store. */
class DedupStreamSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("cross-batch and within-batch near-dups flag; only uniques extend the store") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val tA = "the quick brown fox jumps over the lazy dog tonight"
    val tB = "spark plans a single expand and one shuffle for all sets"
    val tC = "completely different words live in this third document here"
    val in = MemoryStream[(Long, String)]
    val storeDir = tmp("dds-store")
    val outDir = tmp("dds-out")
    val q = DedupStream.run(in.toDF().toDF("doc_id", "text"),
      storeDir, outDir, tmp("dds-ckpt"))
    def results() = spark.read.parquet(outDir)
      .select(col("doc_id"), col("dup_of"), col("is_unique"))
      .as[(Long, Option[Long], Boolean)].collect().map(t => t._1 -> t).toMap

    // batch 0: two distinct docs — both unique
    in.addData((1L, tA), (2L, tB))
    q.processAllAvailable()
    assert(results().values.forall(_._3), s"batch 0 must be all unique: ${results()}")

    // batch 1: 3 = copy of 1 (cross-batch), 4 = new, 5 = copy of 4
    // (within-batch, larger id loses)
    in.addData((3L, tA), (4L, tC), (5L, tC))
    q.processAllAvailable()
    val r = results()
    assert(r(3L)._2.contains(1L) && !r(3L)._3, s"3 must dup against stored 1: $r")
    assert(r(4L)._2.isEmpty && r(4L)._3, s"4 is genuinely new: $r")
    assert(r(5L)._2.contains(4L) && !r(5L)._3, s"5 must dup against in-batch 4: $r")

    // the store holds signatures for uniques only: 1, 2, 4
    val stored = spark.read.parquet(s"$storeDir/bands")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(stored == Set(1L, 2L, 4L),
      s"only uniques extend the corpus store, got $stored")

    // batch 2: a copy of the DUP'd text still flags against the
    // canonical stored doc (5 never entered the store)
    in.addData((6L, tC))
    q.processAllAvailable()
    assert(results()(6L)._2.contains(4L), s"6 must dup against canonical 4: ${results()}")
    q.stop()
  }

  test("a replayed batch id is idempotent: no self-matching, no store duplication") {
    import spark.implicits._
    val tA = "the quick brown fox jumps over the lazy dog tonight"
    val tB = "spark plans a single expand and one shuffle for all sets"
    val storeDir = tmp("ddr-store")
    val outDir = tmp("ddr-out")
    val sink = DedupStream.sinkBatch(storeDir, outDir) _
    sink(Seq((1L, tA)).toDF("doc_id", "text"), 0L)
    val b1 = Seq((2L, tA), (3L, tB)).toDF("doc_id", "text")
    sink(b1, 1L)
    def read() = spark.read.parquet(outDir).filter(col("batch") === 1)
      .select(col("doc_id"), col("dup_of"), col("is_unique"))
      .as[(Long, Option[Long], Boolean)].collect().toSet
    val first = read()
    assert(first == Set((2L, Some(1L), false), (3L, None, true)), s"got $first")
    // the crash-before-commit replay: the same batch id runs again. The
    // strictly-before store read must not see batch 1's own earlier
    // write (3 would self-... match nothing, but a naive read would let
    // a near-dup within the batch match its own stored signature), and
    // the store partition must overwrite, not double-append.
    sink(b1, 1L)
    assert(read() == first, "replay must reproduce identical results")
    val storedRows = spark.read.parquet(s"$storeDir/bands")
      .filter(col("doc_id") === 3L).count()
    val onceRows = spark.read.parquet(s"$storeDir/bands")
      .filter(col("doc_id") === 1L).count()
    assert(storedRows == onceRows,
      s"doc 3's band rows must appear exactly once per band like doc 1's ($storedRows vs $onceRows)")
  }

  test("the per-batch store probe is partition-pruned, never a full corpus scan") {
    import spark.implicits._
    val storeDir = tmp("ddp-store")
    val outDir = tmp("ddp-out")
    val sink = DedupStream.sinkBatch(storeDir, outDir) _
    // seed a store with several docs so multiple buckets exist
    val seed = (1L to 8L).map(i =>
      (i, s"document number $i carries its own distinct words plus filler tokens alpha beta gamma delta"))
    sink(seed.toDF("doc_id", "text"), 0L)
    val total = spark.read.parquet(s"$storeDir/bands")
      .select("bkt").distinct().count()
    assert(total > 1, s"seed must span multiple buckets, got $total")
    // probe with a strict subset of buckets: the scan's partition
    // filters must carry both the strictly-before batch bound and the
    // bucket IN-set, and the file listing must only touch those buckets
    val someBkts = spark.read.parquet(s"$storeDir/bands")
      .select("bkt").distinct().as[Int].collect().sorted.take(1).toSeq
    val probe = DedupStream.probeStore(spark, storeDir, "bands", 1L, "bkt", someBkts).get
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bkt") &&
      plan.contains("batch"), s"store probe lost its partition filters:\n$plan")
    val scanned = probe.select(input_file_name()).distinct().as[String].collect()
    assert(scanned.nonEmpty && scanned.forall(f => f.contains(s"bkt=${someBkts.head}")),
      s"probe read files outside its bucket set: ${scanned.mkString(", ")}")
  }

  test("a pre-bucketed legacy store fails fast with a legible error, not mid-trigger") {
    import spark.implicits._
    val storeDir = tmp("ddo-store")
    // the r8 layout: band rows directly under batch=<id>, no bkt=<b>
    Seq((1L, 0, "ab"), (2L, 1, "cd")).toDF("doc_id", "band", "sig")
      .write.parquet(s"$storeDir/bands/batch=0")
    val e = intercept[IllegalStateException](
      DedupStream.probeStore(spark, storeDir, "bands", 1L, "bkt", Seq(0)))
    assert(e.getMessage.contains("pre-bucketed store layout"))
  }

  test("an empty micro-batch neither breaks the store nor corrupts the metrics") {
    import spark.implicits._
    val metrics = new graft.streaming.ServiceMetrics
    val storeDir = tmp("dde-store")
    val sink = DedupStream.sinkBatch(storeDir, tmp("dde-out"),
      metrics = Some(metrics)) _
    sink(Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text"), 0L)
    // an empty trigger: its observed verdict counts are zeros, not
    // nulls, and the store must not gain a fileless partition
    sink(Seq.empty[(Long, String)].toDF("doc_id", "text"), 1L)
    val snap = metrics.snapshot
    assert(snap("dedup_batches") == 2L && snap("dedup_uniques") == 1L &&
      snap("dedup_dups") == 0L, s"got $snap")
    val parts = new java.io.File(s"$storeDir/bands").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=0"), s"empty batch must not mint a store partition: $parts")
    // and a later batch still dedups against the intact store
    sink(Seq((5L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text"), 2L)
    assert(snapEq(metrics.snapshot, "dedup_dups", 1L))
  }

  private def snapEq(m: Map[String, Long], k: String, v: Long): Boolean = m(k) == v

  test("per-batch uniques/dups/store-rows surface through ServiceMetrics") {
    import spark.implicits._
    val tA = "the quick brown fox jumps over the lazy dog tonight"
    val tC = "completely different words live in this third document here"
    val metrics = new graft.streaming.ServiceMetrics
    val storeDir = tmp("ddm-store")
    val sink = DedupStream.sinkBatch(storeDir, tmp("ddm-out"),
      metrics = Some(metrics)) _
    sink(Seq((1L, tA), (2L, tC)).toDF("doc_id", "text"), 0L)
    sink(Seq((3L, tA),
      (4L, "entirely novel content about streaming joins and watermark state"))
      .toDF("doc_id", "text"), 1L)
    val snap = metrics.snapshot
    assert(snap("dedup_batches") == 2L, s"got $snap")
    assert(snap("dedup_uniques") == 3L, s"1, 2, 4 are unique: $snap")
    assert(snap("dedup_dups") == 1L, s"3 dups against 1: $snap")
    val storeRows = spark.read.parquet(s"$storeDir/bands").count()
    assert(snap("dedup_store_rows") == storeRows,
      s"store-rows counter must match the written band rows ($storeRows): $snap")
  }

  test("randomized interleavings: replay never changes results or store (10 seeds)") {
    // the r16 plan's streaming-store industrialization, dedup side.
    // Results here legitimately depend on BATCH BOUNDARIES (prior docs
    // match any id, within-batch only smaller ids — ingestion order
    // wins), so the oracle is a RUN-VS-RUN differential: the same
    // random corpus through the same random trigger schedule, once
    // plainly (run A) and once with checkpoint-recovery replays
    // injected (run B). Per-batch verdicts and the final canonical
    // store must be identical.
    import spark.implicits._
    val vocab = (0 until 40).map(i => s"w$i")
    (1 to 10).foreach { seedI =>
      val rnd = new scala.util.Random(seedI * 104729L)
      def baseDoc(): String =
        Seq.fill(12 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      // corpus: bases plus exact copies and 1-token mutations (above
      // the 0.5 jaccard threshold), ids SHUFFLED so cross-batch
      // larger-id-first cases occur
      val nDocs = 10 + rnd.nextInt(8)
      val texts = collection.mutable.ArrayBuffer.empty[String]
      (0 until nDocs).foreach { _ =>
        if (texts.nonEmpty && rnd.nextInt(10) < 4) {
          val src = texts(rnd.nextInt(texts.size))
          if (rnd.nextBoolean()) texts += src // exact copy
          else {
            val toks = src.split(" ")
            toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size))
            texts += toks.mkString(" ")
          }
        } else texts += baseDoc()
      }
      val ids = rnd.shuffle((1L to nDocs.toLong).toList)
      val docs = ids.zip(texts)
      val nBatches = 2 + rnd.nextInt(3)
      val cuts = Seq.fill(nBatches - 1)(rnd.nextInt(nDocs + 1)).sorted
      val bounds = (0 +: cuts) :+ nDocs
      val batches = bounds.zip(bounds.tail).map { case (a, b) => docs.slice(a, b) }

      val (storeA, outA) = (tmp(s"ddr-a-store$seedI"), tmp(s"ddr-a-out$seedI"))
      val (storeB, outB) = (tmp(s"ddr-b-store$seedI"), tmp(s"ddr-b-out$seedI"))
      def verdicts(outDir: String, id: Long): Seq[(Long, Option[Long], Boolean)] = {
        val p = new java.io.File(s"$outDir/batch=$id")
        if (!p.exists()) Seq.empty
        else spark.read.parquet(p.toString)
          .select(col("doc_id"), col("dup_of"), col("is_unique"))
          .as[(Long, Option[Long], Boolean)].collect().toSeq.sortBy(_._1)
      }
      def storeIds(storeDir: String): Set[Long] = {
        val p = new java.io.File(s"$storeDir/bands")
        if (!p.exists()) Set.empty
        else spark.read.parquet(p.toString)
          .select("doc_id").distinct().as[Long].collect().toSet
      }
      batches.zipWithIndex.foreach { case (batch, bi) =>
        val bdf = batch.toDF("doc_id", "text")
        DedupStream.sinkBatch(storeA, outA)(bdf, bi.toLong)
        // run B: a checkpoint-recovery replay of the same id AFTER it
        DedupStream.sinkBatch(storeB, outB)(bdf, bi.toLong)
        if (rnd.nextInt(3) == 0)
          DedupStream.sinkBatch(storeB, outB)(bdf, bi.toLong)
        val (va, vb) = (verdicts(outA, bi.toLong), verdicts(outB, bi.toLong))
        assert(va == vb,
          s"seed $seedI batch $bi: verdicts diverged\n A: $va\n B: $vb")
        val (sa, sb) = (storeIds(storeA), storeIds(storeB))
        assert(sa == sb,
          s"seed $seedI batch $bi: canonical stores diverged (A-B=${sa -- sb}, B-A=${sb -- sa})")
      }
    }
  }

  test("quality gate: junk never reaches the results channel or the store") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val good = "the quick brown fox jumps over the lazy dog tonight"
    val in = MemoryStream[(Long, String)]
    val storeDir = tmp("ddsg-store")
    val outDir = tmp("ddsg-out")
    val q = DedupStream.run(
      DedupStream.qualityGate(in.toDF().toDF("doc_id", "text"), minChars = 10, minTtr = 0.3),
      storeDir, outDir, tmp("ddsg-ckpt"))
    try {
      // 1 = good, 2 = too short (< 10 chars), 3 = repetitive (ttr 1/8)
      in.addData((1L, good), (2L, "a b"), (3L, "x x x x x x x x"))
      q.processAllAvailable()
      val r = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
      assert(r == Set(1L), s"gated docs must produce no verdict rows, got $r")
      val stored = spark.read.parquet(s"$storeDir/bands")
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(stored == Set(1L), s"gated docs must not extend the store, got $stored")
    } finally q.stop()
  }
}
