package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.ops.Relational

/** The approximate-percentile production twin: the sketch must honor
  * its rank-error contract (error ≤ n/accuracy ranks) against the same
  * data the exact, oracle-checked ns_agg_percentile runs on — plus the
  * grok_struct literal-argument analysis contract. */
class PercentileSpec extends SparkSpec {

  test("percentile_approx twin stays within the sketch's rank-error bound") {
    import spark.implicits._
    val rows = SparkEntry.queries("ns_agg_percentile_approx")(spark, sfDir)
      .select("l_returnflag", "p25", "p50", "p75")
      .as[(String, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("v"))
      .as[(String, Double)].collect().groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // rank error ≤ n/accuracy (+1 rank of slack for value ties at the
    // quantile boundary): the fraction of values strictly below the
    // sketch's answer can't overshoot q, and the fraction ≤ it can't
    // undershoot q, by more than the contract allows
    rows.foreach { case (flag, p25, p50, p75) =>
      val vs = li(flag)
      val n = vs.length.toDouble
      val eps = 1.0 / Relational.approxAccuracy + 1.5 / n
      Seq(0.25 -> p25, 0.5 -> p50, 0.75 -> p75).foreach { case (q, approx) =>
        val below = vs.count(_ < approx) / n
        val atOrBelow = vs.count(_ <= approx) / n
        assert(below <= q + eps && atOrBelow >= q - eps,
          s"$flag q=$q approx=$approx below=$below atOrBelow=$atOrBelow eps=$eps")
      }
    }
  }

  test("approx_count_distinct twin stays within its relative-error contract") {
    import spark.implicits._
    val approx = SparkEntry.queries("ns_agg_approx_distinct")(spark, sfDir)
      .select("event_type", "approx_users")
      .as[(String, Long)].collect().toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("u"))
      .as[(String, Long)].collect().toMap
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    // HLL++ at rsd=0.02: allow 3 standard deviations of relative error
    exact.foreach { case (k, ex) =>
      val rel = math.abs(approx(k).toDouble - ex) / ex
      assert(rel <= 0.06, s"$k: approx=${approx(k)} exact=$ex rel=$rel")
    }
  }

  test("hll sketch-merge twin: union of per-half sketches is estimate-identical to the direct build, and near-exact") {
    import spark.implicits._
    val merged = SparkEntry.queries("ns_agg_sketch_partial")(spark, sfDir)
      .as[(String, Long)].collect().toMap
    val direct = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .as[(String, Long)].collect().toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(merged.keySet == direct.keySet && merged.keySet == exact.keySet)
    merged.foreach { case (k, est) =>
      // same-lgK union takes the register-wise max, which is exactly the
      // single-pass build's registers — equality, not approximation
      assert(est == direct(k),
        s"$k: merged estimate $est != direct ${direct(k)} — union is not lossless")
      // and the sketch itself honors its error bound vs the exact count
      assert(math.abs(est - exact(k)) <= math.max(3.0, 0.05 * exact(k)),
        s"$k: estimate $est too far from exact ${exact(k)}")
    }
  }

  test("int8 quantization error bound: per-vector MAE never exceeds scale/2") {
    import spark.implicits._
    val rows = SparkEntry.queries("ns_embedding_quantize")(spark, sfDir)
      .as[(Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, scale, mae) =>
      assert(scale > 0, s"vec $id: non-positive scale")
      // round-to-nearest puts every element within scale/2 of its code
      // (6-dp rounding of the reported numbers adds at most 1e-6 slack)
      assert(mae <= scale / 2 + 1e-6,
        s"vec $id: mae $mae exceeds the rounding bound ${scale / 2}")
    }
  }

  test("grok_struct rejects non-foldable and null literal args with an analysis error") {
    import spark.implicits._
    val nonFoldable = intercept[AnalysisException] {
      Seq(("a-b", "(x)-(y)")).toDF("line", "rx")
        .selectExpr("grok_struct(line, rx, 'a', 'b')").collect()
    }
    assert(nonFoldable.errorClass.contains("NON_FOLDABLE_ARGUMENT"),
      s"got ${nonFoldable.errorClass}: ${nonFoldable.getMessage}")
    val nullPattern = intercept[AnalysisException] {
      spark.sql("SELECT grok_struct('a-b', CAST(NULL AS STRING), 'a')").collect()
    }
    assert(nullPattern.errorClass.contains("INVALID_PARAMETER_VALUE.NULL"),
      s"got ${nullPattern.errorClass}: ${nullPattern.getMessage}")
  }
}
