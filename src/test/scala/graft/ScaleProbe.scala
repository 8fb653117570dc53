package graft

import org.apache.spark.sql.SparkSession

/** Scaling probe: runs every declared query at THREE scale factors
  * (r20 — r11–r19 used two) and flags two distinct pathologies the
  * single-sf bench cannot see:
  *
  *  - super-linear growth on the top step (time-ratio ≫ data-ratio):
  *    an accidental O(n²) candidate set, a broadcast side that stopped
  *    being broadcastable, a partial aggregate that stopped combining;
  *  - CURVATURE (ratio-of-ratios): the cost curve BENDING upward
  *    between the two steps — the cheapest detector of super-linear
  *    ONSET, e.g. a pair generator whose cap is not yet binding at the
  *    top shipped SF but whose ratio is already accelerating. A linear
  *    operator has r_big ≈ r_small (both ≈ the data ratio after the
  *    constant-overhead floor); an onset shows r_big ≫ r_small.
  *
  * Method: min-of-`rounds` per query per sf, round-robin within each
  * sf (the Bench rig's one-sided-noise argument); r12 = t_mid/t_small,
  * r23 = t_big/t_mid. Flags:
  *  - super-linear: r23 > flagFactor × dataRatio, big time > floorSec;
  *  - curvature: r23 > max(dataRatio, curvFactor × r12), big time >
  *    floorSec — the dataRatio guard keeps a constant-overhead small
  *    step (r12 < 1) from inflating the quotient spuriously.
  * Sub-`floorSec` queries are dominated by per-query constant overhead
  * (plan/codegen/dispatch); their ratios are meaningless both ways.
  *
  * Prints ONE JSON line:
  *   {"metric":"scaling","data_ratio":…,"ratios":{q:[r12,r23]},
  *    "curvature":{q:…},"flagged":[…],"flagged_curvature":[…]}
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfSmall = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val sfMid = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val sfBig = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val dataRatio = args.lift(3).map(_.toDouble).getOrElse(10.0)
    val rounds = sys.env.getOrElse("SPARK_GRAFT_PROBE_ROUNDS", "2").toInt
    val flagFactor = 2.0
    val curvFactor = 2.0
    val floorSec = 0.5
    val spark = Session.fromEnv()
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    def onePass(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => Double.PositiveInfinity }
    }
    // round-robin within each sf (the Bench rig): an ambient-load spike
    // lands on one round of many queries, not all passes of one query
    def minTimes(dir: String): Map[String, Double] = {
      val acc = collection.mutable.Map.empty[String, Double].withDefaultValue(Double.PositiveInfinity)
      for (_ <- 1 to rounds; (name, fn) <- names)
        acc(name) = math.min(acc(name), onePass(fn, dir))
      acc.toMap
    }
    val small = minTimes(sfSmall)
    val mid = minTimes(sfMid)
    val big = minTimes(sfBig)

    def fmt(d: Double): String =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val rows = names.flatMap { case (name, _) =>
      val (a, b, c) = (small(name), mid(name), big(name))
      if (a.isFinite && b.isFinite && c.isFinite && a > 0 && b > 0)
        Some((name, b / a, c / b))
      else None
    }
    val flagged = rows.collect {
      case (name, _, r23) if r23 > flagFactor * dataRatio && big(name) > floorSec => name
    }
    val flaggedCurv = rows.collect {
      case (name, r12, r23)
        if r23 > math.max(dataRatio, curvFactor * r12) && big(name) > floorSec => name
    }
    val failed = names.map(_._1).filter(n =>
      !small(n).isFinite || !mid(n).isFinite || !big(n).isFinite)
    val rJson = rows.map { case (k, r12, r23) =>
      "\"" + k + "\":[" + fmt(r12) + "," + fmt(r23) + "]" }.mkString("{", ",", "}")
    val cJson = rows.map { case (k, r12, r23) =>
      "\"" + k + "\":" + fmt(if (r12 > 0) r23 / r12 else Double.NaN) }.mkString("{", ",", "}")
    val tJson = rows.map { case (k, _, _) =>
      "\"" + k + "\":[" + fmt(small(k)) + "," + fmt(mid(k)) + "," + fmt(big(k)) + "]" }
      .mkString("{", ",", "}")
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"scaling","data_ratio":$dataRatio,"flag_factor":$flagFactor,"curv_factor":$curvFactor,"floor_sec":$floorSec,"rounds":$rounds,"sf_small":"$sfSmall","sf_mid":"$sfMid","sf_big":"$sfBig","ratios":$rJson,"curvature":$cJson,"times":$tJson,"flagged":${arr(flagged)},"flagged_curvature":${arr(flaggedCurv)},"failed":${arr(failed)}}""")
    println(s"""{"metric":"scaling_summary","n_queries":${names.size},"n_flagged":${flagged.size},"n_flagged_curvature":${flaggedCurv.size},"flagged":${arr(flagged)},"flagged_curvature":${arr(flaggedCurv)},"failed":${arr(failed)}}""")
    spark.stop()
  }
}
