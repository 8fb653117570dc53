package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}

/** Gate-liveness audit (r20 verdict task 1 — the round's headline).
  *
  * The r19 oracle-mutant class exposed three keys whose green rested on
  * DEGENERATE fixtures (ns_except compared empty to empty; the dedup
  * keys saw a corpus with zero duplicates), and it caught them only
  * incidentally — a mutant happened not to change an empty result.
  * This tool makes vacuity detection FIRST-CLASS, for every declared
  * key at once:
  *
  *  1. rows > 0 — an empty result can sit hash-green forever while the
  *     operator under test never runs;
  *  2. no silent all-constant / all-null output column — a column that
  *     never varies (over ≥ 2 rows) or never carries a value is not
  *     being exercised, UNLESS the key declares it intentional in
  *     `QueryDef.constOk` (value = the reason, reported not flagged);
  *  3. every declared `QueryDef.liveness` branch probe holds — one
  *     boolean Spark-SQL statement over the key's own result (view
  *     `r`), asserting the branch the key exists to exercise is hit
  *     (both EXCEPT directions populated, n_copies > 1 groups present,
  *     both geoip match and miss sides, both json-vs-text parse
  *     branches, …).
  *
  * Checks run on the ENGINE's result, so a probe failure means the
  * fixture (or the operator) is degenerate in the engine itself — the
  * oracle mirrors the same inputs, so a degenerate engine result imples
  * a degenerate GATE. The main runs every key at each argv SF dir
  * (driver shape: sf0.01 AND sf0.1) and writes one JSON report; any
  * flagged key exits nonzero. LivenessSpec re-derives the three r19
  * catches through `check()` against deliberately degenerate frames —
  * the tool, not the judge, now finds that class.
  */
object Liveness {

  final case class KeyReport(
      name: String,
      rows: Long,
      emptyResult: Boolean,
      constCols: Seq[String],     // flagged: constant over ≥2 rows, undeclared
      nullCols: Seq[String],      // flagged: all-null, undeclared
      constExempt: Seq[String],   // declared intentional (reason in QueryDef)
      uncheckedCols: Seq[String], // map/struct-typed: no distinct-count defined
      probes: Seq[(String, Boolean)],
      error: Option[String]) {
    def flagged: Boolean =
      emptyResult || constCols.nonEmpty || nullCols.nonEmpty ||
        probes.exists(!_._2) || error.isDefined
  }

  /** Audit one materialized result frame against its declaration. */
  def check(spark: SparkSession, q: QueryDef, df: DataFrame): KeyReport = {
    val n = df.count()
    if (n == 0)
      return KeyReport(q.name, 0, emptyResult = true, Nil, Nil, Nil, Nil,
        q.liveness.map { case (l, _) => l -> false }, None)
    // distinct/non-null counts in ONE aggregate pass per key. Map and
    // struct columns have no Spark count_distinct — reported unchecked
    // rather than silently skipped (no silent caps).
    val fields = df.schema.fields
    val (countable, unchecked) = fields.partition(f => f.dataType match {
      case _: MapType | _: StructType => false
      case ArrayType(_: MapType, _) | ArrayType(_: StructType, _) => false
      case _ => true
    })
    val aggs = countable.flatMap { f =>
      val c = col("`" + f.name + "`")
      // binary has no native count_distinct path on some codecs — hash first
      val d = f.dataType match {
        case BinaryType => countDistinct(sha2(c, 256))
        case ArrayType(_, _) => countDistinct(to_json(c))
        case _ => countDistinct(c)
      }
      Seq(d.as(s"d_${f.name}"), count(c).as(s"n_${f.name}"))
    }
    val stats = if (aggs.isEmpty) null else df.agg(aggs.head, aggs.tail: _*).collect()(0)
    var constCols = Vector.empty[String]
    var nullCols = Vector.empty[String]
    var exempt = Vector.empty[String]
    countable.zipWithIndex.foreach { case (f, i) =>
      val distinct = stats.getLong(2 * i)
      val nonNull = stats.getLong(2 * i + 1)
      val degenerate =
        if (nonNull == 0) Some("null")
        else if (n >= 2 && distinct == 1 && nonNull == n) Some("const")
        else None
      degenerate match {
        case Some(_) if q.constOk.contains(f.name) => exempt :+= f.name
        case Some("null") => nullCols :+= f.name
        case Some("const") => constCols :+= f.name
        case _ => ()
      }
    }
    val probes = q.liveness.map { case (label, sql) =>
      df.createOrReplaceTempView("r")
      val out = spark.sql(sql).collect()
      require(out.length == 1 && out(0).length == 1,
        s"${q.name} probe '$label' must return exactly one boolean cell")
      label -> (!out(0).isNullAt(0) && out(0).getBoolean(0))
    }
    KeyReport(q.name, n, emptyResult = false, constCols, nullCols, exempt,
      unchecked.map(_.name).toSeq, probes, None)
  }

  /** The fixture tables a branch probe may reference next to `r` (the
    * ns_except shape: "remainder < left-side count" needs customer).
    * Raw parquet reads — probes compare COUNTS and key sets, which
    * need no dialect adaptation. */
  private val baseTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def registerBaseTables(spark: SparkSession, dir: String): Unit =
    baseTables.foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }

  def auditOne(spark: SparkSession, q: QueryDef, dir: String): KeyReport =
    try check(spark, q, q.fn(spark, dir))
    catch {
      case e: Throwable =>
        KeyReport(q.name, -1, emptyResult = false, Nil, Nil, Nil, Nil,
          q.liveness.map { case (l, _) => l -> false },
          Some(e.toString.linesIterator.next().take(200)))
    }

  private def reportJson(r: KeyReport): String = {
    val probes = r.probes.map { case (l, ok) => s"${Json.quote(l)}:$ok" }
      .mkString("{", ",", "}")
    def arr(xs: Seq[String]) = xs.map(Json.quote).mkString("[", ",", "]")
    s"""{"rows":${r.rows},"flagged":${r.flagged},"const_cols":${arr(r.constCols)},""" +
      s""""null_cols":${arr(r.nullCols)},"const_exempt":${arr(r.constExempt)},""" +
      s""""unchecked_cols":${arr(r.uncheckedCols)},"probes":$probes""" +
      r.error.fold("")(e => s""","error":${Json.quote(e)}""") + "}"
  }

  /** argv: <outJson> <sfDir> [<sfDir> …] — audits every registry key at
    * every given SF. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Liveness <outJson> <sfDir> [<sfDir>...]")
    val outPath = args(0)
    val dirs = args.drop(1).toSeq
    val spark = Session.fromEnv()
    val nProbes = Registry.all.map(_.liveness.size).sum
    val perSf = dirs.map { dir =>
      registerBaseTables(spark, dir)
      val reports = Registry.all.map(q => auditOne(spark, q, dir))
      val flagged = reports.filter(_.flagged)
      println(s"[liveness] $dir: ${reports.size} keys, " +
        s"${flagged.size} flagged${if (flagged.nonEmpty) " → " + flagged.map(_.name).mkString(",") else ""}")
      dir -> reports
    }
    val body = perSf.map { case (dir, reports) =>
      Json.quote(dir) + ":{" +
        reports.map(r => s"${Json.quote(r.name)}:${reportJson(r)}").mkString(",") + "}"
    }.mkString(",")
    val allFlagged = perSf.flatMap(_._2).filter(_.flagged).map(_.name).distinct.sorted
    val summary =
      s"""{"metric":"liveness","keys":${Registry.all.size},"declared_probes":$nProbes,""" +
        s""""sf_dirs":${dirs.map(Json.quote).mkString("[", ",", "]")},""" +
        s""""flagged":${allFlagged.map(Json.quote).mkString("[", ",", "]")},""" +
        s""""n_flagged":${allFlagged.size}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (s"""{"summary":$summary,"per_sf":{$body}}""" + "\n").getBytes("UTF-8"))
    println(summary)
    spark.stop()
    if (allFlagged.nonEmpty) sys.exit(1)
  }
}
