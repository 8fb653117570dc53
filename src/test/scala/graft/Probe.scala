package graft
import org.apache.spark.sql.functions._

/** Dev scratchpad: probes the library surface the way a user would —
  * SQL-registered custom functions (GraftExtensions.install) and edge
  * inputs (garbage gzip bytes, empty input, no-match grok lines). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Session.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // 1. SQL path: registered functions round-trip
    spark.sql("SELECT cast(gunzip(gzip(cast('hello graft' as binary))) as string) AS rt, " +
      "vec_cosine(array(1.0F,0.0F), array(1.0F,0.0F)) AS cos_same, " +
      "vec_dot(array(1.0F,2.0F), array(3.0F,4.0F)) AS dot").show(false)
    // 2. error path: gunzip of non-gzip bytes
    try {
      spark.sql("SELECT gunzip(cast('not gzip' as binary)) AS x").collect()
      println("PROBE: gunzip(garbage) did NOT throw")
    } catch { case e: Throwable =>
      println(s"PROBE: gunzip(garbage) threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
    }
    // 3. null propagation through the custom expressions; try_gunzip
    //    yields null (not an exception) on corrupt bytes
    spark.sql("SELECT gunzip(cast(NULL as binary)) AS n1, vec_cosine(NULL, array(1.0F)) AS n2, " +
      "try_gunzip(cast('junk' as binary)) AS n3").show(false)
    // 4. grok on a non-matching line -> empty strings, not nulls/exception
    import graft.expr.GrokFunctions.regexp_extract_struct
    Seq("definitely not an access log").toDF("line")
      .select(regexp_extract_struct(col("line"),
        "^(\\S+) (\\S+)$", Seq("a", "b")).as("g"))
      .select(col("g.a"), col("g.b")).show(false)
    // 5. SQL grok_struct: one-pass extraction via the registry
    spark.sql("SELECT g.a, g.b FROM (SELECT grok_struct('12-34', '^(\\\\d+)-(\\\\d+)$', 'a', 'b') AS g)").show(false)
    // 5b. SQL dissect_struct: the delimiter walk — match, no-match (empty
    //     strings), and a skip field
    val ds = spark.sql(
      "SELECT dissect_struct('1.2.3.4 - alice', '%{ip} %{?dash} %{usr}', 'ip', 'usr') AS ok, " +
      "dissect_struct('no separators', '%{a};%{b}', 'a', 'b') AS miss").collect()(0)
    println(s"PROBE: dissect ok=${ds.getStruct(0).getString(0)}/${ds.getStruct(0).getString(1)} " +
      s"miss_empty=${ds.getStruct(1).getString(0).isEmpty && ds.getStruct(1).getString(1).isEmpty}")
    // 6. dedup-signature SQL surface: shingles/minhash/simhash on edge
    //    inputs — empty text (no shingles), nulls, and a sub-3-token doc
    val sig = spark.sql(
      "SELECT word_shingles3('a b c d') AS sh4, word_shingles3('a b') AS sh2, " +
      "word_shingles3(NULL) AS shn, minhash_sigs(word_shingles3('a b c d'), 8) AS mh, " +
      "simhash_bits(split('a b c d', ' ')) AS sb, nfc_normalize(NULL) AS nn").collect()(0)
    println(s"PROBE: shingles(4 toks)=${sig.getSeq[String](0).length} " +
      s"shingles(2 toks)=${sig.getSeq[String](1).length} shingles(null)=${sig.isNullAt(2)} " +
      s"minhash_n=${sig.getSeq[Long](3).length} simhash_null=${!sig.isNullAt(4)} nfc_null=${sig.isNullAt(5)}")
    // minhash_sigs with an out-of-range n must fail at analysis, not at eval
    try {
      spark.sql("SELECT minhash_sigs(word_shingles3('a b c d'), 0) AS bad").collect()
      println("PROBE: minhash_sigs(n=0) did NOT throw")
    } catch { case e: Throwable =>
      println(s"PROBE: minhash_sigs(n=0) threw ${e.getClass.getSimpleName}")
    }
    // 6b. media fixtures via SQL: wav round-trip + garbage → null
    val wav = spark.sql(
      "SELECT wav_meta(wav_wrap(cast('pcm' as binary), 8000, 1)).sample_rate AS r, " +
      "wav_meta(cast('junk' as binary)) AS bad").collect()(0)
    println(s"PROBE: wav_meta(wrap).rate=${wav.getInt(0)} wav_meta(junk)_null=${wav.isNullAt(1)}")
    // 7. ordered_pairs edge inputs: singleton and null arrays expand to no rows
    val op = spark.sql("SELECT ordered_pairs(array(7L), false) AS p1, ordered_pairs(CAST(NULL AS ARRAY<BIGINT>), false) AS p2")
    println(s"PROBE: ordered_pairs(singleton)=${op.collect()(0).getSeq[Any](0).length} rows ok")
    // 8. flagship entry smoke (rows > 0)
    println(s"PROBE: entry rows = ${SparkEntry.entry(spark).count()}")
    spark.stop()
  }
}
