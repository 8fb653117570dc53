package graft

import org.apache.spark.sql.functions._

import graft.expr.GrokFunctions.regexp_extract_struct
import graft.expr.VecFunctions.{vec_cosine, vec_dot}

/** Unit semantics for the custom Catalyst expressions: single-pass grok
  * struct extraction and the primitive-loop vector ops. */
class ExprSpec extends SparkSpec {

  test("grok: one-pass struct extraction yields all capture groups") {
    import spark.implicits._
    val line = """203.0.0.7 - u7 [01/Jan/2026:00:00:00 +0000] "GET /v1/view/item3?limit=1&page=2 HTTP/1.1" 200 123 45 "203.0.0.7,10.0.0.9" client-7 txn-99 corr-9"""
    val rx = "^(\\S+) (\\S+) (\\S+) \\[([^\\]]+)\\] \"(\\w+) ([^\"]+) HTTP/([0-9.]+)\" " +
      "(\\d+) (\\d+) (\\d+) \"([^\"]+)\" client-(\\d+) txn-(\\d+) corr-(\\d+)$"
    val names = Seq("ip", "ident", "usr", "date", "method", "url", "ver",
      "status", "bytes", "ms", "xff", "client", "txn", "corr")
    val row = Seq(line).toDF("line")
      .select(regexp_extract_struct(col("line"), rx, names).as("g"))
      .select("g.*").collect().head
    assert(row.getString(0) == "203.0.0.7")
    assert(row.getString(4) == "GET")
    assert(row.getString(7) == "200")
    assert(row.getString(13) == "9")
  }

  test("grok: no-match yields empty strings (regexp_extract semantics), null stays null") {
    import spark.implicits._
    val out = Seq(Some("no match here"), None).toDF("line")
      .select(regexp_extract_struct(col("line"), "^(\\d+)-(\\d+)$", Seq("a", "b")).as("g"))
      .collect()
    assert(out(0).getStruct(0).getString(0) == "")
    assert(out(0).getStruct(0).getString(1) == "")
    assert(out(1).isNullAt(0))
  }

  test("vec_dot / vec_cosine match hand-computed values") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
      .select(vec_dot(col("a"), col("b")).as("d"), vec_cosine(col("a"), col("b")).as("c"))
    val r = df.collect().head
    assert(math.abs(r.getDouble(0) - 32.0) < 1e-9)
    val want = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(r.getDouble(1) - want) < 1e-9)
  }

  test("vec_cosine of a zero vector is 0.0, not NaN") {
    import spark.implicits._
    val r = Seq((Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
      .select(vec_cosine(col("a"), col("b"))).collect().head
    assert(r.getDouble(0) == 0.0)
  }

  test("bmp round-trip law: bmp_dims(bmp_wrap(p, w, h)) == (w, h); non-BMP → null") {
    import graft.expr.MediaFunctions.{bmp_dims, bmp_wrap}
    import spark.implicits._
    val cases = Seq(
      ("payload-a", 64, 288), ("", 1, 1), ("x" * 1000, 2147483647, 0))
    val out = cases.toDF("p", "w", "h")
      .select(bmp_dims(bmp_wrap(col("p").cast("binary"), col("w"), col("h"))).as("d"),
        col("w"), col("h"))
      .select(col("d.width"), col("d.height"), col("w"), col("h"))
      .as[(Int, Int, Int, Int)].collect()
    assert(out.forall { case (dw, dh, w, h) => dw == w && dh == h })
    // wrong magic / truncated bytes decode to null, never to garbage dims
    val bad = Seq("not a bmp at all", "BM").toDF("p")
      .select(bmp_dims(col("p").cast("binary")).as("d")).collect()
    assert(bad.forall(_.isNullAt(0)))
    // the full wrap output is a plausible BMP: magic + size field == length
    val bytes = Seq(("pix", 7, 9)).toDF("p", "w", "h")
      .select(bmp_wrap(col("p").cast("binary"), col("w"), col("h"))).as[Array[Byte]]
      .collect().head
    assert(bytes.length == 54 + 3 && bytes(0) == 'B' && bytes(1) == 'M')
    assert((bytes(2) & 0xff) == 57 && bytes(28) == 24)
  }

  test("wav round-trip law: wav_meta(wav_wrap(p, rate, ch)) recovers the header; non-WAV → null") {
    import graft.expr.MediaFunctions.{wav_meta, wav_wrap}
    import spark.implicits._
    val cases = Seq(
      ("audio-payload-x", 16000, 2), ("", 8000, 1), ("y" * 999, 44100, 2))
    val out = cases.toDF("p", "r", "c")
      .select(wav_meta(wav_wrap(col("p").cast("binary"), col("r"), col("c"))).as("m"),
        col("r"), col("c"), length(col("p")).as("len"))
      .select(col("m.sample_rate"), col("m.channels"), col("m.n_samples"),
        col("r"), col("c"), col("len"))
      .as[(Int, Int, Int, Int, Int, Int)].collect()
    assert(out.forall { case (mr, mc, ns, r, c, len) =>
      mr == r && mc == c && ns == len / (2 * c) })
    // wrong magic / truncated bytes decode to null, never to garbage
    val bad = Seq("definitely not riff audio", "RIFF", "RIFFxxxxWAV?").toDF("p")
      .select(wav_meta(col("p").cast("binary")).as("m")).collect()
    assert(bad.forall(_.isNullAt(0)))
    // RIFF/WAVE magic with the WRONG chunk tags (a LIST or non-canonical
    // layout) must also be null — the fixed-offset fields are only
    // meaningful when "fmt " is at 12 and "data" at 36
    val goodBytes = Seq(("p", 8000, 1)).toDF("p", "r", "c")
      .select(wav_wrap(col("p").cast("binary"), col("r"), col("c"))).as[Array[Byte]]
      .collect().head
    val badFmt = goodBytes.clone();  badFmt(12) = 'L'
    val badData = goodBytes.clone(); badData(36) = 'L'
    val tagBad = Seq(badFmt, badData).toDF("p")
      .select(wav_meta(col("p")).as("m")).collect()
    assert(tagBad.forall(_.isNullAt(0)))
    // the wrap output is a plausible canonical WAV: magic, RIFF size,
    // PCM tag, data length
    val bytes = Seq(("abcdef", 8000, 1)).toDF("p", "r", "c")
      .select(wav_wrap(col("p").cast("binary"), col("r"), col("c"))).as[Array[Byte]]
      .collect().head
    assert(bytes.length == 44 + 6)
    assert(new String(bytes.slice(0, 4)) == "RIFF" && new String(bytes.slice(8, 12)) == "WAVE")
    assert((bytes(4) & 0xff) == 42 && bytes(20) == 1 && (bytes(40) & 0xff) == 6)
  }

  test("nfc_normalize composes decomposed sequences and is the identity on ASCII") {
    import graft.expr.TextFunctions.nfc_normalize
    import spark.implicits._
    val decomposed = "café"   // e + combining acute
    val composed = "café"      // precomposed é
    val out = Seq(decomposed, composed, "plain ascii 123", "")
      .toDF("t").select(nfc_normalize(col("t"))).as[String].collect()
    assert(out(0) == composed, "NFC must compose e+◌́ into é")
    assert(out(1) == composed)
    assert(out(2) == "plain ascii 123" && out(3) == "")
  }

  test("SQL registry exposes the round-5 functions with working semantics") {
    val r = spark.sql(
      "SELECT simhash_bits(split('a b c', ' ')) AS sh, " +
        "nfc_normalize('plain') AS nf, " +
        "ordered_pairs(array(1L, 2L, 3L), false) AS np, " +
        "ordered_pairs(array(1L, 2L), true) AS npd, " +
        "bmp_dims(bmp_wrap(cast('p' as binary), 5, 7)).width AS w").collect().head
    assert(r.getLong(0) >= 0 && r.getLong(0) < (1L << 16))
    assert(r.getString(1) == "plain")
    assert(r.getSeq[org.apache.spark.sql.Row](2).map(x => (x.getLong(0), x.getLong(1)))
      == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(r.getSeq[org.apache.spark.sql.Row](3).map(x => (x.getLong(0), x.getLong(1)))
      == Seq((1L, 1L), (1L, 2L), (2L, 2L)))
    assert(r.getInt(4) == 5)
    // r8 additions: shingles + minhash signatures straight from SQL
    val r8 = spark.sql(
      "SELECT word_shingles3('a b c d') AS sh, " +
        "minhash_sigs(word_shingles3('a b c d'), 4) AS mh, " +
        "minhash_sigs(word_shingles3('a b'), 4) AS mhnull").collect().head
    assert(r8.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(r8.getSeq[String](1).length == 4 &&
      r8.getSeq[String](1).forall(_.matches("[0-9a-f]{32}")))
    assert(r8.isNullAt(2), "shingle-less input must yield a NULL signature vector")
    // n shapes the output: non-literal n is an analysis-time error
    val e = intercept[Exception](spark.sql(
      "SELECT minhash_sigs(array('x'), cast(id AS INT)) FROM range(1)").collect())
    assert(e.getMessage.contains("minhash_sigs"))
    // the internal Scala API guards n too: n=0 must fail at expression
    // CONSTRUCTION (driver side), not index out of bounds per row on an
    // executor
    val bad = intercept[IllegalArgumentException](
      graft.expr.TextFunctions.minhash_sigs(col("x"), 0))
    assert(bad.getMessage.contains("n must be >= 1"))
  }

  test("minhash_sigs equals the definitional explode/groupBy/min(md5) form bit-for-bit") {
    import spark.implicits._
    import graft.ops.TextOps
    val n = 8
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.shingles3(trim(col("text"))).as("sh"))
    val native = base
      .select(col("doc_id"),
        graft.expr.TextFunctions.minhash_sigs(col("sh"), n).as("mh"))
      .filter(col("mh").isNotNull)
      .as[(Long, Seq[String])].collect().toMap
    val definitional = base
      .select(col("doc_id"), explode(col("sh")).as("x"))
      .groupBy("doc_id")
      .agg(min(md5(concat(lit("0:"), col("x")))).as("mh0"),
        (1 until n).map(b =>
          min(md5(concat(lit(s"$b:"), col("x")))).as(s"mh$b")): _*)
      .as[(Long, String, String, String, String, String, String, String, String)]
      .collect().map(t => t._1 -> Seq(t._2, t._3, t._4, t._5, t._6, t._7, t._8, t._9))
      .toMap
    assert(native.keySet == definitional.keySet, "shingle-less docs must drop from both")
    assert(native.nonEmpty)
    native.foreach { case (id, mh) =>
      assert(mh == definitional(id), s"doc $id: $mh != ${definitional(id)}")
    }
    // empty shingle array → null, not an empty signature
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("sh")
      .select(graft.expr.TextFunctions.minhash_sigs(col("sh"), n).as("mh"))
      .collect()
    assert(empty.head.isNullAt(0))
    // null ELEMENTS are skipped like the definitional min(md5) form
    // (md5(null) is null, min ignores it); all-null → null signature
    val withNulls = spark.sql(
      "SELECT minhash_sigs(array('a b c', CAST(NULL AS STRING)), 8) AS mh, " +
        "minhash_sigs(array('a b c'), 8) AS mh_clean, " +
        "minhash_sigs(array(CAST(NULL AS STRING)), 8) AS mh_all_null").collect().head
    assert(withNulls.getSeq[String](0) == withNulls.getSeq[String](1),
      "a null element must not change the signature")
    assert(withNulls.isNullAt(2))
  }

  test("lsh_sign_bits equals the SQL HOF formulation on real embeddings") {
    import graft.expr.VecFunctions.lsh_sign_bits
    // 3 hyperplanes incl. a sign-sensitive edge (all-negative weights).
    val w = Array(
      Array.tabulate(64)(i => (i % 7 - 3).toLong * 100),
      Array.tabulate(64)(i => -(i % 5 + 1).toLong),
      Array.fill(64)(1L))
    val wLit = w.map(_.mkString("array(", "L,", "L)")).mkString("array(", ",", ")")
    val hof =
      "aggregate(zip_with(transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)), wk, (x, y) -> x * y), 0L, (a, x) -> a + x)"
    val rows = Tables.embeddings(spark, sfDir)
      .withColumn("bits", lsh_sign_bits(col("embedding"), w))
      .withColumn("dots", expr(s"transform($wLit, wk -> $hof)"))
      .select(col("bits"), expr(
        "CAST(CASE WHEN dots[0] >= 0 THEN 1 ELSE 0 END + " +
          "CASE WHEN dots[1] >= 0 THEN 2 ELSE 0 END + " +
          "CASE WHEN dots[2] >= 0 THEN 4 ELSE 0 END AS BIGINT)").as("expect"))
      .collect()
    assert(rows.nonEmpty && rows.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("quantize_vec equals the transform HOF formulation on real embeddings") {
    import graft.expr.VecFunctions.quantize_vec
    val rows = Tables.embeddings(spark, sfDir)
      .select(quantize_vec(col("embedding")).as("nat"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))").as("hof"))
      .collect()
    assert(rows.nonEmpty && rows.forall(r => r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("pq_encode / pq_lut / pq_adc / nearest_centroid / vec_l2_long: hand-computed semantics") {
    import graft.expr.VecFunctions._
    import spark.implicits._
    // dim 4, 2 subspaces of 2; codebook with non-dense cids
    val cb = "array(" +
      "array(named_struct('cid', 0, 'cq', array(0L, 0L)), named_struct('cid', 1, 'cq', array(3L, 4L)))," +
      "array(named_struct('cid', 5, 'cq', array(10L, 10L)), named_struct('cid', 7, 'cq', array(0L, 0L))))"
    val r = Seq(1).toDF("x")
      .select(
        pq_encode(expr("array(0L, 0L, 10L, 10L)"), expr(cb)).as("codes"),
        pq_lut(expr("array(1L, 1L, 0L, 0L)"), expr(cb)).as("lut"))
      .select(col("codes"), pq_adc(col("codes"), col("lut")).as("adc"))
      .collect().head
    // sub0: d(0,c0)=0 < d(0,c1)=25 → 0; sub1: d(10,c5)=0 < d(10,c7)=200 → 5
    assert(r.getSeq[Int](0) == Seq(0, 5))
    // adc of codes [0,5] against qq=[1,1,0,0]: sub0 d(q,c0)=2; sub1 d(q,c5)=200
    assert(r.getLong(1) == 202L)
    // argmin ties go to the LOWER cid on both expressions
    val tie = Seq(1).toDF("x").select(
      pq_encode(expr("array(0L, 0L)"),
        expr("array(array(named_struct('cid', 3, 'cq', array(1L, 0L)), named_struct('cid', 1, 'cq', array(0L, 1L))))")).as("c"),
      nearest_centroid(expr("array(0L, 0L)"),
        expr("array(named_struct('cluster', 5, 'cq', array(1L, 0L)), named_struct('cluster', 3, 'cq', array(0L, 1L)))")).as("m"),
      vec_l2_long(expr("array(1L, 2L, 3L)"), expr("array(3L, 2L, 1L)")).as("l2"))
      .select(col("c"), col("m.cluster"), col("m.dist"), col("l2")).collect().head
    assert(tie.getSeq[Int](0) == Seq(1))
    assert(tie.getInt(1) == 3 && tie.getLong(2) == 1L)
    assert(tie.getLong(3) == 8L)
  }

  test("SQL registry exposes the r11 vector/PQ family") {
    val r = spark.sql(
      """SELECT
        |  quantize_vec(array(CAST(0.0015 AS FLOAT), CAST(-0.0015 AS FLOAT))) AS q,
        |  vec_l2_long(array(1L, 2L), array(3L, 2L)) AS l2,
        |  pq_adc(
        |    pq_encode(array(0L, 0L),
        |      array(array(named_struct('cid', 0, 'cq', array(0L, 0L)),
        |                  named_struct('cid', 1, 'cq', array(5L, 5L))))),
        |    pq_lut(array(1L, 1L),
        |      array(array(named_struct('cid', 0, 'cq', array(0L, 0L)),
        |                  named_struct('cid', 1, 'cq', array(5L, 5L)))))) AS adc,
        |  nearest_centroid(array(0L, 0L),
        |    array(named_struct('cluster', 2, 'cq', array(1L, 1L)))).cluster AS cl
        |""".stripMargin).collect().head
    // HALF_UP at the .5 boundary: 1.5 -> 2, -1.5 -> -2
    assert(r.getSeq[Long](0) == Seq(2L, -2L))
    assert(r.getLong(1) == 4L)
    assert(r.getLong(2) == 2L) // code 0, qq=[1,1] vs c0=[0,0] -> d=2
    assert(r.getInt(3) == 2)
    // pcm16_fp: two samples 'ab' 'cd' -> window sums differ; empty -> null
    val p = spark.sql(
      "SELECT pcm16_fp('abcd').n_samples AS n, pcm16_fp('') AS e").collect().head
    assert(p.getLong(0) == 2L && p.isNullAt(1))
  }

  test("geohash cell encoding matches the standard algorithm (external fixtures)") {
    // fixtures computed by an independent standard geohash encoder
    import spark.implicits._
    val fx = Seq((40.5, -73.5, "dr5"), (-33.5, 151.5, "r65"),
      (1.5, 103.5, "w23"), (-0.5, -0.5, "7zz"))
    val df = fx.map { case (la, lo, _) => (la, lo) }.toDF("geo_lat", "geo_lon")
    val out = df.withColumn("gh",
        expr(graft.ops.Enrich.geohashText((x, n) => s"($x div ${1L << n})", "substring")
          .replace("//", "div")))
      .select("gh").as[String].collect()
    assert(out.toSeq == fx.map(_._3))
  }

  test("geohash_cell SQL function: standard-algorithm fixtures, edges, nulls") {
    val r = spark.sql(
      """SELECT geohash_cell(40.5D, -73.5D, 5) AS a,
        |  geohash_cell(-33.5D, 151.5D, 5) AS b,
        |  geohash_cell(1.5D, 103.5D, 1) AS c,
        |  geohash_cell(40.7128D, -74.006D, 7) AS d,
        |  geohash_cell(90.0D, 180.0D, 3) AS hi,
        |  geohash_cell(-90.0D, -180.0D, 3) AS lo,
        |  geohash_cell(CAST(NULL AS DOUBLE), 0D, 3) AS n
        |""".stripMargin).collect().head
    assert(r.getString(0) == "dr5wr" && r.getString(1) == "r659r")
    assert(r.getString(2) == "w" && r.getString(3) == "dr5regw")
    assert(r.getString(4) == "zzz" && r.getString(5) == "000")
    assert(r.isNullAt(6))
    // non-literal precision is an analysis error, not a runtime surprise
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT geohash_cell(1.0D, 1.0D, CAST(rand()*3 AS INT))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("foldable") ||
      e.getMessage.contains("NON_FOLDABLE"))
  }

  test("pcm16_fp equals the explode-per-sample formulation bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // real-looking payloads + edges: odd length (trailing byte ignored),
    // one sample, empty and single-char (no complete sample -> null),
    // high code units exercising the signed-sample branch
    val docs = Seq(
      (1L, "the fast key order sort table scan merge part window"),
      (2L, "ab"),
      (3L, "abc"),
      (4L, ""),
      (5L, "x"),
      (6L, new String(Array[Char](40, 200, 60, 128, 10, 3, 255, 255))),
      (7L, ("quiet" * 10) + ("LOUDLOUD" * 12) + ("quiet" * 10))
    ).toDF("doc_id", "text")
    val native = docs
      .select(col("doc_id"), graft.expr.MediaFunctions.pcm16_fp(col("text")).as("f"))
      .filter(col("f").isNotNull)
      .select(col("doc_id"), col("f.audio_fp").as("audio_fp"),
        col("f.n_samples").as("n_samples"))
    val windows = docs
      .select(col("doc_id"), col("text"),
        expr("CAST(length(text) div 2 AS BIGINT)").as("nsamp"))
      .filter(col("nsamp") > 0)
      .select(col("doc_id"), col("text"), col("nsamp"),
        explode(expr("sequence(CAST(0 AS BIGINT), nsamp - 1)")).as("j"))
      .select(col("doc_id"), col("nsamp"), col("j"),
        expr("ascii(substr(text, CAST(2*j+1 AS INT), 1)) + 256 * ascii(substr(text, CAST(2*j+2 AS INT), 1))").as("raw"))
      .select(col("doc_id"), expr("j * 16 div nsamp").as("w"),
        abs(when(col("raw") >= 32768, col("raw") - 65536).otherwise(col("raw")))
          .cast("long").as("amp"))
      .groupBy("doc_id", "w")
      .agg(sum(col("amp")).as("s_i"), count(lit(1)).as("c_i"))
    val totals = windows.groupBy("doc_id")
      .agg(sum(col("s_i")).as("s_tot"), sum(col("c_i")).as("c_tot"))
    val declared = windows.join(totals, "doc_id")
      .groupBy("doc_id")
      .agg(sum(when(col("s_i") * col("c_tot") > col("s_tot") * col("c_i"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(w AS INT))")).otherwise(0L)).as("audio_fp"),
        min(col("c_tot")).as("n_samples"))
    val n = native.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val d = declared.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(n.toSeq == d.toSeq, s"native ${n.toSeq} != declared ${d.toSeq}")
    assert(!n.map(_._1).contains(4L) && !n.map(_._1).contains(5L),
      "payloads with no complete sample must be null-filtered")
  }
}
