package graft

import org.apache.spark.sql.functions._

import graft.ops.Decode

/** Decode-chain semantics pinned against the reference:
  * F4 message normalization (main.go:492–510), X2 fan-out cardinality
  * (main.go:228), and gzip-layer equivalence (the gzip and plain paths
  * must produce identical documents). */
class DecodeSpec extends SparkSpec {

  test("F4 jsonOrText: the reference's four message cases") {
    import spark.implicits._
    // main.go:492–510: valid JSON object → verbatim; valid JSON scalar →
    // verbatim; plain text → {"text": msg}; empty string is not JSON →
    // wrapped too.
    val cases = Seq(
      """{"a":1}""" -> """{"a":1}""",
      "42" -> "42",
      "plain text msg" -> """{"text":"plain text msg"}""",
      "" -> """{"text":""}""")
    val out = cases.map(_._1).toDF("msg")
      .select(col("msg"), Decode.jsonOrText(col("msg")).as("message"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (in, want) => assert(out(in) == want, s"case <$in>") }
  }

  test("isGzip sniffs the two magic bytes as binary") {
    import spark.implicits._
    val cases = Seq(
      "gzip magic" -> graft.expr.GzipCodec.gzip("x".getBytes("UTF-8")),
      "plain JSON" -> """{"a":1}""".getBytes("UTF-8"),
      "1-byte payload" -> Array[Byte](0x1f),
      "empty payload" -> Array.emptyByteArray,
      "0x1f 0x00" -> Array[Byte](0x1f, 0x00, 0x08))
    val got = cases.toDF("name", "bin")
      .select(col("name"), Decode.isGzip(col("bin")))
      .as[(String, Boolean)].collect().toMap
    assert(got == Map("gzip magic" -> true, "plain JSON" -> false,
      "1-byte payload" -> false, "empty payload" -> false, "0x1f 0x00" -> false))
  }

  test("X2 explode cardinality: documents = sum of |logEvents| (2 per batch)") {
    val nEvents = Tables.events(spark, sfDir).count()
    val docs = Decode.pipeline(spark, sfDir, withGzip = false)
    assert(docs.count() == 2 * nEvents)
  }

  test("per-record gzip layer decodes to identical documents as the plain path") {
    val plain = Decode.pipeline(spark, sfDir, withGzip = false)
    val gz = Decode.pipeline(spark, sfDir, withGzip = true)
    assert(gz.exceptAll(plain).isEmpty && plain.exceptAll(gz).isEmpty)
  }

  test("F7 remarshal gate: every typed document round-trips; a mutated rendering is dropped") {
    import spark.implicits._
    // the declared query: all documents pass the gate (reference
    // main.go:533–536 — a document failing json.Marshal never ships)
    val n = Tables.events(spark, sfDir).count()
    assert(Decode.remarshalOp.fn(spark, sfDir).count() == n)
    // and the gate is a real comparison, not a tautology: the same
    // round-trip predicate over a rendering that does NOT match its
    // struct rejects the row
    val docs = Seq(("a", 1L), ("b", 2L)).toDF("logGroup", "owner")
      .select(struct(col("logGroup"), col("owner")).as("doc"))
    val docType = docs.schema("doc").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val mutated = docs.withColumn("doc_json",
      when(col("doc.owner") === 1L, lit("""{"logGroup":"a","owner":999}"""))
        .otherwise(to_json(col("doc"))))
    val kept = mutated.filter(from_json(col("doc_json"), docType) <=> col("doc"))
    assert(kept.count() == 1 && kept.select("doc.owner").as[Long].head() == 2L)
  }

  test("ns_variant_message: msg binds to a real VariantType and extracts by path") {
    import spark.implicits._
    // SURVEY §1.3's promise: json.RawMessage maps to Spark 4 VariantType,
    // not a flattened string — the intermediate must BE variant
    val v = graft.ops.Synth.eventsWithMsg(spark, sfDir)
      .selectExpr("try_parse_json(msg) AS v")
    assert(v.schema("v").dataType == org.apache.spark.sql.types.VariantType,
      s"expected VariantType, got ${v.schema("v").dataType}")
    // and the declared query's semantics: JSON-object rows (event_id%3=0)
    // parse with $.k extractable, plain-text rows (%3=1) are variant-null,
    // bare-scalar rows (%3=2) parse as JSON but carry no $.k
    val out = Decode.variantMessageOp.fn(spark, sfDir)
      .withColumn("m", pmod(col("event_id"), lit(3)))
    assert(out.filter(col("m") === 0 && (!col("is_json") || col("k").isNull)).isEmpty,
      "props rows must parse as variant objects with $.k")
    assert(out.filter(col("m") === 1 && col("is_json")).isEmpty,
      "plain-text rows must be variant-null")
    assert(out.filter(col("m") === 2 && (!col("is_json") || col("k").isNotNull)).isEmpty,
      "bare scalars are valid JSON but have no $.k path")
    // extracted value matches the source props payload
    val probe = graft.ops.Synth.eventsWithMsg(spark, sfDir)
      .filter(pmod(col("event_id"), lit(3)) === 0)
      .selectExpr("event_id", "CAST(get_json_object(props, '$.k') AS BIGINT) AS want")
    val joined = Decode.variantMessageOp.fn(spark, sfDir).join(probe, "event_id")
    assert(joined.filter(col("k") =!= col("want")).isEmpty, "variant $.k drifted from props")
  }

  test("whole-body gzip binding: 2 records per request, payloads survive the wire") {
    val nEvents = Tables.events(spark, sfDir).count()
    val out = Decode.bodyGzipOp.fn(spark, sfDir)
    assert(out.count() == 2 * nEvents)
    // record 0 carries props (JSON), record 1 carries the event_type word
    val r1 = out.filter(col("rec_pos") === 1).select("payload").distinct().count()
    assert(r1 <= 10) // event_type vocabulary is small
  }
}
