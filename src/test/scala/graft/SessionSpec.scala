package graft

/** The shared test session comes from `Session.local`, so the suites run
  * under the conf the service and the oracle gate deploy. */
class SessionSpec extends SparkSpec {

  test("the shared test session carries the factory's conf and graft's SQL functions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rt = spark.sql(
      "SELECT cast(try_gunzip(gzip(cast('graft' as binary))) as string)").head().getString(0)
    assert(rt == "graft")
  }
}
