package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Every entry point (Serve, Replay, Bench,
  * Verify, Liveness, the test fixture and the diagnostic mains) builds its
  * session here, so the oracle gate, the bench and the deployed service
  * all run under the same conf. Only settings that differ from a Spark 4.1
  * default are listed.
  *
  * The factory installs graft's SQL functions imperatively and does NOT
  * use `withExtensions`: that would also inject `EliminateCodecRoundTrips`
  * into every session and strip the gunzip `k2e_pipeline_gzip` exists to
  * exercise (CodecRuleSpec builds its own session for the rule). */
object Session {

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Static conf, must land before the first session: the default
      // 100-entry generated-class cache thrashes under 72 queries × a
      // few codegen stages each — the r5 "geoip regression" was exactly
      // this (isolated runs matched r4; only the full rig was slower).
      // A service running this many distinct plans wants the same bump.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // RocksDB state store: the default HDFS-backed provider keeps every
      // key in executor heap — at 100 TB/day the sessionize/dedup state
      // (one entry per active stream / in-flight event id) OOMs the JVM;
      // RocksDB spills to local disk and bounds heap. Changelog
      // checkpointing uploads per-batch deltas instead of full snapshots,
      // keeping checkpoint cost proportional to state CHANGE, not size.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark
  }

  /** `local(SPARK_GRAFT_CPUS)`, 4 cores when the variable is unset. */
  def fromEnv(): SparkSession =
    local(sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt))
}
