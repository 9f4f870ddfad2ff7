package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built: Bench, Verify, the
  * profilers and the test suites all run under the same confs, so a
  * timing from one is a timing of the others. */
object GraftSession {

  /** Core count for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** A `local[cores]` session at shuffle width `cores`, plus the extra
    * confs of `SPARK_GRAFT_CONF="k=v,k=v"` (A/B experiments, the scaling
    * tiers' partition counts). */
  def local(cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The catalog generates >100 distinct codegen stages; the default
      // 100-entry codegen cache then evicts+recompiles nondeterministically
      // (janino compiles of the big minhash/codec classes run seconds
      // each — the source of the r02/r03 wandering per-query stalls).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // high-cardinality collect_list aggregates (the LSH band-bucket
      // grouping: ~1 band hash per input row) otherwise hit
      // ObjectHashAggregate's 128-entry sort-based fallback and SORT
      // the whole band table per task; entries are (long key, tiny id
      // list), so a few million hashed entries per task is cheap
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.maxPlanStringLength", "8192")
      // async block/shuffle cleanup: the blocking cleaner serializes
      // against job submission through the dispatcher and produced
      // multi-second wandering stalls across a ~90-query session
      .config("spark.cleaner.referenceTracking.blocking", "false")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "false")
      // one executor classloader for every session: with per-session
      // artifact isolation each ScopedConf clone gets its own, and the
      // codegen cache (keyed by classloader) recompiles every stage the
      // clone runs — 0.15-0.4 s of janino per scope. graft adds no
      // session artifacts, so isolation buys it nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
