package graft

import org.apache.spark.sql.SparkSession

/** The one graft session conf: Bench (and the perfbench harness through
  * `Bench.mkSession`), Verify and the test base all build their session
  * here, so Tier-1, the oracle gate and the benchmark run the same
  * planner and the same codegen cache. */
object GraftSession {

  /** Cap on Spark's JVM-wide generated-class cache (a static conf, read
    * once when the cache is built; Spark's default is 100). Warm callers
    * repeat whole units, and LRU evicts every class of a unit larger than
    * the cap before its next use. Measured entries per unit at 4 cores (a
    * class compiled under both the driver's and the executor's class
    * loader is two entries): one headline round at sf0.1, 116; one
    * steady-state corpus ingest plus its canonical read at sf0.1, about
    * 140; the largest catalog entry at sf0.01, 165 (dd24; p99 90, median
    * 24). 2000 holds all three together with over 4x headroom. Bounded on
    * purpose: per-batch literals (CcIndex's stored `__v`, callers' batch
    * filters) add new classes on every ingest without end, and LRU
    * retires them. */
  private val codegenCacheEntries = 2000

  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      // The cache is keyed by source text. With AQE, whole-stage ids
      // follow stage completion order, which races, so an id in the
      // class name made a rerun of the same plan miss the cache.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet stores TIMESTAMP(NANOS); read as long, convert in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
