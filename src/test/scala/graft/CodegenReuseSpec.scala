package graft

import graft.operators.Dedup
import org.apache.spark.GraftSparkAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** A warm session reuses its generated code: repeating a unit of work
  * compiles no new class. Spark's generated-class cache is JVM-wide and
  * sized once, so this also fails when the cache was built before the
  * graft session (at Spark's default size). */
class CodegenReuseSpec extends SparkSpecBase {

  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sf0001).write.format("noop").mode("overwrite").save()

  test("a second pass of the 10 headline queries compiles nothing") {
    val names = Bench.headline.toSeq.sorted
    names.foreach(run)
    assert(compiles(names.foreach(run)) == 0)
  }

  test("a second run of an iterative Graph entry compiles nothing") {
    run("gr23_eccentricity") // distributed BFS loop, one emptiness probe per hop
    assert(compiles(run("gr23_eccentricity")) == 0)
  }

  test("the connected-components local path probes and collects in one job") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.map(_.name).mkString(";"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val cc = Dedup.connectedComponents(pairs)
      GraftSparkAccess.flushListeners(sc)
      // every job but the edge checkpoint's is the size probe + collect
      // (the checkpointed plan has no shuffle, so Lineage runs one job;
      // AQE's shuffle-stage jobs would carry a thread-pool call site)
      val probeJobs = sites.toArray.map(_.toString).filterNot(_.contains("Lineage.scala"))
      assert(probeJobs.length == 1, probeJobs.mkString(" | "))
      assert(cc.as[(Long, Long)].collect().toSet ==
        Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    } finally sc.removeSparkListener(listener)
  }
}
