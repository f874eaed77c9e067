package graft

import graft.operators.PrefixIndex
import org.apache.spark.{GraftSparkAccess, JobExecutionStatus, TaskContext}

object InParallelSpec {
  /** Ticks of the slow sibling's tasks (JVM-wide: local-mode tasks run in
    * this JVM), so the spec can see whether they still run. */
  val ticks = new java.util.concurrent.atomic.AtomicLong()
}

/** The concurrent pre-marker writes of PrefixIndex and IncrementalCorpus:
  * a failure in one write must not leave a sibling writing behind the
  * caller once the failure has propagated. */
class InParallelSpec extends SparkSpecBase {

  test("a failed write cancels the sibling writes before it propagates") {
    import spark.implicits._
    val sc = spark.sparkContext
    val group = "in-parallel-spec"
    val dir = java.nio.file.Files.createTempDirectory("in-parallel").toString
    def runningJobs = sc.statusTracker.getJobIdsForGroup(group).toSeq
      .flatMap(sc.statusTracker.getJobInfo).filter(_.status == JobExecutionStatus.RUNNING)
    sc.setJobGroup(group, "inParallel cancellation")
    val t0 = System.nanoTime()
    try {
      val err = intercept[IllegalStateException] {
        PrefixIndex.inParallel(spark)(
          () => { // the injected failure, once the slow sibling is writing
            val deadline = System.nanoTime() + 60L * 1000000000L
            while (runningJobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
            throw new IllegalStateException("injected write failure")
          },
          () => spark.range(0, 2, 1, 2).map { i =>
            val tc = TaskContext.get()
            var k = 0
            while (k < 600 && !tc.isInterrupted()) { // 30 s unless killed
              InParallelSpec.ticks.incrementAndGet()
              Thread.sleep(50)
              k += 1
            }
            i
          }.write.mode("overwrite").parquet(s"$dir/slow"))
      }
      assert(err.getMessage == "injected write failure")
      val elapsed = (System.nanoTime() - t0) / 1e9
      assert(elapsed < 20, s"the slow sibling ran to completion ($elapsed s)")
      GraftSparkAccess.flushListeners(sc)
      val deadline = System.nanoTime() + 2L * 1000000000L // listener lag only
      while (runningJobs.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(runningJobs.isEmpty, "a sibling job is still running")
      Thread.sleep(200) // a killed task notices within one 50 ms tick
      val before = InParallelSpec.ticks.get()
      Thread.sleep(300)
      assert(InParallelSpec.ticks.get() == before, "a sibling task is still running")
      assert(!new java.io.File(s"$dir/slow/_SUCCESS").exists())
    } finally {
      sc.clearJobGroup()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
