package graft.perfbench

import java.io.PrintWriter

import scala.util.control.NonFatal

import graft.{Bench, SparkEntry}

/** Computes the expected output digest of catalog entries, for
  * `perfbench/expect.py`.
  *
  * Usage: Expect <sf dir> <out.jsonl> [name...]
  *
  * Runs each named entry (default: the whole catalog, in catalog order)
  * once on one session and writes one JSON line per entry with its
  * digest, wall seconds, error and oracle SQL.
  */
object Expect {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val out = new PrintWriter(args(1), "UTF-8")
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.all.map(_.name)
    val spark = Bench.mkSession(Runtime.getRuntime.availableProcessors.toString)
    val oracle = SparkEntry.oracleSql
    names.foreach { name =>
      val t0 = System.nanoTime()
      val (digest, error) =
        try (Digest.of(SparkEntry.queries(name)(spark, sf)), null)
        catch { case NonFatal(e) => (null, e.toString) }
      out.println(Json.obj(Seq("name" -> name, "digest" -> digest, "error" -> error,
        "wall_s" -> (System.nanoTime() - t0) / 1e9, "oracle" -> oracle.getOrElse(name, null))))
      out.flush()
    }
    spark.stop()
    out.close()
  }
}
