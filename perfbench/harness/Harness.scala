package graft.perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Path, Paths}

import scala.io.Source
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions.col

import graft.{Bench, SparkEntry, Tables}
import graft.operators.IncrementalCorpus

/** The benchmark's JVM side: one client running a generated plan of
  * operations in a closed loop on a `local[cores]` session.
  *
  * Usage: Harness <plan.tsv> <out.jsonl>
  *
  * The plan is tab-separated `key value...` lines written by
  * `perfbench/run.py`: `workload`, `sf`, `cores`, `seconds`, `trace`,
  * `block`, `spans`, `state`, then operation lines, `warm` (untimed) or
  * `op`: `query <name>` or `ingest <pass> <batch> <lo> <hi>`. The
  * output is one JSON object per line: `ready`, one `op` per operation
  * (plus one `read` per ingest) and `env`.
  */
object Harness {
  final case class Plan(kv: Map[String, String], warm: Seq[Array[String]],
                        ops: Seq[Array[String]]) {
    def apply(k: String): String = kv(k)
    def flag(k: String): Boolean = kv.get(k).contains("1")
  }

  def readPlan(path: String): Plan = {
    val src = Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().map(_.split("\t")).toVector finally src.close()
    Plan(lines.filter(l => l(0) != "op" && l(0) != "warm").map(l => l(0) -> l(1)).toMap,
      lines.filter(_(0) == "warm").map(_.tail), lines.filter(_(0) == "op").map(_.tail))
  }

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val out = new PrintWriter(args(1), "UTF-8")
    def emit(fields: (String, Any)*): Unit = { out.println(Json.obj(fields)); out.flush() }
    val sf = plan("sf")
    val spark = Bench.mkSession(plan("cores"))
    Bench.warmup(spark, sf)
    val stateRoot = plan.kv.get("state").map(Paths.get(_))
    stateRoot.foreach(Files.createDirectories(_))
    emit("kind" -> "ready", "epoch_ms" -> System.currentTimeMillis())
    val tracer = if (plan.flag("trace")) Some(new Tracer(spark)) else None
    val run = new Runner(spark, sf, stateRoot, tracer, emit)
    plan.warm.indices.foreach(i => run.perform(plan.warm, i, timed = false))
    run.loop(plan.ops, plan("seconds").toDouble, plan("block").toInt)
    tracer.foreach { t =>
      t.close()
      Files.write(Paths.get(plan("spans")), run.spansJson.getBytes("UTF-8"))
    }
    emit("kind" -> "env", "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "peak_rss_mb" -> peakRssMb)
    spark.stop()
    out.close()
  }

  /** The process's resident high-water mark (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  /** Label-store buckets, as the catalog's pp4 entry sizes them for
    * corpora up to sf0.1. */
  val IngestBuckets = 8

  /** Files under `dir`, keyed by path, with size and modification time. */
  def files(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  /** Runs its by-name argument inside a named child span. */
  type Child = String => (=> Any) => Any
  final case class Result(schema: StructType, rows: Array[Row])

  final class Runner(spark: SparkSession, sf: String, stateRoot: Option[Path],
                     tracer: Option[Tracer], emit: Seq[(String, Any)] => Unit) {
    private val spans = new StringBuilder("[")
    private var timed = 0.0
    private var opIndex = 0

    def spansJson: String = spans.toString + "]"

    private def now: Double = System.nanoTime() / 1e6 - nanoBase
    private val nanoBase = System.nanoTime() / 1e6 - System.currentTimeMillis().toDouble

    /** Runs `body` as one timed operation; returns its wall seconds and
      * result, and with tracing on records its span tree. */
    private def timedOp[T](kind: String, name: String)(body: Child => T)
        : (Double, Either[Throwable, T], Map[String, Double]) = {
      val id = s"op$opIndex"
      opIndex += 1
      val c0 = tracer.map(_.counters())
      val children = Vector.newBuilder[Tracer.Span]
      def child(label: String)(f: => Any): Any = {
        val s = now
        try f finally children += Tracer.Span(s"$id/$label", id, label, s, now)
      }
      val t0 = now
      val r = try Right(body(child)) catch { case NonFatal(e) => Left(e) }
      val t1 = now
      val layers = tracer.map { t =>
        val tr = t.opDone(Tracer.Span(id, "", s"$kind:$name", t0, t1), children.result(), c0.get)
        tr.spans.foreach { s =>
          if (spans.length > 1) spans.append(",\n")
          spans.append(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
            "start_ms" -> s.start, "end_ms" -> s.end)))
        }
        tr.layers
      }.getOrElse(Map.empty)
      ((t1 - t0) / 1e3, r, layers)
    }

    /** Emits an operation's record; its digest is computed here, after
      * the timed section, from the rows the operation collected. */
    private def report(kind: String, name: String, wall: Double,
                       r: Either[Throwable, Result], layers: Map[String, Double],
                       extra: (String, Any)*): Unit = {
      val (digest, error) = r match {
        case Left(e) => (null, e.toString)
        case Right(null) => (null, null)
        case Right(Result(schema, rows)) =>
          try (Digest.of(schema, rows), null) catch { case NonFatal(e) => (null, e.toString) }
      }
      emit(Seq("kind" -> kind, "name" -> name, "wall_s" -> wall, "digest" -> digest,
        "error" -> error, "layers" -> layers) ++ extra)
    }

    /** Collects `df` inside the operation's `execute` span. */
    private def execute(child: Child, df: DataFrame): Result =
      Result(df.schema, child("execute")(df.collect()).asInstanceOf[Array[Row]])

    def query(name: String, timed: Boolean): Unit = {
      val (wall, r, layers) = timedOp("query", name) { child =>
        execute(child, child("build")(SparkEntry.queries(name)(spark, sf)).asInstanceOf[DataFrame])
      }
      if (timed) {
        this.timed += wall
        report("op", name, wall, r, layers)
      }
    }

    private lazy val docs = Tables.documents(spark, sf).select("doc_id", "text")

    /** One `IncrementalCorpus.ingest` of docs `[lo, hi)` into pass
      * `pass`'s state dir, then a timed `canonical` read. The op record
      * carries the state dir's files after the ingest, from which
      * `run.py` derives bytes written and stored. */
    def ingest(pass: Int, batch: Long, lo: Long, hi: Long, last: Boolean,
               timed: Boolean): Unit = {
      val state = stateRoot.get.resolve(s"pass$pass")
      val batchDf = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val (wall, r, layers) = timedOp("ingest", s"batch$batch") { child =>
        child("build")(IncrementalCorpus.ingest(spark, state.toString, batch, batchDf,
          numBuckets = IngestBuckets))
        null: Result
      }
      val (rwall, rr, rlayers) = timedOp("read", s"canonical$batch") { child =>
        execute(child, child("read")(IncrementalCorpus.canonical(spark, state.toString))
          .asInstanceOf[DataFrame])
      }
      if (timed) {
        this.timed += wall + rwall
        report("op", s"ingest$pass.$batch", wall, r, layers, "pass" -> pass,
          "files" -> files(state).map { case (p, (size, mtime)) =>
            state.relativize(Paths.get(p)).toString -> Seq(size, mtime) })
        // only the pass's final canonical output has a stored digest
        report("read", s"canonical$pass.$batch", rwall, if (last) rr else rr.map(_ => null),
          rlayers, "pass" -> pass, "last" -> last)
      }
    }

    /** Runs `ops(i)`; an ingest is the last of its pass when the next
      * operation belongs to another pass. */
    def perform(ops: Seq[Array[String]], i: Int, timed: Boolean): Unit = {
      val op = ops(i)
      op(0) match {
        case "query" => query(op(1), timed)
        case "ingest" =>
          val last = i + 1 == ops.size || ops(i + 1)(1) != op(1)
          ingest(op(1).toInt, op(2).toLong, op(3).toLong, op(4).toLong, last, timed)
      }
    }

    /** Runs `ops` in order until `seconds` of timed work are done,
      * stopping only at a multiple of `block` operations, after at least
      * one block. */
    def loop(ops: Seq[Array[String]], seconds: Double, block: Int): Unit = {
      var i = 0
      while (i < ops.size && (i == 0 || i % block != 0 || timed < seconds)) {
        perform(ops, i, timed = true)
        i += 1
      }
    }
  }
}

/** Minimal JSON writer for the harness's output lines. */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
