package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._

/** One op of the closed loop: its timed wall (the sum of its timed
  * segments; output checks run between segments, outside the clock), and
  * whether it threw or failed a check. */
final class OpRecord(val kind: String, val name: String) {
  var seconds = 0.0
  var ok = true
  var error = ""
  val fields = mutable.LinkedHashMap.empty[String, JValue]
  /** Timed read queries inside the op (reports, serve reads): kind,
    * name, wall seconds, planning ms. */
  val reads = mutable.ArrayBuffer.empty[(String, String, Double, Double)]
  var span: Span = null

  def fail(why: String): Unit = {
    ok = false
    if (error.isEmpty) error = why.take(500)
  }

  def toJson: JValue = JObject(List(
    "kind" -> JString(kind), "name" -> JString(name), "s" -> JDouble(seconds),
    "ok" -> JBool(ok), "error" -> JString(error),
    "reads" -> JArray(reads.toList.map { case (k, n, s, p) =>
      JObject("kind" -> JString(k), "name" -> JString(n), "s" -> JDouble(s), "plan_ms" -> JDouble(p)) }),
    "fields" -> JObject(fields.toList)))
}

/** Shared state of one benchmark run: the session, the tracer, the run's
  * directory (inside the checkout) and the op log. */
final class Bench(val spark: SparkSession, val tracer: Tracer, val runDir: Path,
    val plan: JValue, val seconds: Double) {
  implicit val formats: Formats = DefaultFormats
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val notes = mutable.LinkedHashMap.empty[String, JValue]
  private var loopStartNs = 0L

  def int(key: String): Int = (plan \ key).extract[Int]

  def startLoop(): Unit = loopStartNs = System.nanoTime()
  def elapsed: Double = (System.nanoTime() - loopStartNs) / 1e9
  def timeLeft: Boolean = elapsed < seconds

  /** Run one op: `body` gets the record and times its own segments with
    * [[timed]]; an exception fails the op. */
  def op(kind: String, name: String)(body: OpRecord => Unit): OpRecord = {
    val rec = new OpRecord(kind, name)
    rec.span = tracer.span("op", name, "bench") {
      try body(rec)
      catch { case e: Throwable => rec.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }._2
    ops += rec
    rec
  }

  /** An output check: outside the op's clock, its own span. */
  def check[A](name: String)(body: => A): A = tracer.layer("bench", name)(body)

  /** Run `body`, noting its wall seconds under `key`. */
  def timedNote[A](key: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally notes(key) = JDouble((System.nanoTime() - t0) / 1e9)
  }

  /** A timed segment of `rec`. */
  def timed[A](rec: OpRecord)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally rec.seconds += (System.nanoTime() - t0) / 1e9
  }

  /** A timed read query inside `rec`: planned and collected, its wall and
    * planning time (analysis + optimization + planning) kept apart from
    * the op's other segments. */
  def read(rec: OpRecord, kind: String, name: String, module: String)(
      build: => DataFrame): Array[Row] = {
    val t0 = System.nanoTime()
    val (rows, df) = tracer.span("read", name, module) {
      val df = build
      (df.collect(), df)
    }._1
    val s = (System.nanoTime() - t0) / 1e9
    rec.seconds += s
    val ph = df.queryExecution.tracker.phases
    rec.reads += ((kind, name, s,
      Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum.toDouble))
    rows
  }

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val it = Files.walk(dir)
      try {
        var n = 0L
        it.forEach(p => if (Files.isRegularFile(p)) n += Files.size(p))
        n
      } finally it.close()
    }
}
