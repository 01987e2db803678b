package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import graft.core.GraftSession

/** JVM side of one benchmark run (see perfbench/README.md).
  *
  * Usage: Main <workload> <runDir> <seconds> <trace 0|1> <launchedEpochMs>
  *
  * Reads `<runDir>/plan.json` (inputs and seeded parameters written by
  * run.py), sets up, runs the closed loop for `seconds`, then writes
  * `<runDir>/result.json`: every op with its timed wall and status, the
  * set-up time, residency gauges, check data for run.py and, when traced,
  * the per-layer metrics (spans go to `<runDir>/trace.json`). */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, runDirArg, secondsArg, traceArg, launchedArg) = args
    val runDir = Paths.get(runDirArg).toAbsolutePath
    val plan = parse(Files.readString(runDir.resolve("plan.json")))
    implicit val formats: Formats = DefaultFormats
    val cores = Runtime.getRuntime.availableProcessors()
    val builder = GraftSession.builder("perfbench", cores)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
    (plan \ "conf").extract[Map[String, String]].foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traceArg == "1")
    val b = new Bench(spark, tracer, runDir, plan, secondsArg.toDouble)
    b.notes("setup_session_s") = JDouble((System.currentTimeMillis() - launchedArg.toLong) / 1e3)
    var result: JObject = JObject()
    try {
      val run: () => Unit = workload match {
        case "fresh_etl" =>
          val st = FreshEtl.setup(b)
          () => { FreshEtl.loop(b, st); gauges(b); b.timedNote("checks_s")(FreshEtl.check(b, st)) }
        case "corpus_stream" =>
          val (st, stream) = CorpusStream.setup(b)
          () => { CorpusStream.loop(b, st, stream); gauges(b); b.timedNote("checks_s")(CorpusStream.check(b, st)) }
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val setupS = (System.currentTimeMillis() - launchedArg.toLong) / 1e3
      tracer.drain()
      val progressBefore = tracer.progress.size
      b.startLoop()
      run()
      tracer.drain()
      val perLayer =
        if (!tracer.traced) JObject()
        else {
          val r = new Rollup(b, (plan \ "modules").extract[Map[String, String]], progressBefore)
          val residency = Seq("persisted_rdds_end", "block_mem_mb_end").map(k =>
            s"sources.$k" -> b.notes(k).extract[Double]).toMap
          Files.writeString(runDir.resolve("trace.json"), compact(render(r.sideFile)))
          JObject(r.metrics(residency).toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) })
        }
      result = JObject(
        "workload" -> JString(workload), "nproc" -> JLong(cores), "setup_s" -> JDouble(setupS),
        "loop_s" -> JDouble(b.elapsed),
        "provenance" -> parse(s"{${graft.Provenance.jsonFields}}"),
        "ops" -> JArray(b.ops.toList.map(_.toJson)),
        "notes" -> JObject(b.notes.toList),
        "per_layer" -> perLayer)
    } finally {
      tracer.stop()
      spark.stop()
    }
    Files.writeString(runDir.resolve("result.json"), compact(render(result)))
  }

  /** Residency after the loop: heap used after forced GCs (the least of
    * three, a pause apart, so the context cleaner can drop what each
    * collection released), persisted RDDs and block-manager storage
    * memory in use. */
  def gauges(b: Bench): Unit = {
    val sc = b.spark.sparkContext
    val heap = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    b.notes("heap_mb") = JDouble(heap / 1e6)
    b.notes("persisted_rdds_end") = JLong(sc.getPersistentRDDs.size.toLong)
    b.notes("block_mem_mb_end") = JDouble(sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1e6)
  }
}
