package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.json4s._

/** Per-layer metrics of a traced run, from the benchmark's spans and what
  * the Spark listeners saw under them. Every metric is computed for every
  * workload; a layer a workload never calls reports 0, which is how a run
  * shows that it skipped the layer.
  *
  * A job belongs to the span whose id it carried (or, failing that, the
  * innermost span open when it started); its module is that of its call
  * site's source file when that file is part of the engine, else that of
  * its span. */
final class Rollup(b: Bench, modules: Map[String, String], setupMicrobatches: Int) {
  private val t = b.tracer
  private val spans = t.spans.toSeq
  private val byId = spans.map(s => s.id -> s).toMap
  private val jobs = t.jobs.values.asScala.toSeq.sortBy(_.id)
  private val sqlExecs = t.sqlExecs.values.asScala.toSeq

  private def innermostAt(ms: Long): Long =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(s => -s.startNs).headOption.map(_.id).getOrElse(0L)

  private val jobSpan: Map[Int, Long] =
    jobs.map(j => j.id -> (if (j.span != 0L && byId.contains(j.span)) j.span else innermostAt(j.startMs))).toMap
  private val execSpan: Map[Long, Long] = sqlExecs.map { e =>
    e.id -> jobs.find(_.sqlExec == e.id).map(j => jobSpan(j.id)).getOrElse(innermostAt(e.startMs))
  }.toMap

  private def within(span: Long, root: Span): Boolean = {
    var s = span
    while (s != 0L && s != root.id) s = byId.get(s).map(_.parent).getOrElse(0L)
    s == root.id
  }
  /** Nearest enclosing span of `kind` (or the span itself). */
  private def nearest(span: Long, kind: String): Option[Span] = {
    var s = byId.get(span)
    while (s.exists(_.kind != kind)) s = s.flatMap(x => byId.get(x.parent))
    s
  }

  private def fileModule(callSite: String): Option[String] = {
    val at = callSite.lastIndexOf(" at ")
    if (at < 0) None else modules.get(callSite.substring(at + 4).takeWhile(_ != ':'))
  }
  def jobModule(j: t.Job): String =
    fileModule(j.callSite).getOrElse(byId.get(jobSpan(j.id)).map(_.module).getOrElse("bench"))

  final case class Agg(jobs: Int, aqeJobs: Int, sqlExecs: Int, tasks: Long, runMs: Long,
      gcMs: Long, inBytes: Long, inRows: Long, shuffleBytes: Long, jobBusyMs: Long)

  private def stagesOf(js: Seq[t.Job]): Seq[t.StageAgg] = {
    val seen = mutable.Set.empty[Int]
    js.flatMap(_.stageIds).filter(seen.add).flatMap(id => Option(t.stages.get(id)))
  }

  /** Union length of [start, end] intervals, ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def agg(select: Long => Boolean): Agg = {
    val js = jobs.filter(j => select(jobSpan(j.id)))
    val st = stagesOf(js)
    Agg(js.size, js.count(_.mapStageJob), sqlExecs.count(e => select(execSpan(e.id))),
      st.map(_.tasks).sum, st.map(_.runMs).sum, st.map(_.gcMs).sum, st.map(_.inBytes).sum,
      st.map(_.inRows).sum, st.map(_.shuffleWrite).sum, unionMs(js.map(j => (j.startMs, j.endMs))))
  }

  /** Self time of a span: its duration minus what its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    s.seconds - unionMs(kids.map(k => (k.startNs / 1000, k.endNs / 1000))) / 1e6
  }

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
  private implicit val formats: Formats = b.formats

  def metrics(residency: Map[String, Double]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val batchOps = b.ops.filter(_.kind == "batch")
    val epochOps = b.ops.filter(_.kind == "epoch")
    val opSpans = b.ops.map(_.span)
    val inOps = (s: Long) => opSpans.exists(o => within(s, o))
    val reads = spans.filter(s => s.kind == "read" && inOps(s.id))
    def readsOf(rec: OpRecord) = reads.filter(r => within(r.id, rec.span))
    def layerSecs(rec: OpRecord, module: String, prefix: String) =
      spans.filter(s => s.kind == "layer" && s.module == module && s.name.startsWith(prefix) &&
        within(s.id, rec.span)).map(_.seconds).sum

    // read queries: reports (fresh_etl) and serve reads (corpus_stream)
    val readRecs = b.ops.toSeq.flatMap(_.reads)
    val rAgg = reads.map(r => agg(s => within(s, r)))
    val nr = reads.size.toDouble
    m("operators.plan_ms_per_query") = mean(readRecs.map(_._4))
    m("operators.sql_execs_per_query") = ratio(rAgg.map(_.sqlExecs).sum, nr)
    m("operators.jobs_per_query") = ratio(rAgg.map(_.jobs).sum, nr)
    m("operators.aqe_jobs_per_query") = ratio(rAgg.map(_.aqeJobs).sum, nr)
    m("operators.tasks_per_query") = ratio(rAgg.map(_.tasks).sum, nr)
    m("operators.task_busy_share") = ratio(rAgg.map(_.runMs).sum / 1e3, reads.map(_.seconds).sum * b.cores)
    m("operators.driver_only_ms_per_query") =
      ratio(reads.zip(rAgg).map { case (r, a) => math.max(0.0, r.seconds * 1e3 - a.jobBusyMs) }.sum, nr)
    m("core.scan_mb_per_query") = ratio(rAgg.map(_.inBytes).sum / 1e6, nr)
    m("core.scan_rows_per_query") = ratio(rAgg.map(_.inRows).sum.toDouble, nr)

    // fresh_etl: one ETL step + reports per batch op
    val nb = batchOps.size.toDouble
    m("ingest.conform_s_per_batch") = ratio(batchOps.map(layerSecs(_, "ingest", "IngestPipeline")).sum, nb)
    m("ingest.normalize_s_per_batch") = ratio(batchOps.map(layerSecs(_, "ingest", "Normalizer")).sum, nb)
    val counts = batchOps.flatMap(_.fields.get("counts").toSeq.flatMap(_.extract[Map[String, Seq[Long]]].values))
    m("ingest.quarantine_share") = ratio(counts.map(_(1)).sum.toDouble, counts.map(_.sum).sum.toDouble)
    m("constraints.validate_s_per_batch") = ratio(batchOps.map(layerSecs(_, "constraints", "")).sum, nb)
    m("constraints.violations") = batchOps.flatMap(_.fields.get("violations").map(_.extract[Double])).sum
    m("sources.dml_s_per_batch") = ratio(batchOps.map(layerSecs(_, "sources", "TableStore")).sum, nb)
    val written = batchOps.map { r =>
      (r.fields("store_bytes_after").extract[Double] - r.fields("store_bytes_before").extract[Double]).max(0.0)
    }
    m("sources.bytes_written_per_batch") = ratio(written.sum, nb)
    // input_bytes(0) is the bootstrap batch's
    val stagedBytes = (b.plan \ "input_bytes").extract[Seq[Double]].slice(1, batchOps.size + 1)
    m("sources.write_amplification") = ratio(written.sum, stagedBytes.sum)
    val reports = batchOps.flatMap(readsOf)
    m("analytics.report_plan_ms") = mean(readRecs.filter(_._1 == "report").map(_._4))
    m("analytics.report_jobs") = ratio(reports.map(r => agg(s => within(s, r)).jobs).sum, reports.size)

    // corpus_stream: one epoch + serve reads per epoch op
    val ne = epochOps.size.toDouble
    def notReadIn(rec: OpRecord)(s: Long) = within(s, rec.span) && nearest(s, "read").isEmpty
    val eAgg = epochOps.map(e => agg(notReadIn(e)))
    m("operators.dedup_epoch_s") = ratio(epochOps.map(layerSecs(_, "operators", "Dedup.")).sum, ne)
    m("operators.index_epoch_s") = ratio(epochOps.map(layerSecs(_, "operators", "SearchOps.index")).sum, ne)
    m("operators.ivf_epoch_s") = ratio(epochOps.map(layerSecs(_, "operators", "Similarity.ivfIngest")).sum, ne)
    m("operators.jobs_per_epoch") = ratio(eAgg.map(_.jobs).sum, ne)
    m("operators.aqe_jobs_per_epoch") = ratio(eAgg.map(_.aqeJobs).sum, ne)
    m("operators.sql_execs_per_epoch") = ratio(eAgg.map(_.sqlExecs).sum, ne)
    m("operators.shuffle_mb_per_epoch") = ratio(eAgg.map(_.shuffleBytes).sum / 1e6, ne)
    m("operators.gc_share") = ratio(eAgg.map(_.gcMs).sum, eAgg.map(_.runMs).sum)
    m("operators.docs_cut") = b.notes.get("docs_cut").map(_.extract[Double]).getOrElse(0.0)
    m("operators.ivf_recluster_fires") =
      epochOps.count(_.fields.get("recluster_fired").contains(JBool(true))).toDouble
    val prog = t.progress.asScala.toSeq.drop(setupMicrobatches).filter(_._2 > 0)
    def dur(k: String) = prog.map(_._3.getOrElse(k, 0L).toDouble)
    m("streaming.microbatches") = prog.size.toDouble
    m("streaming.microbatch_overhead_ms") =
      mean(prog.map(p => (p._3.getOrElse("triggerExecution", 0L) - p._3.getOrElse("addBatch", 0L)).toDouble))
    m("streaming.wal_commit_ms") = mean(dur("walCommit"))
    m("streaming.query_planning_ms") = mean(dur("queryPlanning"))
    val compacted = epochOps.filter(_.fields.get("compacted").contains(JBool(true)))
    // the bootstrap epoch counts: with one measured epoch per run, the
    // run's compaction cycles are the bootstrap's and the loop's
    m("sources.compaction_epochs") =
      compacted.size + (if (b.notes.get("bootstrap_compacted").contains(JBool(true))) 1.0 else 0.0)
    m("sources.compaction_epoch_s") = mean(compacted.map(_.fields("epoch_s").extract[Double]))
    m("sources.chain_length_end") = b.notes.get("chain_length_end").map(_.extract[Double]).getOrElse(0.0)
    m("sources.files_end") = b.notes.get("files_end").map(_.extract[Double]).getOrElse(0.0)
    val serves = epochOps.flatMap(readsOf)
    val (bm25, ivf) = serves.partition(_.name.startsWith("bm25"))
    m("operators.bm25_serve_s") = mean(bm25.map(_.seconds))
    m("operators.ivf_serve_s") = mean(ivf.map(_.seconds))
    val serveIn = epochOps.flatMap(e => readsOf(e).map { r =>
      (agg(s => within(s, r)).inBytes.toDouble, e.fields.get("store_bytes").map(_.extract[Double]).getOrElse(0.0))
    })
    m("sources.serve_scan_mb") = ratio(serveIn.map(_._1).sum / 1e6, serveIn.size)
    m("sources.serve_read_share") = mean(serveIn.map { case (in, store) => ratio(in, store) })

    // layers a workload must (or must not) run
    m("sources.store_write_jobs") = jobs.count(j => inOps(jobSpan(j.id)) && t.stages.asScala.exists {
      case (id, a) => j.stageIds.contains(id) && a.outBytes > 0 }).toDouble
    m("operators.epoch_body_calls") = spans.count(s => s.kind == "layer" && inOps(s.id) &&
      Seq("Dedup.dedupIngestEpoch", "SearchOps.indexIngestEpoch", "Similarity.ivfIngestEpochManaged")
        .contains(s.name)).toDouble
    m("bench.unattributed_share") = mean(b.ops.toSeq.map(o => ratio(selfSeconds(o.span), o.span.seconds)))
    m ++= residency
    m.toMap
  }

  /** Side file: spans, jobs, and per-module self time and job counts of
    * the measured ops. */
  def sideFile: JValue = {
    val inOps = (s: Long) => b.ops.exists(o => within(s, o.span))
    val self = spans.filter(s => s.kind != "op" && inOps(s.id)).groupBy(_.module).map { case (mod, ss) =>
      mod -> JDouble(ss.map(selfSeconds).sum) }
    val jobModules = jobs.filter(j => inOps(jobSpan(j.id))).groupBy(jobModule).map { case (mod, js) =>
      mod -> JLong(js.size) }
    JObject(
      "layer_self_s" -> JObject(self.toList),
      "jobs_by_module" -> JObject(jobModules.toList),
      "ops" -> JArray(b.ops.toList.map(o => JObject(
        "name" -> JString(o.name), "span" -> JLong(o.span.id), "wall_s" -> JDouble(o.span.seconds),
        "timed_s" -> JDouble(o.seconds), "unattributed_s" -> JDouble(selfSeconds(o.span)),
        "ok" -> JBool(o.ok), "error" -> JString(o.error), "fields" -> JObject(o.fields.toList)))),
      "spans" -> JArray(spans.toList.map(s => JObject(
        "id" -> JLong(s.id), "parent" -> JLong(s.parent), "op" -> JLong(s.op), "kind" -> JString(s.kind),
        "name" -> JString(s.name), "module" -> JString(s.module),
        "start_ms" -> JLong(s.startMs), "end_ms" -> JLong(s.endMs)))),
      "jobs" -> JArray(jobs.toList.map(j => JObject(
        "id" -> JLong(j.id), "span" -> JLong(jobSpan(j.id)), "module" -> JString(jobModule(j)),
        "call_site" -> JString(j.callSite), "aqe_stage_job" -> JBool(j.mapStageJob),
        "sql_exec" -> JLong(j.sqlExec), "start_ms" -> JLong(j.startMs), "end_ms" -> JLong(j.endMs)))),
      "sql_execs" -> JArray(sqlExecs.toList.map(e => JObject(
        "id" -> JLong(e.id), "span" -> JLong(execSpan(e.id)),
        "start_ms" -> JLong(e.startMs), "end_ms" -> JLong(e.endMs)))),
      "microbatches" -> JArray(t.progress.asScala.toList.map { case (id, rows, d) =>
        JObject("batch_id" -> JLong(id), "input_rows" -> JLong(rows),
          "duration_ms" -> JObject(d.toList.map { case (k, v) => k -> JLong(v) })) }))
  }
}
