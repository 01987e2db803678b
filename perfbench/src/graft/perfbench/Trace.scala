package graft.perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the benchmark's client thread: an op, or a call
  * into one module of the engine made inside an op. Spans of one op share
  * `op`; `parent` is the enclosing span (0 for an op). */
final class Span(val id: Long, val parent: Long, val op: Long, val kind: String,
    val name: String, val module: String, val startMs: Long, val startNs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's own calls into the engine, plus
  * (when `traced`) a rollup of what Spark did under each of them, gathered
  * through Spark's public listener interfaces only. Spans stay in memory
  * until [[Rollup]] reads them at the end of the run.
  *
  * Jobs carry the id of the innermost open span through a local property,
  * so each job, its stages and tasks land under the span that caused them;
  * SQL executions inherit the span of their jobs, or else the innermost
  * span open when they started. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var nextId = 1L

  final class Job(val id: Int, val span: Long, val sqlExec: Long, val callSite: String,
      val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs: Long = startMs
    /** Whether the job only materialized shuffle output — a query stage
      * submitted by adaptive execution — rather than producing a result. */
    def mapStageJob: Boolean = stageIds.nonEmpty &&
      Option(stages.get(stageIds.max)).exists(_.shuffleMapTasks)
  }
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRows = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var outBytes = 0L
    @volatile var shuffleMapTasks = false
  }
  final class SqlExec(val id: Long, val startMs: Long) {
    @volatile var endMs: Long = startMs
  }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  val sqlExecs = new java.util.concurrent.ConcurrentHashMap[Long, SqlExec]()
  /** Micro-batch progress: (batch id, input rows, durationMs). */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Map[String, Long])]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).getOrElse(new Properties)
      def prop(k: String) = Option(p.getProperty(k))
      jobs.put(e.jobId, new Job(e.jobId,
        prop("perfbench.span").map(_.toLong).getOrElse(0L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        prop("callSite.short").getOrElse(""), e.time, e.stageIds))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          if (e.taskType == "ShuffleMapTask") a.shuffleMapTasks = true
          a.tasks += 1; a.runMs += m.executorRunTime; a.gcMs += m.jvmGCTime
          a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlExecs.put(s.executionId, new SqlExec(s.executionId, s.time)); ()
      case s: SparkListenerSQLExecutionEnd => Option(sqlExecs.get(s.executionId)).foreach(_.endMs = s.time)
      case _ => ()
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.add((e.progress.batchId, e.progress.numInputRows, d)); ()
    }
  }

  if (traced) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  private def begin(kind: String, name: String, module: String): Span = open.synchronized {
    val parent = open.headOption
    val id = nextId
    nextId += 1
    val s = new Span(id, parent.map(_.id).getOrElse(0L), parent.map(_.op).getOrElse(id),
      kind, name, module, System.currentTimeMillis(), System.nanoTime())
    spans += s
    open.push(s)
    enter(s.id)
    s
  }

  private def end(s: Span): Unit = open.synchronized {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    open.pop()
    enter(open.headOption.map(_.id).getOrElse(0L))
  }

  private def enter(id: Long): Unit =
    if (traced) sc.setLocalProperty("perfbench.span", if (id == 0L) null else id.toString)

  /** A span around `body`; nested spans become its children. */
  def span[A](kind: String, name: String, module: String)(body: => A): (A, Span) = {
    val s = begin(kind, name, module)
    try (body, s) finally end(s)
  }

  /** A call into one engine module inside the current op. */
  def layer[A](module: String, name: String)(body: => A): A =
    span("layer", name, module)(body)._1

  /** Wait until the listener bus has delivered every queued event (the
    * bus is internal to Spark, so reached reflectively; a short sleep
    * stands in when that fails). */
  def drain(): Unit = if (traced) {
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus); ()
    } catch { case _: ReflectiveOperationException => Thread.sleep(2000) }
  }

  def stop(): Unit = if (traced) {
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}
