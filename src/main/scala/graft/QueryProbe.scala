package graft

import org.apache.spark.sql.SparkSession

/** Per-query measurement harness for the optimization rounds: run the
  * named queries (args) against SPARK_GRAFT_SF_DIR with the epoch trace
  * on, timing each run and draining the per-epoch walls (printed as
  * `table:eN=sec`, so interleaved stores stay apart), so a slow
  * maintained-store gate decomposes into its epoch/maintenance/serve
  * parts instead of one opaque number. Same session shape as Bench.
  *
  * Usage: runMain graft.QueryProbe q236_cluster_family_release [more...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  *      SPARK_GRAFT_PROBE_RUNS (default 2), SPARK_GRAFT_PROBE_PLAN=1 to
  *      dump .explain("formatted") instead of timing.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "2").toInt
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_PROBE_CONF="k=v;k=v" — A/B one conf change at a time
    // (empty or '='-less segments — a trailing ';' — are skipped, not a
    // MatchError; ADVICE r19)
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => builder.config(k.trim, v)
        case _ => ()
      }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.props("graft.epochTrace") = "1"
    // Per-job attribution: call site + wall per Spark job, so a slow gate
    // decomposes into its actions (SPARK_GRAFT_PROBE_JOBS=1 to print).
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = j.stageInfos.headOption.map(_.name.takeWhile(_ != '+').trim)
          .getOrElse("?")
        jobStarts.put(j.jobId, (site, System.nanoTime())); ()
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val st = jobStarts.remove(j.jobId)
        if (st != null) { jobLog.add((j.jobId, st._1, (System.nanoTime() - st._2) / 1e9)); () }
      }
      // SQL executions carry the action call site ("count at Foo.scala:12")
      private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sqlStarts.put(s.executionId, (s.description, s.time)); ()
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
          val st = sqlStarts.remove(s.executionId)
          if (st != null) { jobLog.add((-1, "SQL:" + st._1, (s.time - st._2) / 1e3)); () }
        case _ => ()
      }
    })
    val qs = SparkEntry.queries
    args.foreach { name =>
      val fn = qs.getOrElse(name, sys.error(s"unknown query $name"))
      if (sys.env.contains("SPARK_GRAFT_PROBE_PLAN")) {
        println(s"== PLAN $name ==")
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      } else (1 to runs).foreach { i =>
        operators.Dedup.epochTrace.clear()
        jobLog.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        if (sys.env.contains("SPARK_GRAFT_PROBE_JOBS")) {
          Thread.sleep(200) // let listener drain
          val jobs = {
            import scala.jdk.CollectionConverters._
            jobLog.iterator().asScala.toSeq
          }
          // SQL-execution rows (site "SQL:…") wrap the Spark jobs that run
          // inside them — sum them separately so the header never
          // double-counts a job against its enclosing execution (ADVICE r19)
          val (sqls, plain) = jobs.partition(_._2.startsWith("SQL:"))
          println(f"[jobs] $name run$i: ${plain.size} jobs, " +
            f"sum=${plain.map(_._3).sum}%.2f s; ${sqls.size} SQL executions, " +
            f"wall=${sqls.map(_._3).sum}%.2f s (overlapping)")
          jobs.groupBy(_._2).map { case (site, js) =>
            (site, js.size, js.map(_._3).sum)
          }.toSeq.sortBy(-_._3).take(30).foreach { case (site, cnt, tot) =>
            println(f"[jobs]   $tot%7.2f s  n=$cnt%-4d $site")
          }
        }
        val epochs = {
          val b = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
          var e = operators.Dedup.epochTrace.poll()
          while (e != null) { b += e; e = operators.Dedup.epochTrace.poll() }
          b.sortBy(e => (e._1, e._2))
        }
        val ep = epochs.map { case (tb, e, t) => f"$tb:e$e=$t%.2f" }.mkString(" ")
        println(f"[probe] $name run$i: $dt%.2f s rows=$n epochs: $ep")
      }
    }
    spark.stop()
  }
}
