package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import graft.sources.TableStore

/** One maintained-store epoch: the per-batch scaffold every store's
  * ingest step runs through — the streaming form of the reference's
  * staging-table load, where the database guards, commits and cleans up
  * each batch for the loader. [[StoreEpoch.apply]] owns, in order:
  *
  *  1. re-homing the store handle on the BATCH's session (the stream's
  *     clone under foreachBatch), so the epoch plans with the
  *     stream-scoped conf — notably the bounded replay width — and never
  *     the shared session's; a fresh handle over an existing directory
  *     is free, and the epoch ledger lives in the directory;
  *  2. the replay guard: an epoch already on `table`'s ledger no-ops
  *     before any work (the append's own ledger check stays the
  *     write-side authority);
  *  3. the epoch scope: every frame the body materializes through
  *     [[persist]] or [[pin]] is released in one `finally`, each by its
  *     own identity — never by diffing the context's persistent RDDs,
  *     which other work on the same SparkContext writes to as well;
  *  4. one wall per epoch on [[Dedup.epochTrace]], tagged with `table`,
  *     when the `graft.epochTrace` system property is set (replayed
  *     epochs included).
  *
  * Each store supplies only its delta: what the batch becomes and how it
  * lands (the clustered stores through [[appendClustered]]). */
private[graft] final class StoreEpoch private (
    val st: TableStore, val table: String, val epoch: Long, val s: SparkSession) {
  private val held = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** `df.persist()`, unpersisted when the epoch ends. */
  def persist(df: DataFrame): DataFrame = {
    held += (() => { df.unpersist(); () })
    df.persist()
  }

  /** [[Dedup.pin]] of `df`, whose blocks are released when the epoch
    * ends — so nothing may read the pinned frame after the epoch. */
  def pin(df: DataFrame): DataFrame = {
    val p = Dedup.pin(df)
    held += (() => StoreEpoch.unpin(p))
    p
  }

  /** The clustered stores' delta (BM25 index, chunk index, IVF lists):
    * persist `rows` once — the range layout SAMPLES its input with a
    * separate job, so an unpersisted frame would run its pipeline twice
    * — append them through [[Dedup.bucketLayout]] on `keys` in ONE
    * ledgered append, then run the shared auto-compaction, whose
    * `compactLimit`/`retainVersions` thread a caller's policy without
    * touching the session conf. */
  def appendClustered(rows: DataFrame, keys: Seq[String],
      compactLimit: Option[Int] = None, retainVersions: Option[Int] = None): Unit = {
    st.appendBatch(table, epoch, Dedup.bucketLayout(persist(rows), 8, keys: _*))
    Dedup.maybeAutoCompactClustered(s, st, table, keys, compactLimit, retainVersions)
  }
}

private[graft] object StoreEpoch {

  /** Run `body` as epoch `epoch` of `table` in `st0`'s store (see the
    * class doc for what the scaffold owns). */
  def apply(st0: TableStore, table: String, batch: DataFrame, epoch: Long)(
      body: StoreEpoch => Unit): Unit = {
    val t0 = System.nanoTime()
    try {
      val s = batch.sparkSession
      val st = new TableStore(s, st0.rootDir)
      if (!st.batchCommitted(table, epoch)) {
        val e = new StoreEpoch(st, table, epoch, s)
        try body(e) finally e.held.foreach(_())
      }
    } finally if (sys.props.contains("graft.epochTrace")) {
      Dedup.epochTrace.add((table, epoch, (System.nanoTime() - t0) / 1e9)); ()
    }
  }

  /** Release a [[Dedup.pin]]ned frame's blocks by the RDD behind it: the
    * `LogicalRDD` that `localCheckpoint`/`checkpoint` root the returned
    * frame on. A reliable checkpoint's RDD holds no blocks, so this is a
    * no-op there; its files live under the checkpoint dir as before. */
  def unpin(pinned: DataFrame): Unit = pinned.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
    case _ => ()
  }
}
