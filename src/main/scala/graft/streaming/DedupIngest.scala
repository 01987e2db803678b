package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.Dedup
import graft.sources.TableStore

object DedupIngest {

  /** Continuous CLUSTER maintenance — the q203 epoch as a streaming sink:
    * wire as `docs.writeStream.foreachBatch(clusterIngestSink(store))`.
    * Each micro-batch extends the kind-tagged signature store (create via
    * `Dedup.buildDedupState`, possibly empty) and keeps the near-dup
    * component labels current — pair edges from the incremental kernel,
    * an epoch-bounded merge-graph contraction, absorbed components
    * re-pointed by kind-5 mapping rows — in ONE ledgered append per
    * epoch, so restarts replay to a no-op before any LSH work. `meta`
    * optionally stamps per-doc sidecar rows (kinds >= 6: quality scores,
    * token counts, content digests — see Dedup.clusterIngestEpoch for
    * the shape) at arrival, the input to maintained aggregates such as
    * q204's canonical pick and q205's savings report. Read labels back
    * any time with
    * `Dedup.clusterLabels(store)` — maintenance (auto-compaction rides
    * the same policy conf as the dedup epoch) never changes them. */
  /** `card` optionally stamps typed per-doc rows into a side TABLE (the
    * q214 dataset-card sidecar: batch => rows for `appendBatch(cardTable,
    * epoch, ...)`) AFTER the state flip, on the card table's own ledger —
    * a crash between the two
    * appends replays to state-no-op + card-apply, so the pair
    * converges. Create the card table (possibly empty) first. */
  def clusterIngestSink(store: TableStore,
      meta: Option[DataFrame => DataFrame] = None,
      card: Option[(String, DataFrame => DataFrame)] = None)
      : (DataFrame, Long) => Unit =
    (batch0, epochId) => {
      // persist: the epoch evaluates the batch at least twice (its
      // signature frames and the optional meta sidecar), and a source
      // with expensive upstream transforms must not recompute them per
      // reference (ADVICE r15 #4)
      val batch = batch0.cache()
      try {
        Dedup.clusterIngestEpoch(store, meta)(batch, epochId)
        card.foreach { case (table, rows) =>
          store.appendBatch(table, epochId, rows(batch)); ()
        }
      } finally { batch.unpersist(); () }
    }
}
