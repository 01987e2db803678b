package graft

import graft.operators.{Dedup, Extras, SearchOps, SessionMemo, Similarity}

/** Memo lifecycle (VERDICT r5 #6): the localCheckpoint blocks behind the
  * LSH pair memo, the co-purchase graph memo and the maintained stores
  * must be releasable — a long-lived service session otherwise accretes
  * executor storage and disk per corpus it ever touched. Release must
  * drop storage back to the pre-build baseline AND a rebuild after
  * release must still work. */
class MemoLifecycleSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.filter(_._2.getStorageLevel.isValid)
      .keySet.toSet

  test("releaseLshCache unpersists the pair memo's blocks back to baseline") {
    SessionMemo.clearAll() // isolate from suites that already built memos
    val baseline = persistedIds
    val n1 = Dedup.lshVerifiedPairs(spark, sf).count()
    (persistedIds -- baseline) should not be empty
    Dedup.lshPairsMemo.release(sf)
    (persistedIds -- baseline) shouldBe empty
    // rebuild after release still answers, repinning storage
    Dedup.lshVerifiedPairs(spark, sf).count() shouldBe n1
    Dedup.lshPairsMemo.release(sf)
    (persistedIds -- baseline) shouldBe empty
  }

  test("releaseGraphMemo deletes the parquet graph memo and a rebuild still answers") {
    Extras.graphMemo.clear()
    Extras.graphMemoDir(spark, sf) shouldBe None
    val n1 = Extras.q154.build(spark, sf).count()
    // the memo is parquet on local disk (no long-lived JVM storage): the
    // dir exists while memoized and is gone after release
    val memoDir = Extras.graphMemoDir(spark, sf)
    memoDir should not be None
    java.nio.file.Files.exists(memoDir.get) shouldBe true
    // and the build leaves NO persistent RDD blocks behind (the r9 memo
    // pinned block-manager storage; variance fix = zero JVM residency)
    Extras.graphMemo.release(sf)
    Extras.graphMemoDir(spark, sf) shouldBe None
    java.nio.file.Files.exists(memoDir.get) shouldBe false
    Extras.q154.build(spark, sf).count() shouldBe n1
    Extras.graphMemo.release(sf)
    Extras.graphMemoDir(spark, sf) shouldBe None
  }

  test("graph memo components are lazy: cold q141 builds items but NOT the edge self-join") {
    Extras.graphMemo.clear()
    Extras.q141.build(spark, sf).count() should be > 0L
    val memoDir = Extras.graphMemoDir(spark, sf)
    memoDir should not be None
    java.nio.file.Files.exists(memoDir.get.resolve("items.parquet")) shouldBe true
    // q141 aggregates within-order pairs directly off items; paying the
    // distinct-edge shuffle for it was the r10 100x probes' worst row
    java.nio.file.Files.exists(memoDir.get.resolve("edges.parquet")) shouldBe false
    // an edge consumer then builds edges into the SAME memo dir
    Extras.q161.build(spark, sf).count() should be > 0L
    java.nio.file.Files.exists(memoDir.get.resolve("edges.parquet")) shouldBe true
    Extras.graphMemo.release(sf)
  }

  test("releaseAll deletes every memoized store root; rebuilds serve the same rows") {
    // (gate, the store memo it builds through): q90's signature store
    // had no release hook of its own before SessionMemo
    val cases = Seq(
      (Dedup.q90, Dedup.sigStores),
      (SearchOps.q206, SearchOps.indexStores),
      (Similarity.q208, Similarity.ivfStores))
    def rows(q: graft.core.QueryDef) = q.build(spark, sf).collect().map(_.toSeq).toSeq
    val before = cases.map { case (q, _) => rows(q) }
    val roots = cases.map { case (q, memo) =>
      withClue(q.name) { memo.root(spark, sf) should not be None }
      java.nio.file.Paths.get(memo.root(spark, sf).get)
    }
    roots.foreach(r => withClue(r) { java.nio.file.Files.exists(r) shouldBe true })
    SessionMemo.releaseAll(sf)
    SessionMemo.releaseAll(sf) // idempotent on an already-released dir
    SessionMemo.releaseAll("/nonexistent") // a never-memoized dir is a no-op
    cases.foreach { case (q, memo) => withClue(q.name) { memo.root(spark, sf) shouldBe None } }
    roots.foreach(r => withClue(r) { java.nio.file.Files.exists(r) shouldBe false })
    // the next gate call pays a fresh build and must answer identically
    val after = cases.map { case (q, _) => rows(q) }
    after.map(_.size) shouldBe before.map(_.size)
    after shouldBe before
    SessionMemo.releaseAll(sf)
  }
}
