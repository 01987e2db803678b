package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.json4s._
import graft.operators.{Dedup, SearchOps, Similarity}
import graft.sources.TableStore

/** corpus_stream: one op = one Structured Streaming micro-batch epoch over
  * the maintained stores, then a fixed number of serve reads.
  *
  * Each epoch lands one generated batch file in the stream's source
  * directory and runs a `readStream ... foreachBatch` query with
  * `Trigger.AvailableNow` over a persistent checkpoint, so every query
  * run is exactly one new micro-batch. The batch goes through the dedup
  * admission, the BM25 index append and the managed IVF append (with the
  * drift policy), in that order; each store auto-compacts when its
  * append chain reaches `spark.graft.state.autoCompactVersions`. After
  * the epoch commits, the client issues BM25 reads over seeded Zipf terms
  * and IVF probes, alternating. */
object CorpusStream {
  final class Stores(root: Path, b: Bench) {
    val dedup = new TableStore(b.spark, root.resolve("state").toString)
    val index = new TableStore(b.spark, root.resolve("index").toString)
    val ivf = new TableStore(b.spark, root.resolve("ivf").toString)
    def chains: Seq[Int] = Seq(dedup.chainLength("state"), index.chainLength("index"), ivf.chainLength("ivf"))
    def files: Int = dedup.fileCount("state") + index.fileCount("index") + ivf.fileCount("ivf")
  }

  final class Stream(b: Bench, st: Stores, schema: StructType) {
    private val src = b.runDir.resolve("stream/in")
    private val ckpt = b.runDir.resolve("stream/checkpoint")
    Files.createDirectories(src)
    /** The drift policy's last probe: (n, mis, ppm, fired, postMis, postPpm). */
    @volatile var policy: Option[(Long, Long, Long, Boolean, Long, Long)] = None

    /** Land one generated batch file where the stream will find it. */
    def land(file: String): Unit = {
      val from = java.nio.file.Paths.get(file)
      Files.copy(from, src.resolve(from.getFileName), StandardCopyOption.REPLACE_EXISTING); ()
    }

    /** Run the query until it has consumed everything landed: one epoch. */
    def epoch(): Unit = {
      val t = b.tracer
      val q = b.spark.readStream.schema(schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val docsDf = batch.select("doc_id", "text")
          t.layer("operators", "Dedup.dedupIngestEpoch") { Dedup.dedupIngestEpoch(st.dedup)(docsDf, id) }
          t.layer("operators", "SearchOps.indexIngestEpoch") { SearchOps.indexIngestEpoch(st.index)(docsDf, id) }
          val r = t.layer("operators", "Similarity.ivfIngestEpochManaged") {
            Similarity.ivfIngestEpochManaged(st.ivf, Some(Similarity.DriftLimitPpm))(
              batch.select(col("doc_id").as("vec_id"), col("label"), col("embedding")), id)
          }
          policy = r
        }
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      q.exception.foreach(e => throw e)
    }
  }

  /** Every epoch appends one entry to each store's chain, so a chain that
    * did not grow was collapsed by the epoch's auto-compaction. */
  private def compacted(before: Seq[Int], after: Seq[Int]): Boolean =
    after.zip(before).exists { case (a, x) => a <= x }

  /** Serve read `i` of the run: BM25 over its seeded terms when `i` is
    * even, else an IVF probe with its seeded query count. */
  private def serve(b: Bench, st: Stores, rec: OpRecord, i: Int): Unit = {
    implicit val f: Formats = b.formats
    val k = b.int("k")
    if (i % 2 == 0) {
      val terms = (b.plan \ "serve_terms")(i).extract[Seq[String]]
      b.read(rec, "serve", s"bm25FromIndex ${terms.mkString(" ")}", "operators") {
        SearchOps.bm25FromIndex(st.index, terms, k)
      }: Unit
    } else {
      val n = (b.plan \ "ivf_queries")(i).extract[Int]
      b.read(rec, "serve", s"ivfProbe $n", "operators") {
        Similarity.ivfProbe(st.ivf, n, k)
      }: Unit
    }
  }

  def setup(b: Bench): (Stores, Stream) = {
    implicit val f: Formats = b.formats
    val st = new Stores(b.runDir.resolve("stores"), b)
    val first = (b.plan \ "epochs")(0).extract[String]
    val empty = b.spark.read.parquet(first).limit(0)
    Dedup.buildDedupState(st.dedup, empty.select("doc_id", "text"))
    SearchOps.buildSearchIndex(st.index, empty.select("doc_id", "text"))
    Similarity.buildIvfStore(st.ivf, empty.select(col("doc_id").as("vec_id"), col("label"), col("embedding")))
    // store bootstrap + warm-up: epoch 0 trains the IVF partition (and,
    // at the default trigger, compacts every store), then one round of
    // serve reads
    val stream = new Stream(b, st, empty.schema)
    stream.land(first)
    val chains = st.chains
    b.timedNote("setup_bootstrap_s") {
      stream.epoch()
      val rec = new OpRecord("epoch", "bootstrap")
      for (i <- 0 until 2) serve(b, st, rec, i)
    }
    b.notes("bootstrap_compacted") = JBool(compacted(chains, st.chains))
    (st, stream)
  }

  def loop(b: Bench, st: Stores, stream: Stream): Unit = {
    implicit val f: Formats = b.formats
    val files = (b.plan \ "epochs").extract[Seq[String]]
    val perEpoch = b.int("serves_per_epoch")
    val storeDir = b.runDir.resolve("stores")
    var e = 1
    var s = 2 // set-up used the first two serve queries
    while (e < files.size && (e == 1 || b.timeLeft)) {
      stream.land(files(e))
      b.op("epoch", s"epoch$e") { rec =>
        val before = st.chains
        b.timed(rec)(stream.epoch())
        rec.fields("epoch_s") = JDouble(rec.seconds)
        val after = st.chains
        rec.fields("chains") = JArray(after.map(x => JLong(x)).toList)
        rec.fields("compacted") = JBool(compacted(before, after))
        rec.fields("recluster_fired") = JBool(stream.policy.exists(_._4))
        stream.policy.foreach { case (n, mis, ppm, _, postMis, postPpm) =>
          rec.fields("drift_ppm") = JArray(List(JLong(n), JLong(mis), JLong(ppm), JLong(postMis), JLong(postPpm)))
        }
        rec.fields("store_bytes") = JLong(b.dirBytes(storeDir))
        for (_ <- 0 until perEpoch) {
          serve(b, st, rec, s)
          s += 1
        }
      }
      e += 1
    }
    b.notes("epochs") = JLong(e)
    b.notes("chain_length_end") = JLong(st.chains.sum)
    b.notes("files_end") = JLong(st.files)
    b.notes("store_bytes_end") = JLong(b.dirBytes(storeDir))
  }

  /** Checks after the loop: the admitted doc set (for the q199 oracle run
    * by the runner) and BM25 top-k from the maintained index against the
    * monolithic `SearchOps.bm25` over the same documents. */
  def check(b: Bench, st: Stores): Unit = {
    implicit val f: Formats = b.formats
    val n = b.notes("epochs").extract[Int]
    val files = (b.plan \ "epochs").extract[Seq[String]].take(n)
    val docsDir = b.runDir.resolve("corpus")
    b.spark.read.parquet(files: _*).select("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite").parquet(docsDir.resolve("documents.parquet").toString)
    val cut = Dedup.stateCuts(st.dedup.table("state")).distinct()
    val cutIds = cut.collect().map(_.getLong(0)).sorted
    b.notes("docs_cut") = JLong(cutIds.length)
    Files.writeString(b.runDir.resolve("cut_ids.json"), cutIds.mkString("[", ",", "]"))
    b.notes("corpus_dir") = JString(docsDir.toString)
    b.notes("q199_oracle") = JString(graft.SparkEntry.oracleSql("q199_streaming_dedup_ingest"))
    val k = b.int("k")
    val terms = (b.plan \ "serve_terms")(0).extract[Seq[String]]
    val got = SearchOps.bm25FromIndex(st.index, terms, k).collect().map(_.toSeq).toSeq
    val want = SearchOps.bm25(b.spark, docsDir.toString, terms, k).collect().map(_.toSeq).toSeq
    b.notes("bm25_mismatches") = JLong(if (got == want && got.nonEmpty) 0 else 1)
  }
}
