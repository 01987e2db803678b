package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One memo per (session, dir): the shared get-or-create / release /
  * clear every memoized family (LSH pairs, co-purchase graph, the
  * maintained stores) runs through, so a long-lived session can drop
  * what it built for a corpus with one call ([[SessionMemo.releaseAll]])
  * and no family can miss the hook.
  *
  * Sessions are WEAK keys, so a stopped session with no memoized value
  * reaching it stays collectible. That holds only for values that do not
  * strongly reach their own session: store roots (plain paths) do, but
  * the LSH pair entries and the co-purchase graph hold DataFrames, and a
  * DataFrame reaches its SparkSession — those entries pin their session
  * until released. For them [[release]] / [[SessionMemo.releaseAll]] and
  * the JVM-exit deletion of [[SessionMemo.tempDir]] dirs are the real
  * lifecycle.
  *
  * One lock per memo instance (its own monitor): builds are serialized
  * within a family, never across unrelated families. The lock is
  * reentrant, so a build may call back into the same memo. */
private[graft] final class SessionMemo[V](onRelease: V => Unit) {
  private val bySession =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, V]]()
  SessionMemo.all.add(this)

  /** The value memoized for (`s`, `dir`), running `build` under this
    * memo's lock on a miss. */
  def apply(s: SparkSession, dir: String)(build: => V): V = synchronized {
    val perDir = Option(bySession.get(s)).getOrElse {
      val m = scala.collection.mutable.Map[String, V]()
      bySession.put(s, m); m
    }
    perDir.getOrElseUpdate(dir, build)
  }

  /** The value memoized for (`s`, `dir`), if built (spec hook). */
  def get(s: SparkSession, dir: String): Option[V] = synchronized {
    Option(bySession.get(s)).flatMap(_.get(dir))
  }

  /** Drop every session's value for `dir` and run `onRelease` on each.
    * A no-op for a dir never memoized or already released. */
  def release(dir: String): Unit = synchronized {
    bySession.values.asScala.toList.flatMap(_.remove(dir)).foreach(onRelease)
  }

  /** Release every memoized dir (session-shutdown hygiene). */
  def clear(): Unit = synchronized {
    bySession.values.asScala.flatMap(_.keys).toSet[String].foreach(release)
  }
}

private[graft] object SessionMemo {
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[SessionMemo[_]]()

  /** Temp dirs created for memoized values and not yet deleted. */
  private val heldDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  sys.addShutdownHook(heldDirs.forEach(p => EventsOps.rmTree(p)))

  /** Release `dir` in every memo family (the cold-timing hook, and the
    * call a service session makes when it is done with a corpus or has
    * rewritten the parquet under it). */
  def releaseAll(dir: String): Unit = all.forEach(_.release(dir))

  /** Release every dir in every memo family. */
  def clearAll(): Unit = all.forEach(_.clear())

  /** A fresh temp dir for a memoized value, deleted at JVM exit unless
    * [[deleteDir]] removed it first. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    heldDirs.add(p)
    p
  }

  def deleteDir(p: java.nio.file.Path): Unit = {
    EventsOps.rmTree(p)
    heldDirs.remove(p); ()
  }

  /** A memo of maintained stores. The value is the store's ROOT PATH,
    * never the TableStore (which holds its session); a fresh handle over
    * an existing root is free. Release deletes the root. */
  final class Stores(prefix: String) {
    private val roots = new SessionMemo[String](r => deleteDir(java.nio.file.Paths.get(r)))

    /** The store memoized for (`s`, `dir`); on a miss, `fill` loads a
      * fresh store under a new temp root. */
    def apply(s: SparkSession, dir: String)(
        fill: graft.sources.TableStore => Unit): graft.sources.TableStore =
      new graft.sources.TableStore(s, roots(s, dir) {
        val st = new graft.sources.TableStore(s, tempDir(prefix).toString)
        fill(st)
        st.rootDir
      })

    /** The memoized store's root for (`s`, `dir`), if built (spec hook). */
    def root(s: SparkSession, dir: String): Option[String] = roots.get(s, dir)
  }
}
