package graft.queries

import java.nio.file.{Files, Path}
import java.util.concurrent.{CompletableFuture, ExecutionException}

import graft.index.GraftIndex
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one build-once store behind every shared query artifact: the LLM
  * index frames of [[LlmArtifacts]] and the derived kupo indexes of
  * [[KupoPipelineQueries]].
  *
  * Keying: an entry is built once per (dataset dir, kind), e.g.
  * ("…/sf0.01", "sets-gram"), and every later query over that dataset gets
  * the same object back — a DataFrame, a GraftIndex, or any other AnyRef.
  *
  * Concurrency: the lock guards only the entry map. Each key gets a slot
  * (a promise) when it is first asked for; that caller builds outside the
  * lock, and every later caller of the same key waits on the slot, so
  * different keys build side by side. Builds nest on any thread (pairs →
  * sigs → grams, ivfPq → ivfL2): a nested key is built by the thread that
  * asks for it first, or awaited if another thread holds it. A failed
  * build empties its slot and rethrows to every waiter, so the next lookup
  * builds again. A thread that asks for a key it is itself building fails
  * instead of waiting on itself. Every Spark job a build starts is
  * described `graft.artifact <kind>` (a nested build names its own jobs
  * and restores the outer name), and each entry records its build wall
  * time ([[buildSeconds]]).
  *
  * Files: [[parquet]] and [[dir]] put everything under one root, created
  * lazily under java.io.tmpdir. When the owning SparkContext stops (Spark's
  * own shutdown hook stops it at JVM exit) the root is deleted and every
  * entry dropped, so the next lookup rebuilds under the new context. */
private[graft] object ArtifactStore {

  /** One entry: its value once built, and the build's wall seconds. */
  private final class Slot {
    val value = new CompletableFuture[AnyRef]
    @volatile var seconds: Double = Double.NaN
  }

  // guarded by this; insertion order is the order the builds started
  private val entries = scala.collection.mutable.LinkedHashMap.empty[(String, String), Slot]
  private var root: Path = _
  private var owner: SparkContext = _
  /** The keys the current thread is building, innermost first. */
  private val building = new ThreadLocal[List[(String, String)]] {
    override def initialValue(): List[(String, String)] = Nil
  }

  /** The entry for (dataset `d`, `kind`), built by `build` on first use. */
  def apply[T <: AnyRef](s: SparkSession, d: String, kind: String)(build: => T): T = {
    val key = (d, kind)
    val (slot, mine) = synchronized {
      attach(s.sparkContext)
      entries.get(key) match {
        case Some(slot) => (slot, false)
        case None =>
          val slot = new Slot
          entries(key) = slot
          (slot, true)
      }
    }
    if (mine) buildInto(s, key, slot, build)
    else {
      if (building.get.contains(key)) throw new IllegalStateException(
        s"artifact '$kind' of $d asks for itself while it is being built")
      try slot.value.get().asInstanceOf[T]
      catch { case e: ExecutionException => throw e.getCause }
    }
  }

  private def buildInto[T <: AnyRef](s: SparkSession, key: (String, String), slot: Slot,
                                     build: => T): T = {
    val outer = building.get
    building.set(key :: outer)
    val t0 = System.nanoTime()
    try {
      val v = GraftIndex.describedAs(s, s"graft.artifact ${key._2}")(build)
      slot.seconds = (System.nanoTime() - t0) / 1e9
      slot.value.complete(v)
      v
    } catch {
      case e: Throwable =>
        synchronized { if (entries.get(key).exists(_ eq slot)) entries.remove(key) }
        slot.value.completeExceptionally(e)
        throw e
    } finally building.set(outer)
  }

  /** Wall seconds of each finished build for dataset `d`, in the order the
    * builds started. A build's time includes its nested builds and any wait
    * on a key another thread was building. */
  def buildSeconds(d: String): Seq[(String, Double)] = synchronized {
    entries.toSeq.collect { case ((`d`, kind), slot) if slot.value.isDone => kind -> slot.seconds }
  }

  /** Cache `df` and fill the cache now, in one job over its rows (plus the
    * jobs of any shuffle below it), so the build, not a later query, pays
    * for it. */
  def cached(df: DataFrame): DataFrame = {
    df.cache()
    df.write.format("noop").mode("overwrite").save()
    df
  }

  /** Materialize `df` to parquet under the root and hand back the read. */
  def parquet(df: DataFrame, tag: String): DataFrame = {
    val p = dir(df.sparkSession, tag)
    df.write.mode("overwrite").parquet(p)
    df.sparkSession.read.parquet(p)
  }

  /** A fresh empty directory under the root. */
  def dir(s: SparkSession, tag: String): String = synchronized {
    attach(s.sparkContext)
    if (root == null) root = Files.createTempDirectory("graft-artifacts-")
    Files.createTempDirectory(root, s"$tag-").toString
  }

  /** Drop every entry and delete the root: what the owning context's stop
    * runs. Frames cached on a still-live context are unpersisted first; a
    * build still running keeps its value for its callers, but not here. */
  private[graft] def release(): Unit = synchronized {
    entries.values.foreach { slot =>
      if (slot.value.isDone && !slot.value.isCompletedExceptionally) slot.value.get() match {
        case df: Dataset[_] if !df.sparkSession.sparkContext.isStopped => df.unpersist()
        case _ => ()
      }
    }
    entries.clear()
    if (root != null) try deleteTree(root) finally root = null
  }

  private def attach(sc: SparkContext): Unit = if (owner ne sc) {
    sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = release()
    })
    owner = sc
  }

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  private[graft] def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => { Files.deleteIfExists(f); () })
    finally walk.close()
  }
}
