package graft.queries

import java.nio.file.{Files, Path}

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
  * Builds nest on one thread (pairs → sigs → grams, ivfPq → ivfL2), so the
  * whole store sits behind one reentrant lock; a per-key map lock such as
  * ConcurrentHashMap.computeIfAbsent rejects the nested update.
  *
  * Files: [[parquet]] and [[dir]] put everything under one root, created
  * lazily under java.io.tmpdir. When the owning SparkContext stops (Spark's
  * own shutdown hook stops it at JVM exit) the root is deleted and every
  * entry dropped, so the next lookup rebuilds under the new context. */
private[graft] object ArtifactStore {

  private val entries = scala.collection.mutable.Map.empty[(String, String), AnyRef]
  private var root: Path = _
  private var owner: SparkContext = _

  /** The entry for (dataset `d`, `kind`), built by `build` on first use. */
  def apply[T <: AnyRef](s: SparkSession, d: String, kind: String)(build: => T): T =
    synchronized {
      attach(s.sparkContext)
      entries.getOrElseUpdate((d, kind), build).asInstanceOf[T]
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
    * runs. Frames cached on a still-live context are unpersisted first. */
  private[graft] def release(): Unit = synchronized {
    entries.values.foreach {
      case df: Dataset[_] if !df.sparkSession.sparkContext.isStopped => df.unpersist()
      case _ => ()
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
