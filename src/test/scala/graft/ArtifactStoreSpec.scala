package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.queries.ArtifactStore

/** The build-once artifact store: one build per (dataset dir, kind), nested
  * builds on one thread, racing threads, files under one root, and the
  * clean-up the owning SparkContext's stop runs. */
class ArtifactStoreSpec extends SparkSpec {

  private def key(name: String): String = s"artifact-store-spec/$name-${System.nanoTime()}"

  test("one build per key, nested builds included") {
    val d = key("nested")
    val builds = new AtomicInteger
    def inner(): AnyRef = ArtifactStore(spark, d, "inner") { builds.incrementAndGet(); new Object }
    def outer(): (AnyRef, AnyRef) = ArtifactStore(spark, d, "outer") {
      builds.incrementAndGet(); (inner(), new Object)
    }
    val first = outer()
    assert(outer() eq first)
    assert(first._1 eq inner())
    assert(builds.get == 2)
  }

  test("two threads racing one key share one build") {
    val d = key("race")
    val builds = new AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]
    val threads = (1 to 2).map(_ => new Thread(() => {
      start.await()
      got.add(ArtifactStore(spark, d, "slow") { builds.incrementAndGet(); Thread.sleep(200); new Object })
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(builds.get == 1)
    assert(got.size == 2 && (got.peek() eq ArtifactStore(spark, d, "slow")(new Object)))
  }

  test("the same kind on two datasets does not collide") {
    val (a, b) = (key("a"), key("b"))
    val x = ArtifactStore(spark, a, "kind")(new Object)
    val y = ArtifactStore(spark, b, "kind")(new Object)
    assert(!(x eq y))
    assert(ArtifactStore(spark, a, "kind")(new Object) eq x)
  }

  /** The store's root: the parent of every directory `dir` hands out. */
  private def root(): Path = Paths.get(ArtifactStore.dir(spark, "probe")).getParent

  test("parquet and dir paths lie under one root in java.io.tmpdir") {
    val dir = Paths.get(ArtifactStore.dir(spark, "scratch"))
    val r = root()
    assert(dir.getParent == r && Files.isDirectory(dir))
    assert(r.getParent == Paths.get(System.getProperty("java.io.tmpdir")))
    assert(r.getFileName.toString.startsWith("graft-"))
    val df = ArtifactStore.parquet(spark.range(10).toDF("id"), "ids")
    assert(df.count() == 10)
    assert(df.inputFiles.nonEmpty)
    df.inputFiles.foreach(f => assert(Paths.get(new java.net.URI(f)).startsWith(r), f))
  }

  test("release deletes the root and the next lookup rebuilds") {
    val d = key("release")
    val builds = new AtomicInteger
    def lookup(): AnyRef = ArtifactStore(spark, d, "k") { builds.incrementAndGet(); new Object }
    val first = lookup()
    ArtifactStore.parquet(spark.range(3).toDF("id"), "gone")
    val before = root()
    ArtifactStore.release()
    assert(!Files.exists(before))
    assert(!(lookup() eq first))
    assert(root() != before)
    assert(builds.get == 2)
  }
}
