package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.JobListener

import graft.queries.ArtifactStore

/** The build-once artifact store: one build per (dataset dir, kind), nested
  * builds, racing threads, different keys building side by side, failed and
  * self-nested builds, job names, files under one root, and the clean-up the
  * owning SparkContext's stop runs. */
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

  test("two different keys build at the same time") {
    val d = key("side-by-side")
    val (aBuilding, bBuilt) = (new CountDownLatch(1), new CountDownLatch(1))
    @volatile var aSawB = false
    val a = new Thread(() => {
      ArtifactStore(spark, d, "a") {
        aBuilding.countDown()
        // b must be able to build while a is still building
        aSawB = bBuilt.await(30, TimeUnit.SECONDS)
        new Object
      }
      ()
    })
    a.start()
    assert(aBuilding.await(30, TimeUnit.SECONDS))
    ArtifactStore(spark, d, "b") { bBuilt.countDown(); new Object }
    a.join()
    assert(aSawB, "build b waited for build a")
    assert(ArtifactStore.buildSeconds(d).map(_._1) == Seq("a", "b"))
  }

  test("a failed build rethrows to its waiters, leaves no entry, and the next lookup rebuilds") {
    val d = key("failing")
    val builds = new AtomicInteger
    val (started, fail) = (new CountDownLatch(1), new CountDownLatch(1))
    val boom = new IllegalStateException("boom")
    val builder = new Thread(() => {
      try ArtifactStore(spark, d, "k") {
        builds.incrementAndGet(); started.countDown(); fail.await(); throw boom
      } catch { case _: IllegalStateException => () }
      ()
    })
    builder.start()
    assert(started.await(30, TimeUnit.SECONDS))
    @volatile var waiterGot: Throwable = null
    val waiter = new Thread(() => {
      try ArtifactStore(spark, d, "k") { builds.incrementAndGet(); new Object }
      catch { case e: Throwable => waiterGot = e }
      ()
    })
    waiter.start()
    // release the build only once the waiter is parked on its slot
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (waiter.getState != Thread.State.WAITING && System.nanoTime() < deadline) Thread.sleep(10)
    assert(waiter.getState == Thread.State.WAITING)
    fail.countDown()
    builder.join(); waiter.join()
    assert(waiterGot eq boom)
    assert(builds.get == 1)
    assert(ArtifactStore.buildSeconds(d).isEmpty)
    val rebuilt = ArtifactStore(spark, d, "k") { builds.incrementAndGet(); new Object }
    assert(builds.get == 2)
    assert(ArtifactStore(spark, d, "k")(new Object) eq rebuilt)
  }

  test("a build that asks for its own key throws instead of waiting on itself") {
    val d = key("self")
    val e = intercept[IllegalStateException] {
      ArtifactStore(spark, d, "self") { ArtifactStore(spark, d, "self")(new Object) }
    }
    assert(e.getMessage.contains("'self'"))
    assert(ArtifactStore.buildSeconds(d).isEmpty)
  }

  test("every build names its jobs after its kind; a nested build restores the outer name") {
    val d = key("names")
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (_, js) = JobListener.jobsOf(sc) {
        ArtifactStore(spark, d, "outer") {
          spark.range(3).count()
          ArtifactStore(spark, d, "inner") { spark.range(2).collect(); new Object }
          spark.range(4).collect()
          new Object
        }
        spark.range(5).collect()
      }
      val jobs = js.map(_.description)
      // consecutive jobs of one name collapse to one entry
      val runs = jobs.foldLeft(Vector.empty[String])((r, j) => if (r.lastOption.contains(j)) r else r :+ j)
      assert(runs == Seq("graft.artifact outer", "graft.artifact inner",
        "graft.artifact outer", "caller"), jobs)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
    assert(ArtifactStore.buildSeconds(d).map(_._1) == Seq("outer", "inner"))
    assert(ArtifactStore.buildSeconds(d).forall(_._2 >= 0))
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
