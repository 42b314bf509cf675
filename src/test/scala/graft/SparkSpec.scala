package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Fresh temp dir, deleted at JVM exit (suites run in one JVM, so dirs
    * must outlive the individual spec — fixtures are shared lazily — but
    * repeated `sbt test` runs must not accumulate them in /tmp). */
  def tmpDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    SparkSpec.cleanupAtExit(dir)
    dir.toString
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session(cpus = 4)

  private val toDelete = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val hookInstalled: Unit =
    sys.addShutdownHook {
      toDelete.forEach { p =>
        try graft.queries.ArtifactStore.deleteTree(p)
        catch { case _: java.io.IOException => () } // best-effort sweep
      }
    }

  def cleanupAtExit(p: java.nio.file.Path): Unit = { hookInstalled; toDelete.add(p) }
}
