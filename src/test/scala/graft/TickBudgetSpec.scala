package graft

import graft.tools.Serve
import org.apache.spark.graftshim.JobListener

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** What one `Serve` tick costs in Spark jobs: the resume answers from the
  * driver memos, the batch is parsed and materialized once, its seven
  * tables and the bloom sidecar land in one job each, and the health
  * snapshot reloads the checkpoints memo. A tick with no new files runs
  * nothing, and no tick leaves an RDD persisted. */
class TickBudgetSpec extends SparkSpec {

  private val addr = graft.codec.Bech32.encode("addr",
    graft.codec.Hex.decode("01" + ("11" * 28) + ("22" * 28)).get)

  /** Block `n` at slot 10·n: one transaction spending the previous block's
    * first output and producing two outputs, one carrying an asset, a
    * datum hash and an inline script; a witnessed datum and script ride
    * along, so every index table gets rows. */
  private def block(n: Int): String = {
    val tx = f"${100000 + n}%064x"
    val prev = f"${100000 + n - 1}%064x"
    s"""{"jsonrpc":"2.0","method":"nextBlock","result":{"direction":"forward",""" +
      s""""block":{"type":"praos","era":"babbage","id":"${f"$n%064x"}","slot":${10L * n},""" +
      s""""height":$n,"transactions":[{"id":"$tx","spends":"inputs",""" +
      s""""inputs":[{"transaction":{"id":"$prev"},"index":0}],"outputs":[""" +
      s"""{"address":"$addr","value":{"ada":{"lovelace":${1000L * n}}}},""" +
      s"""{"address":"$addr","value":{"ada":{"lovelace":2000000},"${"cc" * 28}":{"beef":$n}},""" +
      s""""datumHash":"${f"${200000 + n}%064x"}",""" +
      s""""script":{"language":"plutus:v2","cbor":"49480100002221200101"}}],""" +
      s""""datums":{"${f"${300000 + n}%064x"}":"d87980"},""" +
      s""""scripts":{"${f"${400000 + n}%056x"}":{"language":"plutus:v1",""" +
      s""""cbor":"4e4d01000033222220051200120011"}}}]},""" +
      s""""tip":{"slot":99999,"id":"${"0" * 64}"}}}"""
  }

  test("a forward-only tick runs <= 12 described jobs, an idle tick none, and no RDD stays persisted") {
    val in = tmpDir("graft-tick-in")
    def publish(file: Int, blocks: Range): Unit =
      Files.write(Paths.get(in, f"$file%04d.jsonl"),
        blocks.map(block).mkString("\n").getBytes(StandardCharsets.UTF_8))
    publish(0, 1 to 10)
    val running = Serve.serve(spark, Serve.Config(workDir = tmpDir("graft-tick-ix"),
      inputDir = in, port = 0, since = Some("origin")))
    val sc = spark.sparkContext
    // other suites share the session: only an RDD a tick leaves counts
    val persisted = sc.getPersistentRDDs.keySet
    def jobsOf[A](f: => A): (A, Seq[String]) = {
      val (a, js) = JobListener.jobsOf(sc)(f)
      (a, js.map(_.description))
    }
    try {
      running.tick() // first boot: creates every table
      // two catch-up ticks of 50 blocks over 5 files each: the second is
      // the steady state, the first follows the boot tick's commit
      Seq(1, 6).foreach { f0 =>
        (f0 until f0 + 5).foreach(f => publish(f, (10 * f + 1) to (10 * f + 10)))
        val (h, jobs) = jobsOf(running.tick())
        assert(h.mostRecentCheckpoint.map(_._1).contains(100L * (f0 + 4) + 100L))
        info(s"catch-up tick: ${jobs.size} jobs: ${jobs.mkString(" | ")}")
        assert(jobs.size <= 12, s"catch-up tick ran ${jobs.size} jobs: ${jobs.mkString(" | ")}")
        assert(jobs.forall(_.nonEmpty), s"undescribed jobs: ${jobs.mkString(" | ")}")
        assert(sc.getPersistentRDDs.keySet.subsetOf(persisted),
          s"persisted after the tick: ${sc.getPersistentRDDs -- persisted}")
      }
      val (h, idle) = jobsOf(running.tick())
      assert(h.mostRecentCheckpoint.map(_._1).contains(1100L))
      assert(idle.isEmpty, s"idle tick ran ${idle.size} jobs: ${idle.mkString(" | ")}")
      assert(sc.getPersistentRDDs.keySet.subsetOf(persisted))
    } finally running.close()
  }
}
