package kbench

import scala.collection.mutable

/** A Cardano-shaped chain, generated from a seed, with no dependency on the
  * system under test. The generator emits Ogmios `nextBlock` JSON lines; the
  * [[Model]] answers queries over the same blocks with plain collections.
  *
  * Shape (fixed by the constants in [[ChainGen]], randomized only by the
  * seed):
  *  - address popularity is skewed: a few busy stake credentials receive a
  *    large share of all outputs, through a handful of addresses each, while
  *    the rest receive a few outputs each;
  *  - multi-asset values use 56-hex policy ids, one of them busy;
  *  - datum hashes are 64-hex (most witnessed in the transaction), witness
  *    scripts are keyed by 56-hex hashes;
  *  - every input consumes an output produced earlier on the same fork. */
object Chain {

  final case class Out(wireAddress: String, kupoAddress: String, coins: Long,
                       assets: Vector[(String, String, Long)], datumHash: Option[String])
  final case class Tx(id: String, inputs: Vector[(String, Int)], outputs: Vector[Out],
                      datums: Vector[(String, String)], scripts: Vector[(String, String)],
                      redeemer0: Option[String])
  final case class Block(slot: Long, header: String, height: Long, parent: String, txs: Vector[Tx])

  sealed trait Event
  final case class Forward(block: Block) extends Event
  /** Roll back to the block `header` at `slot` (which stays on the chain). */
  final case class Backward(slot: Long, header: String) extends Event

  val Genesis = "origin"

  /** kupo's address layout for the two address kinds generated here:
    * base = 01 ‖ stake ‖ 01 ‖ payment, enterprise = 03 ‖ 61 ‖ payment. */
  def baseAddress(pay: String, stake: String): (String, String) =
    ("01" + pay + stake, "01" + stake + "01" + pay)
  def enterpriseAddress(pay: String): (String, String) = ("61" + pay, "03" + "61" + pay)

  /** Ogmios wire form of one forward block. */
  def forwardJson(b: Block): String = {
    val sb = new StringBuilder
    sb.append("""{"jsonrpc":"2.0","method":"nextBlock","result":{"direction":"forward","block":{"id":"""")
      .append(b.header).append("\",\"slot\":").append(b.slot).append(",\"height\":").append(b.height)
      .append(",\"transactions\":[")
    b.txs.zipWithIndex.foreach { case (tx, i) =>
      if (i > 0) sb.append(',')
      sb.append("{\"id\":\"").append(tx.id).append("\",\"spends\":\"inputs\",\"inputs\":[")
      tx.inputs.zipWithIndex.foreach { case ((t, ix), j) =>
        if (j > 0) sb.append(',')
        sb.append("{\"transaction\":{\"id\":\"").append(t).append("\"},\"index\":").append(ix).append('}')
      }
      sb.append("],\"outputs\":[")
      tx.outputs.zipWithIndex.foreach { case (o, j) =>
        if (j > 0) sb.append(',')
        sb.append("{\"address\":\"").append(o.wireAddress).append("\",\"value\":{\"ada\":{\"lovelace\":")
          .append(o.coins).append('}')
        o.assets.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (p, as) =>
          sb.append(",\"").append(p).append("\":{")
          sb.append(as.map { case (_, a, q) => "\"" + a + "\":" + q }.mkString(","))
          sb.append('}')
        }
        sb.append('}')
        o.datumHash.foreach(h => sb.append(",\"datumHash\":\"").append(h).append('"'))
        sb.append('}')
      }
      sb.append(']')
      if (tx.datums.nonEmpty)
        sb.append(",\"datums\":{").append(tx.datums.map { case (h, d) => "\"" + h + "\":\"" + d + "\"" }
          .mkString(",")).append('}')
      if (tx.scripts.nonEmpty)
        sb.append(",\"scripts\":{").append(tx.scripts.map { case (h, c) =>
          "\"" + h + "\":{\"language\":\"plutus:v2\",\"cbor\":\"" + c + "\"}" }.mkString(",")).append('}')
      tx.redeemer0.foreach(r =>
        sb.append(",\"redeemers\":[{\"validator\":{\"purpose\":\"spend\",\"index\":0},\"redeemer\":\"")
          .append(r).append("\"}]"))
      sb.append('}')
    }
    sb.append("]}}}")
    sb.toString
  }

  def backwardJson(slot: Long, header: String): String =
    s"""{"jsonrpc":"2.0","method":"nextBlock","result":{"direction":"backward","point":{"slot":$slot,"id":"$header"}}}"""

  def json(e: Event): String = e match {
    case Forward(b)     => forwardJson(b)
    case Backward(s, h) => backwardJson(s, h)
  }
}

/** Seeded generator: `next()` extends the current fork by one block;
  * `rollback(depth)` drops the newest `depth` blocks and restores the UTxO
  * pool they consumed, so the next block forks from the new tip. */
final class ChainGen(seed: Long) {
  import Chain._
  import ChainGen._

  private val rnd = new scala.util.Random(seed)
  private def hex(bytes: Int): String = {
    val b = new Array[Byte](bytes); rnd.nextBytes(b)
    b.map(x => f"${x & 0xff}%02x").mkString
  }

  val stakeCreds: Vector[String] = Vector.fill(StakeCreds)(hex(28))
  /** Busy stake credentials each receive outputs through two payment keys. */
  val busyPay: Vector[Vector[String]] = Vector.fill(BusyCreds)(Vector.fill(2)(hex(28)))
  val policies: Vector[String] = Vector.fill(Policies)(hex(28))
  private val assetNames = Vector("", "546f6b656e", "4e4654", "61626364")

  def busyStake: Vector[String] = stakeCreds.take(BusyCreds)
  def busyPolicy: String = policies.head

  // UTxO pool of the current fork: indexable for uniform choice, with a
  // per-block undo log so a rollback restores it exactly
  private val pool = mutable.ArrayBuffer.empty[(String, Int)]
  private val poolIx = mutable.HashMap.empty[(String, Int), Int]
  private def poolAdd(r: (String, Int)): Unit = { poolIx(r) = pool.size; pool += r }
  private def poolRemove(r: (String, Int)): Unit = {
    val i = poolIx.remove(r).get
    val last = pool.remove(pool.size - 1)
    if (i < pool.size) { pool(i) = last; poolIx(last) = i }
  }
  private val chain = mutable.ArrayBuffer.empty[(Block, Vector[(String, Int)])] // block, consumed

  def tip: Option[Block] = chain.lastOption.map(_._1)
  def height: Int = chain.size

  private def address(): (String, String) = {
    val u = rnd.nextDouble()
    if (u < BusyShare) {
      val b = rnd.nextInt(BusyCreds)
      baseAddress(busyPay(b)(rnd.nextInt(2)), stakeCreds(b))
    } else if (u < BusyShare + EnterpriseShare) enterpriseAddress(hex(28))
    else {
      // light credentials: payment key derived per output, so exact
      // addresses hold one or a few outputs
      val s = BusyCreds + rnd.nextInt(StakeCreds - BusyCreds)
      baseAddress(hex(28), stakeCreds(s))
    }
  }

  private def assets(): Vector[(String, String, Long)] =
    if (rnd.nextDouble() >= AssetShare) Vector.empty
    else {
      val n = 1 + rnd.nextInt(3)
      (0 until n).map { _ =>
        val p = if (rnd.nextDouble() < BusyPolicyShare) busyPolicy
                else policies(1 + rnd.nextInt(policies.size - 1))
        (p, assetNames(rnd.nextInt(assetNames.size)), 1L + rnd.nextInt(1000000))
      }.distinctBy(a => (a._1, a._2)).toVector
    }

  def next(): Block = {
    val parent = tip
    val slot = parent.map(_.slot).getOrElse(1000L) + 1 + rnd.nextInt(40)
    val consumed = mutable.ArrayBuffer.empty[(String, Int)]
    val txs = (0 until TxsPerBlock).map { _ =>
      val id = hex(32)
      val nIn = if (pool.size < 50) 0 else 1 + rnd.nextInt(2)
      val inputs = (0 until nIn).map { _ =>
        val r = pool(rnd.nextInt(pool.size)); poolRemove(r); consumed += r; r
      }.toVector
      val outs = (0 until 1 + rnd.nextInt(MaxOutputsPerTx)).map { _ =>
        val (wire, kupo) = address()
        val datum = if (rnd.nextDouble() < DatumShare) Some(hex(32)) else None
        Out(wire, kupo, 1000000L + rnd.nextInt(1000000000), assets(), datum)
      }.toVector
      outs.indices.foreach(i => poolAdd((id, i)))
      // most datum hashes are witnessed (resolvable); the rest stay bare
      val datums = outs.flatMap(_.datumHash).filter(_ => rnd.nextDouble() < 0.8)
        .map(h => (h, "d8799f" + hex(4 + rnd.nextInt(12)) + "ff"))
      val scripts = if (rnd.nextDouble() < ScriptShare) Vector((hex(28), "4e4d01" + hex(8 + rnd.nextInt(24))))
                    else Vector.empty
      val redeemer = if (inputs.nonEmpty && rnd.nextDouble() < 0.3) Some("d87980") else None
      Tx(id, inputs, outs, datums, scripts, redeemer)
    }.toVector
    val b = Block(slot, hex(32), parent.map(_.height + 1).getOrElse(1L),
      parent.map(_.header).getOrElse(Genesis), txs)
    chain += ((b, consumed.toVector))
    b
  }

  /** Drop the newest `depth` blocks; returns the rollback event (to the new
    * tip, which must exist). */
  def rollback(depth: Int): Backward = {
    require(depth < chain.size, "cannot roll back past the first block")
    (0 until depth).foreach { _ =>
      val (b, consumed) = chain.remove(chain.size - 1)
      // restore first: some consumed outputs were produced in this block
      consumed.foreach(poolAdd)
      b.txs.foreach(tx => tx.outputs.indices.foreach(i => poolRemove((tx.id, i))))
    }
    val t = tip.get
    Backward(t.slot, t.header)
  }

  /** `n` forward events, with a rollback of depth 1..3 after every
    * `rollbackEvery` blocks (0 = none). */
  def events(n: Int, rollbackEvery: Int): Vector[Event] = {
    val out = Vector.newBuilder[Event]
    (1 to n).foreach { i =>
      out += Forward(next())
      if (rollbackEvery > 0 && i % rollbackEvery == 0 && height > 4) out += rollback(1 + rnd.nextInt(3))
    }
    out.result()
  }

  /** A uniformly random number in [0, n) from the generator's stream (for
    * choosing request parameters from the same seed). */
  def pick(n: Int): Int = rnd.nextInt(n)
  def randomHex(bytes: Int): String = hex(bytes)
}

object ChainGen {
  val StakeCreds = 600
  /** Busy stake credentials, which together receive `BusyShare` of all outputs. */
  val BusyCreds = 4
  val BusyShare = 0.4
  val EnterpriseShare = 0.1
  val Policies = 40
  /** Share of asset entries under the busy policy. */
  val BusyPolicyShare = 0.35
  /** Share of outputs carrying assets. */
  val AssetShare = 0.3
  val TxsPerBlock = 8
  val MaxOutputsPerTx = 4
  val DatumShare = 0.2
  /** Share of transactions with a witness script. */
  val ScriptShare = 0.1
}
