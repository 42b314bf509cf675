package kbench

import scala.collection.mutable

/** Reference model of the index, in plain collections: given the blocks
  * seen so far and a tip, it answers every read the benchmark sends with
  * the exact response body the HTTP API is specified to return
  * (kupo's resultToJson field order, assets policy-descending then
  * asset-ascending, default order most recent first).
  *
  * A rollback needs no special handling: the index state after rolling
  * back to a block equals the state after forwarding up to it, so a state
  * is a function of its tip's header hash. */
object Model {

  sealed trait Pat { def text: String }
  object Pat {
    case object Any extends Pat { val text = "*" }
    final case class Stake(cred: String) extends Pat { def text = s"*/$cred" }
    final case class Payment(cred: String) extends Pat { def text = s"$cred/*" }
    final case class TxId(tx: String) extends Pat { def text = s"*@$tx" }
    final case class Policy(policy: String) extends Pat { def text = s"$policy.*" }
  }

  sealed trait Query { def path: String }
  final case class Matches(pat: Pat, oldestFirst: Boolean = false) extends Query {
    def path: String = s"/matches/${pat.text}" + (if (oldestFirst) "?order=oldest_first" else "")
  }
  final case class CheckpointAt(slot: Long) extends Query { def path = s"/checkpoints/$slot?strict" }
  case object Checkpoints extends Query { def path = "/checkpoints" }

  final case class Row(txIndex: Int, txId: String, outIndex: Int, out: Chain.Out, slot: Long, header: String)
  final case class Spent(slot: Long, header: String, txId: String, inputIndex: Int, redeemer: Option[String])

  def matches(p: Pat, a: String, row: Row): Boolean = p match {
    case Pat.Any          => true
    case Pat.Stake(c)     => a.startsWith("01" + c)
    case Pat.Payment(c)   => !a.startsWith("00") && a.endsWith(c)
    case Pat.TxId(t)      => row.txId == t
    case Pat.Policy(p)    => row.out.assets.exists(_._1 == p)
  }

  /** One state of the index: the rows produced on the chain ending at a
    * tip, their spends, and its checkpoints. */
  final class State(val tip: String, val chainBlocks: Vector[Chain.Block], indexed: Seq[Pat]) {
    val rows: Vector[Row] = for {
      b <- chainBlocks
      (tx, ti) <- b.txs.zipWithIndex
      (o, oi) <- tx.outputs.zipWithIndex
      r = Row(ti, tx.id, oi, o, b.slot, b.header)
      if indexed.exists(p => matches(p, o.kupoAddress, r))
    } yield r
    val spent: Map[(String, Int), Spent] = (for {
      b <- chainBlocks
      tx <- b.txs
      (ref, ii) <- tx.inputs.zipWithIndex
    } yield ref -> Spent(b.slot, b.header, tx.id, ii, if (ii == 0) tx.redeemer0 else None)).toMap
    private val cps: Vector[(Long, String)] = chainBlocks.map(b => (b.slot, b.header))
    def seenOutputs: Int = chainBlocks.iterator.map(_.txs.iterator.map(_.outputs.size).sum).sum

    def answer(q: Query): String = q match {
      case m: Matches => matchesJson(m)
      case CheckpointAt(s) => cps.find(_._1 == s)
          .map { case (sl, h) => s"""{"slot_no":$sl,"header_hash":"$h"}""" }.getOrElse("null")
      case Checkpoints => checkpointsJson
    }

    /** Log-spaced recent checkpoints: for each offset in 0..10 ++ 20·2^k,
      * the oldest checkpoint at or after tip − offset; distinct, newest first. */
    private def checkpointsJson: String = cps.lastOption match {
      case None => "[]"
      case Some((tipSlot, _)) =>
        val offsets = (0L to 10L) ++ Iterator.iterate(20L)(_ * 2).takeWhile(o => o > 0 && o <= Long.MaxValue / 2)
        val slots = offsets.filter(o => tipSlot - o >= 0)
          .flatMap(o => cps.find(_._1 >= tipSlot - o)).distinct.sortBy(-_._1)
        slots.map { case (s, h) => s"""{"slot_no":$s,"header_hash":"$h"}""" }.mkString("[", ",", "]")
    }

    def selectRows(m: Matches): Vector[Row] = {
      val sel = rows.filter(r => matches(m.pat, r.out.kupoAddress, r))
      val asc = sel.sortBy(r => (r.slot, r.txIndex, r.outIndex))
      if (m.oldestFirst) asc else asc.reverse
    }

    def matchesJson(m: Matches): String =
      selectRows(m).map(rowJson).mkString("[", ",", "]")

    private def rowJson(r: Row): String = {
      val sb = new StringBuilder
      sb.append("{\"transaction_index\":").append(r.txIndex)
        .append(",\"transaction_id\":\"").append(r.txId)
        .append("\",\"output_index\":").append(r.outIndex)
        .append(",\"address\":\"").append(r.out.kupoAddress)
        .append("\",\"value\":{\"coins\":").append(r.out.coins).append(",\"assets\":{")
      val assets = r.out.assets.sortWith { case ((p1, a1, _), (p2, a2, _)) =>
        if (p1 != p2) p1 > p2 else a1 < a2 }
      sb.append(assets.map { case (p, a, q) =>
        "\"" + p + (if (a.nonEmpty) "." + a else "") + "\":" + q }.mkString(","))
      sb.append("}},\"datum_hash\":")
      sb.append(r.out.datumHash.map(h => "\"" + h + "\"").getOrElse("null"))
      if (r.out.datumHash.isDefined) sb.append(",\"datum_type\":\"hash\"")
      sb.append(",\"script_hash\":null")
      sb.append(",\"created_at\":{\"slot_no\":").append(r.slot)
        .append(",\"header_hash\":\"").append(r.header).append("\"},\"spent_at\":")
      spent.get((r.txId, r.outIndex)) match {
        case None => sb.append("null")
        case Some(s) =>
          sb.append("{\"slot_no\":").append(s.slot).append(",\"header_hash\":\"").append(s.header)
            .append("\",\"transaction_id\":\"").append(s.txId).append("\",\"input_index\":").append(s.inputIndex)
            .append(",\"redeemer\":").append(s.redeemer.map(x => "\"" + x + "\"").getOrElse("null")).append('}')
      }
      sb.append('}').toString
    }
  }
}

/** The blocks a feed has delivered (every fork) and the states they lead to. */
final class Model(indexed: Seq[Model.Pat]) {
  import Model._
  private val blocks = mutable.HashMap.empty[String, Chain.Block]
  private val cache = mutable.LinkedHashMap.empty[String, State]

  def add(b: Chain.Block): Unit = synchronized { blocks(b.header) = b }

  def state(tip: String): State = synchronized {
    cache.remove(tip) match {
      case Some(s) => cache(tip) = s; s
      case None =>
        val chain = Iterator.iterate(blocks.get(tip))(_.flatMap(b => blocks.get(b.parent)))
          .takeWhile(_.isDefined).flatten.toVector.reverse
        val s = new State(tip, chain, indexed)
        cache(tip) = s
        if (cache.size > 16) cache.remove(cache.head._1)
        s
    }
  }
}
