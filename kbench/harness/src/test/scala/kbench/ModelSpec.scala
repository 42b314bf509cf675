package kbench

import org.scalatest.funsuite.AnyFunSuite

import Model._

class ModelSpec extends AnyFunSuite {

  private val out = (addr: String, coins: Long) => Chain.Out("61" + addr, "0361" + addr, coins, Vector.empty, None)
  private val pay = "ab" * 28
  private val policyA = "0a" * 28
  private val policyB = "0b" * 28

  /** genesis ← b1 ← b2, and a fork b2' off b1 */
  private val b1 = Chain.Block(100, "h1", 1, Chain.Genesis, Vector(
    Chain.Tx("t1", Vector.empty, Vector(
      Chain.Out("61" + pay, "0361" + pay, 5, Vector((policyA, "", 3L), (policyB, "ff", 1L), (policyB, "00", 2L)), Some("d1")),
      out(pay, 7)), Vector("d1" -> "d87980"), Vector("s1" -> "4e4d"), None)))
  private val b2 = Chain.Block(120, "h2", 2, "h1", Vector(
    Chain.Tx("t2", Vector(("t1", 1)), Vector(out(pay, 6)), Vector.empty, Vector.empty, Some("r0"))))
  private val b2f = Chain.Block(121, "h2f", 2, "h1", Vector(
    Chain.Tx("t3", Vector(("t1", 0)), Vector(out(pay, 4)), Vector.empty, Vector.empty, None)))

  private def model(pats: Seq[Pat] = Seq(Pat.Any)) = {
    val m = new Model(pats); Seq(b1, b2, b2f).foreach(m.add); m
  }

  test("answers follow resultToJson: field order, asset order, spends, datum type") {
    val got = model().state("h2").answer(Matches(Pat.Payment(pay), oldestFirst = true))
    val row0 = s"""{"transaction_index":0,"transaction_id":"t1","output_index":0,"address":"0361$pay",""" +
      s""""value":{"coins":5,"assets":{"$policyB.00":2,"$policyB.ff":1,"$policyA":3}},""" +
      """"datum_hash":"d1","datum_type":"hash","script_hash":null,""" +
      """"created_at":{"slot_no":100,"header_hash":"h1"},"spent_at":null}"""
    val row1 = s"""{"transaction_index":0,"transaction_id":"t1","output_index":1,"address":"0361$pay",""" +
      """"value":{"coins":7,"assets":{}},"datum_hash":null,"script_hash":null,""" +
      """"created_at":{"slot_no":100,"header_hash":"h1"},""" +
      """"spent_at":{"slot_no":120,"header_hash":"h2","transaction_id":"t2","input_index":0,"redeemer":"r0"}}"""
    assert(got.startsWith(s"[$row0,$row1,"))
  }

  test("a state is its tip's chain: a fork drops the other branch's blocks and spends") {
    val m = model()
    val onFork = m.state("h2f").selectRows(Matches(Pat.Any))
    assert(onFork.map(_.txId) == Vector("t3", "t1", "t1"))
    assert(m.state("h2f").spent.keySet == Set(("t1", 0)))
    assert(m.state("h1").answer(Matches(Pat.Any)) == m.state("h1").answer(Matches(Pat.Any)))
    assert(m.state("h1").selectRows(Matches(Pat.Any)).size == 2)
  }

  test("indexed patterns, transaction lookups and checkpoints") {
    val m = model(Seq(Pat.Policy(policyA)))
    assert(m.state("h2").rows.map(r => (r.txId, r.outIndex)) == Vector(("t1", 0)))
    assert(m.state("h2").answer(Matches(Pat.TxId("t1"))).contains(""""transaction_id":"t1","output_index":0"""))
    assert(m.state("h2").answer(Matches(Pat.TxId("t2"))) == "[]")
    assert(m.state("h2").answer(CheckpointAt(120)) == """{"slot_no":120,"header_hash":"h2"}""")
    assert(m.state("h2").answer(CheckpointAt(119)) == "null")
    assert(m.state("h2").answer(Checkpoints) ==
      """[{"slot_no":120,"header_hash":"h2"},{"slot_no":100,"header_hash":"h1"}]""")
  }

  test("generated chains spend only outputs produced earlier on the same fork") {
    val gen = new ChainGen(7)
    val events = gen.events(200, rollbackEvery = 9)
    val live = scala.collection.mutable.LinkedHashMap.empty[String, (Chain.Block, Set[(String, Int)])]
    var utxo = Set.empty[(String, Int)]
    val byHeader = scala.collection.mutable.HashMap.empty[String, Set[(String, Int)]] // utxo after block
    events.foreach {
      case Chain.Forward(b) =>
        assert(b.parent == live.lastOption.map(_._1).getOrElse(Chain.Genesis))
        b.txs.foreach { tx =>
          tx.inputs.foreach(r => assert(utxo(r), s"$r spent but not unspent on this fork"))
          utxo = utxo -- tx.inputs ++ tx.outputs.indices.map(i => (tx.id, i))
        }
        live(b.header) = (b, utxo); byHeader(b.header) = utxo
      case Chain.Backward(_, h) =>
        while (live.last._1 != h) live.remove(live.last._1)
        utxo = byHeader(h)
    }
    assert(events.count(_.isInstanceOf[Chain.Backward]) == 22)
  }

  test("skewed addresses: busy stake credentials hold thousands of outputs") {
    val gen = new ChainGen(1)
    val blocks = Vector.fill(800)(gen.next())
    val m = new Model(Seq(Pat.Any)); blocks.foreach(m.add)
    val st = m.state(blocks.last.header)
    gen.busyStake.foreach(c => assert(st.selectRows(Matches(Pat.Stake(c))).size > 1000))
    assert(st.selectRows(Matches(Pat.Stake(gen.stakeCreds.last))).size < 100)
  }
}
