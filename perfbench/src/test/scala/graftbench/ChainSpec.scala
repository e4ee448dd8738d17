package graftbench

import java.util.SplittableRandom

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs must be a function of the seed alone: the same
  * seed gives the same chain, the same forks and the same wire answers.
  */
class ChainSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def base(seed: Long): Chain =
    Chain.linear(seed, Chain.densities(new SplittableRandom(seed ^ 0xd3e5L), 60, 1, 20, 2800))

  private def grown(seed: Long): Chain = {
    val rnd = new SplittableRandom(seed ^ 0xf011L)
    val c = Chain.extend(Chain.extend(base(seed), rnd, 40), rnd, 40)
    Chain.fork(c, rnd, 2, 40)
  }

  private def requests(c: Chain): Seq[String] = Seq(
    """{"jsonrpc":"2.0","id":1,"method":"eth_blockNumber","params":[]}""",
    """{"jsonrpc":"2.0","id":2,"method":"eth_chainId","params":[]}""",
    """{"jsonrpc":"2.0","id":3,"method":"eth_getBlockByNumber","params":["0x5",false]}""",
    s"""{"jsonrpc":"2.0","id":4,"method":"eth_getBlockByHash","params":["${c.head.hash}",false]}""",
    """{"jsonrpc":"2.0","id":5,"method":"eth_getLogs","params":[{"fromBlock":"0x0","toBlock":"0x13",""" +
      s""""address":[${Chain.filter.addresses.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""topics":["${Chain.filter.topic0.get}"]}]}""",
    s"""{"jsonrpc":"2.0","id":6,"method":"eth_getLogs","params":[{"blockHash":"${c.head.hash}"}]}""",
    """{"jsonrpc":"2.0","id":7,"method":"eth_getLogs","params":[{"fromBlock":"0x0","toBlock":"0x3b",""" +
      s""""address":[${Chain.filter.addresses.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""topics":["${Chain.filter.topic0.get}"]}]}""")

  private def answers(c: Chain): Seq[String] = {
    val node = new StubNode(c)
    try requests(c).map(r => node.answer(mapper.readTree(r)))
    finally node.stop()
  }

  test("the same seed gives the same chain, forks and wire answers") {
    val (a, b) = (grown(7), grown(7))
    assert(a.blocks.map(_.hash) == b.blocks.map(_.hash))
    assert(a.blocks.map(_.parentHash) == b.blocks.map(_.parentHash))
    assert(a.logs(0, a.head.number, Chain.filter).toList == b.logs(0, b.head.number, Chain.filter).toList)
    assert(answers(a) == answers(b))
  }

  test("another seed gives another chain") {
    assert(grown(7).head.hash != grown(8).head.hash)
    assert(answers(grown(7)) != answers(grown(8)))
  }

  test("a fork replaces the top blocks, keeps the chain linked and advances the head by one") {
    val rnd = new SplittableRandom(1)
    val c = base(3)
    val f = Chain.fork(c, rnd, 2, 40)
    assert(f.head.number == c.head.number + 1)
    assert(f.blocks.take(c.blocks.length - 2).map(_.hash) == c.blocks.dropRight(2).map(_.hash))
    assert(f.blocks(c.blocks.length - 2).hash != c.blocks(c.blocks.length - 2).hash)
    assert(f.blocks.zip(f.blocks.tail).forall { case (p, n) => n.parentHash == p.hash })
    assert(Chain.logsOf(f.head, Chain.filter).nonEmpty)
  }

  test("logs carry realistic field widths and the filter is selective") {
    val c = base(5)
    val l = c.logs(0, c.head.number, Chain.filter).next()
    assert(l.blockHash.length == 66 && l.txHash.length == 66 && l.address.length == 42)
    assert(l.topics.forall(_.length == 66) && l.data.length >= 66)
    val raw = c.blocks.map(_.size.toLong).sum
    val kept = c.countLogs(0, c.head.number, Chain.filter)
    assert(kept > 0 && kept < raw / 4)
  }

  test("the node refuses a range above 10,000 filtered logs and serves the halves") {
    val c = base(5)
    val out = answers(c)
    assert(out(6).contains("query returned more than 10000 results"))
    assert(c.countLogs(0, 59, Chain.filter) > StubNode.maxResults)
    assert(c.countLogs(0, 24, Chain.filter) <= StubNode.maxResults)
    assert(out(4).contains("\"result\":["))
  }
}
