package graftbench

import java.util.SplittableRandom

/** One block of a generated chain. Logs are not materialized: each block
  * keeps only the two filter-relevant choices per log (address and event
  * signature, as pool indices); every other field is re-derived on demand
  * from the block hash, so a chain of a million logs costs a few MB and a
  * fork's replacement blocks carry different logs than the blocks they
  * replace.
  */
final class GBlock(val number: Long, val hash: String, val parentHash: String,
    val addr: Array[Byte], val sig: Array[Byte]) {
  def size: Int = addr.length
}

/** One log as the node serves it (all hex strings are 0x-prefixed). */
final case class GLog(blockNum: Long, blockHash: String, txIndex: Long,
    txHash: String, address: String, topics: Vector[String], data: String)

/** What the benchmark's standing query asks for: several addresses and one
  * event signature in topic position 0, so the node-side filter keeps about
  * a fifth of the raw logs.
  */
final case class GFilter(addresses: Set[String], topic0: Option[String]) {
  def matches(b: GBlock, i: Int): Boolean =
    addresses.contains(Chain.addresses(b.addr(i))) &&
      topic0.forall(_ == Chain.signatures(b.sig(i)))
}

/** An immutable chain view: blocks indexed by height and by hash. */
final class Chain(val blocks: Vector[GBlock]) {
  private val byHash: Map[String, GBlock] = blocks.iterator.map(b => b.hash -> b).toMap
  require(blocks.zipWithIndex.forall { case (b, i) => b.number == i },
    "chain heights must be dense from 0")

  def head: GBlock = blocks.last
  def block(n: Long): Option[GBlock] =
    if (n >= 0 && n < blocks.length) Some(blocks(n.toInt)) else None
  def byHashOpt(h: String): Option[GBlock] = byHash.get(h)

  /** The canonical logs of `[from, to]` the filter selects. */
  def logs(from: Long, to: Long, f: GFilter): Iterator[GLog] =
    (math.max(0L, from) to math.min(to, head.number)).iterator
      .flatMap(n => Chain.logsOf(blocks(n.toInt), f))

  def countLogs(from: Long, to: Long, f: GFilter): Long =
    (math.max(0L, from) to math.min(to, head.number)).iterator.map { n =>
      val b = blocks(n.toInt)
      (0 until b.size).count(i => f.matches(b, i)).toLong
    }.sum
}

/** Seeded chain generator. Only the choices that do not change the amount
  * of work depend on the seed (hashes, payloads, which logs match, where
  * the dense ranges sit), so every seed of a workload asks the tracker for
  * statistically the same work.
  */
object Chain {
  val chainId = 1337L
  private val digits = "0123456789abcdef".toCharArray

  /** 20-byte contract addresses; the filter selects three of the eight. */
  val addresses: Vector[String] = (0 until 8).map(i => hex(mix(0xadd0L + i), 20)).toVector

  /** topic0 values (event signatures); the filter selects the first one,
    * which half of all logs carry.
    */
  val signatures: Vector[String] = (0 until 6).map(i => hex(mix(0x5160L + i), 32)).toVector

  val filter: GFilter = GFilter(addresses.take(3).toSet, Some(signatures(0)))

  /** The 64-bit finalizer of SplitMix64: a bijective, well-mixed hash. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** `bytes` bytes of hex expanded from one 64-bit key (0x-prefixed). */
  def hex(key: Long, bytes: Int): String = {
    val sb = new java.lang.StringBuilder(2 + 2 * bytes).append("0x")
    var k = key
    var left = bytes
    while (left > 0) {
      k = mix(k)
      var word = k
      var j = 0
      while (j < 8 && left > 0) {
        sb.append(digits(((word >>> 4) & 0xf).toInt)).append(digits((word & 0xf).toInt))
        word >>>= 8
        j += 1
        left -= 1
      }
    }
    sb.toString
  }

  private def keyOf(hash: String): Long =
    java.lang.Long.parseUnsignedLong(hash.substring(2, 18), 16)

  /** Every non-filter field of log `i` of `b`, derived from the block hash. */
  def log(b: GBlock, i: Int): GLog = {
    val k = mix(keyOf(b.hash) ^ (i.toLong * 0x632be59bd9b4e019L))
    val extraTopics = (k & 3).toInt // 0..3 indexed topics beyond topic0
    val topics = Vector(signatures(b.sig(i))) ++
      (1 to extraTopics).map(t => hex(k + t, 32))
    val dataWords = 1 + ((k >>> 2) & 3).toInt // 32..128 bytes of payload
    GLog(b.number, b.hash, i.toLong, hex(k ^ 0x7478L, 32), addresses(b.addr(i)),
      topics, hex(k ^ 0xda7aL, 32 * dataWords))
  }

  def logsOf(b: GBlock, f: GFilter): Iterator[GLog] =
    (0 until b.size).iterator.filter(i => f.matches(b, i)).map(i => log(b, i))

  /** A block whose raw log count is `raw`; with `ensureMatch` the first log
    * always passes the benchmark filter, so the block yields at least one
    * row (head steps are observed by their rows arriving downstream).
    */
  def block(rnd: SplittableRandom, number: Long, parent: String, raw: Int,
      ensureMatch: Boolean = false): GBlock = {
    val addr = Array.fill[Byte](raw)(rnd.nextInt(addresses.length).toByte)
    val sig = Array.fill[Byte](raw)(
      (if (rnd.nextBoolean()) 0 else 1 + rnd.nextInt(signatures.length - 1)).toByte)
    if (ensureMatch && raw > 0) { addr(0) = 0; sig(0) = 0 }
    new GBlock(number, hex(rnd.nextLong(), 32), parent, addr, sig)
  }

  /** Raw log counts per height: sparse blocks of 0..40 logs, plus
    * `denseRanges` runs of `denseLen` blocks carrying `denseRaw` logs each,
    * placed by the seed on `denseLen`-aligned slots that never touch.
    */
  def densities(rnd: SplittableRandom, blocks: Int, denseRanges: Int,
      denseLen: Int, denseRaw: Int): Array[Int] = {
    val raw = Array.tabulate(blocks)(n => ((n.toLong * 37 + 11) % 41).toInt)
    val slots = (1 until blocks / denseLen - 1 by 2).toArray
    require(slots.length >= denseRanges, "chain too short for its dense ranges")
    for (i <- slots.indices.reverse) { // seeded Fisher-Yates
      val j = rnd.nextInt(i + 1)
      val t = slots(i); slots(i) = slots(j); slots(j) = t
    }
    slots.take(denseRanges).foreach { s =>
      (s * denseLen until (s + 1) * denseLen).foreach(n => raw(n) = denseRaw)
    }
    raw
  }

  /** A linear chain 0..blocks-1 with the given raw density per height. */
  def linear(seed: Long, raw: Array[Int]): Chain = {
    val rnd = new SplittableRandom(seed)
    val genesis = block(rnd, 0L, hex(seed ^ 0x6e6573L, 32), raw(0))
    append(new Chain(Vector(genesis)), rnd, raw.drop(1))
  }

  /** The chain grown by `raw.length` blocks with the given raw densities. */
  def append(c: Chain, rnd: SplittableRandom, raw: Array[Int]): Chain = {
    val out = Vector.newBuilder[GBlock] ++= c.blocks
    var parent = c.head
    raw.foreach { r =>
      parent = block(rnd, parent.number + 1, parent.hash, r)
      out += parent
    }
    new Chain(out.result())
  }

  /** The chain grown by one head block. */
  def extend(c: Chain, rnd: SplittableRandom, raw: Int): Chain =
    new Chain(c.blocks :+ block(rnd, c.head.number + 1, c.head.hash, raw, ensureMatch = true))

  /** A fork: the top `depth` blocks are replaced by new ones (other hashes,
    * other logs) and one more block is added on top, so the head advances
    * by one exactly as in a plain step.
    */
  def fork(c: Chain, rnd: SplittableRandom, depth: Int, raw: Int): Chain = {
    require(depth >= 1 && depth < c.blocks.length, s"bad fork depth $depth")
    var kept = c.blocks.dropRight(depth)
    (0 to depth).foreach { _ =>
      val p = kept.last
      kept = kept :+ block(rnd, p.number + 1, p.hash, raw, ensureMatch = true)
    }
    new Chain(kept)
  }
}
