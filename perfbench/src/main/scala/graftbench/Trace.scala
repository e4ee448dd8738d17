package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.model.{BlockHeader, FilterConfig}
import graft.store.{KeyValueStore, LogStore}
import graft.sync.{Provider, SyncListener, SyncProgress}

/** One recorded interval: what ran, when, under which parent span and in
  * which step of the workload.
  */
final case class Span(id: Long, parent: Long, step: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span and counter recorder for the traced run. Spans nest per
  * thread; everything is written out once, when the run ends.
  */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private var nextId = 1L
  @volatile var step: Long = 0L

  def span[A](name: String)(body: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get().headOption.getOrElse(0L)
    val st = step
    stack.set(id :: stack.get())
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      synchronized { spans += Span(id, parent, st, name, t0, t1) }
    }
  }

  /** Forget everything recorded so far (the set-up's work). */
  def reset(): Unit = synchronized { spans.clear(); counters.clear() }

  def add(name: String, v: Double): Unit =
    counters.computeIfAbsent(name, _ => new DoubleAdder()).add(v)

  def count(name: String): Double =
    Option(counters.get(name)).map(_.sum()).getOrElse(0.0)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Summed duration of the spans whose name matches, in ms. */
  def totalMs(name: String => Boolean): Double = all.filter(s => name(s.name)).map(_.ms).sum

  /** Summed self time of the matching spans: each span's duration minus
    * the part of it that its child spans cover.
    */
  def selfMs(name: Span => Boolean): Double = {
    val spansNow = all
    val kids = spansNow.groupBy(_.parent)
    spansNow.filter(name).map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var busy = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      covered.foreach { case (a0, b0) =>
        val a = math.max(a0, s.startNs); val b = math.min(b0, s.endNs)
        if (a > hi) { busy += math.max(0L, hi - lo); lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      busy += math.max(0L, hi - lo)
      s.ms - busy / 1e6
    }.sum
  }

  def parentName(s: Span): Option[String] = {
    val byId = synchronized(spans.iterator.map(x => x.id -> x.name).toMap)
    byId.get(s.parent)
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"step":${s.step},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Times every call into the upstream [[Provider]]. `getLogs` is where
  * the node's 10,000-result refusal surfaces, so attempts and overflows
  * are counted here too.
  */
final class TracedProvider(inner: Provider, t: Tracer) extends Provider {
  override def getLogs(from: Long, to: Long, filter: FilterConfig): DataFrame =
    t.span("rpc.getLogs") {
      t.add("rpc.getLogs.range", 1)
      try inner.getLogs(from, to, filter)
      catch { case e: Provider.TooManyResults => t.add("rpc.overflows", 1); throw e }
    }
  override def getLogsByHash(blockHash: String, filter: FilterConfig): DataFrame =
    t.span("rpc.getLogsByHash")(inner.getLogsByHash(blockHash, filter))
  override def getBlock(number: Long): Option[BlockHeader] =
    t.span("rpc.getBlock")(inner.getBlock(number))
  override def latestBlock(): BlockHeader = t.span("rpc.latestBlock")(inner.latestBlock())
  override def genesisHash(): String = t.span("rpc.genesisHash")(inner.genesisHash())
  override def chainId(): String = t.span("rpc.chainId")(inner.chainId())
}

/** Times the log store's mutations and counts the rows they move. Indices
  * are dense, so the rows an append adds and a truncation at `n` retracts
  * follow from the last index the store reported; the decorator remembers
  * it rather than asking again, which would add a Spark job per call.
  */
final class TracedLogStore(inner: LogStore, t: Tracer) extends LogStore {
  private var known = -1L
  private def last(): Long = { if (known < 0) known = inner.lastIndex(); known }

  override def read: DataFrame = inner.read
  override def lastIndex(): Long = t.span("store.lastIndex") {
    known = inner.lastIndex(); known
  }
  override def storeLogs(batch: DataFrame): Long = {
    val before = last()
    val after = t.span("store.append")(inner.storeLogs(batch))
    t.add("store.append.calls", 1)
    t.add("store.append.rows", (after - before).toDouble)
    known = after
    after
  }
  override def removeLogsFrom(n: Long): DataFrame = {
    val before = last()
    val out = t.span("store.truncate")(inner.removeLogsFrom(n))
    t.add("store.truncate.calls", 1)
    t.add("store.truncate.rows", math.max(0L, before - n).toDouble)
    known = math.min(before, n)
    out
  }
  override def getLog(n: Long): DataFrame = inner.getLog(n)
  override def compact(): Unit = t.span("store.compact")(inner.compact())
}

/** Times checkpoint-store calls and watches the `lastBlock_*` key: a
  * checkpoint that moves backwards is a reorg rolling back to its common
  * ancestor, and the distance is the reorg's depth.
  */
final class TracedKv(inner: KeyValueStore, t: Tracer) extends KeyValueStore {
  private var lastCheckpoint = -1L

  override def get(key: String): Option[String] = t.span("kv.get")(inner.get(key))
  override def set(key: String, value: String): Unit =
    t.span("kv.set") { watch(Map(key -> value)); inner.set(key, value) }
  override def setAll(kvs: Map[String, String], drop: String => Boolean,
      expectedVersion: Option[Long], claimStaleMs: Long): Unit =
    t.span("kv.setAll") {
      watch(kvs)
      inner.setAll(kvs, drop, expectedVersion, claimStaleMs)
    }
  override def listPrefix(prefix: String): DataFrame = inner.listPrefix(prefix)

  private def watch(kvs: Map[String, String]): Unit =
    kvs.collect { case (k, v) if k.startsWith("lastBlock_") && v.nonEmpty =>
      v.takeWhile(_ != '|').toLong
    }.foreach { n =>
      if (lastCheckpoint >= 0 && n < lastCheckpoint) {
        t.add("reorg.events", 1)
        // counters only add: raise the running maximum by the difference
        val depth = (lastCheckpoint - n).toDouble
        t.add("reorg.depth_max", math.max(0.0, depth - t.count("reorg.depth_max")))
      }
      lastCheckpoint = n
    }
}

/** Counts the sync loop's progress ticks: one per committed AIMD batch. */
final class TickCounter(t: Tracer) extends SyncListener {
  override def onProgress(p: SyncProgress): Unit = {
    if (p.phase == "bulk") t.add("aimd.batches", 1)
    t.step += 1
  }
}
