package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.FilterConfig
import graft.store.{KvStore, TxLogTable}
import graft.sync.{HttpRpcProvider, Provider, Syncer}

/** Output checks of the tracker workload. Each returns the problems it
  * found; an empty list is a pass.
  */
object TrackerChecks {
  val filterConfig: FilterConfig = FilterConfig(
    addresses = Chain.filter.addresses.toSeq.sorted,
    topics = Seq(Chain.filter.topic0))

  def key(blockNum: Long, blockHash: String, txIndex: Long, txHash: String,
      address: String, topics: Seq[String], data: String): String =
    s"$blockNum|$blockHash|$txIndex|$txHash|$address|${topics.mkString(",")}|$data"

  def expected(c: Chain): Array[String] =
    c.logs(0, c.head.number, Chain.filter)
      .map(l => key(l.blockNum, l.blockHash, l.txIndex, l.txHash, l.address, l.topics, l.data))
      .toArray.sorted

  private val cols = Seq("block_num", "block_hash", "tx_index", "tx_hash", "address", "topics", "data", "indx")

  def rowKey(r: Row): String =
    key(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getString(4),
      r.getSeq[String](5), r.getString(6))

  /** The table holds exactly the canonical chain's filtered logs, its
    * `indx` column is dense from 0, and the checkpoint is the head.
    */
  def table(s: Syncer, c: Chain): Seq[String] = {
    val rows = s.table.read.select(cols.map(col): _*).collect()
    val got = rows.map(rowKey).sorted
    val want = expected(c)
    val problems = ArrayBuffer.empty[String]
    if (!java.util.Arrays.equals(got.asInstanceOf[Array[AnyRef]], want.asInstanceOf[Array[AnyRef]]))
      problems += s"table has ${got.length} logs, canonical chain has ${want.length} (or contents differ)"
    val idx = rows.map(_.getLong(7)).sorted
    if (!idx.indices.forall(i => idx(i) == i.toLong)) problems += "indx is not dense from 0"
    s.checkpoint() match {
      case Some(h) if h.number == c.head.number && h.hash == c.head.hash => ()
      case other => problems += s"checkpoint $other is not the head ${c.head.number}/${c.head.hash}"
    }
    problems.toSeq
  }

  /** Bytes of every file under `dir`. */
  def bytesUnder(dir: java.io.File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else {
      val files = java.nio.file.Files.walk(dir.toPath)
      try {
        var (n, b) = (0L, 0L)
        files.filter(java.nio.file.Files.isRegularFile(_)).forEach { p =>
          n += 1; b += java.nio.file.Files.size(p)
        }
        (n, b)
      } finally files.close()
    }
}

/** Wires one tracker (stub node, provider, stores, syncer) the way a user
  * would, or, in the traced run, with the benchmark's decorators injected
  * through the syncer's public parameters.
  */
final class TrackerRig(spark: SparkSession, chain: Chain, val root: String,
    tracer: Option[Tracer]) {
  val node = new StubNode(chain)
  val provider: Provider = {
    val p = new HttpRpcProvider(spark, node.endpoint)
    tracer.fold[Provider](p)(new TracedProvider(p, _))
  }
  val txTable = new TxLogTable(spark, root, TrackerChecks.filterConfig.hash)
  val syncer: Syncer = tracer match {
    case None =>
      new Syncer(spark, provider, root, TrackerChecks.filterConfig, transactionalStore = true)
    case Some(t) =>
      val s = new Syncer(spark, provider, root, TrackerChecks.filterConfig,
        storeOverride = Some(new TracedLogStore(txTable, t)),
        kvOverride = Some(new TracedKv(new KvStore(spark, root), t)))
      s.addListener(new TickCounter(t))
      s
  }

  private def traced(body: => Unit): Unit = tracer match {
    case Some(t) => t.span("sync")(body); t.add("sync.steps", 1)
    case None => body
  }

  /** One `sync()` call, traced as the parent of the calls it makes. */
  def sync(): Unit = traced(syncer.sync())

  /** The catch-up path `sync()` takes for everything below the hot
    * window: the AIMD batch loop from the checkpoint up to the head.
    */
  def catchUp(): Unit = traced {
    syncer.batchSync(syncer.checkpoint().map(_.number + 1).getOrElse(0L), node.current.head.number)
  }

  def stop(): Unit = node.stop()
}

/** `tracker`: a tracker that was down catches up, then follows the head.
  * Each pass publishes a gap of blocks with one dense range (it overflows
  * the node's 10,000-log cap, so AIMD batches halve), catches up through
  * the batch loop, then takes head steps and forks. A head step publishes
  * one new block, calls `sync()`, drains the CDC stream and runs one
  * analyst query over the live table; a fork replaces the top blocks and
  * adds a head.
  */
final class TrackerWorkload(seed: Long, work: java.io.File, cfg: TrackerWorkload.Config)
    extends Workload {
  private val rnd = new SplittableRandom(seed ^ 0xf011L)
  private var chain: Chain = Chain.linear(seed, Array(20))
  private var spark: SparkSession = _
  private var rig: TrackerRig = _
  private var query: StreamingQuery = _
  private var setups = 0
  private var tracer: Option[Tracer] = None
  private var nodeBase = (0L, 0L)
  private var stepNo = 0
  private var synced = -1L // highest block the tracker has caught up to
  private var forks = (0L, 0L, 0L) // generated: forks, deepest, logs they retract

  // CDC feed in delivery order: (commit version, change type, indx, row key)
  private val feed = ArrayBuffer.empty[(Long, String, Long, String)]
  private val delivered = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def gap(c: Chain, r: SplittableRandom): Chain =
    Chain.append(c, r, Chain.densities(r, cfg.gapBlocks, 1, cfg.gapBlocks / 3, cfg.denseRaw))

  /** The steps after the catch-up: `heads` head steps and one fork of
    * each depth 1..maxDepth, the depths in seeded order, each fork right
    * after a seeded head step (so the backlog holds enough contiguous
    * headers for reconcile to find the ancestor).
    */
  private def schedule(): Seq[Int] = {
    def shuffled(xs: Seq[Int]): IndexedSeq[Int] = {
      val a = xs.toArray
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
      }
      a.toIndexedSeq
    }
    val depths = shuffled(1 to cfg.maxDepth)
    val after = shuffled(0 until cfg.heads).take(cfg.maxDepth)
    (0 until cfg.heads).flatMap { i =>
      val k = after.indexOf(i)
      if (k < 0) Seq(0) else Seq(0, depths(k))
    }
  }

  /** A tracker on a fresh root: chain guard, CDC stream from the empty
    * table's first commit.
    */
  override def setup(s: SparkSession, t: Option[Tracer]): Unit = {
    spark = s
    setups += 1
    teardown()
    val root = new java.io.File(work, s"tracker-$setups")
    rig = new TrackerRig(s, chain, root.getPath, t)
    tracer = t
    rig.syncer.preSyncCheck()
    synced = -1L
    forks = (0L, 0L, 0L)
    feed.clear(); delivered.clear()
    query = s.readStream.format("graft.stream.TxCdcSourceProvider")
      .option("root", root.getPath).option("filterHash", TrackerChecks.filterConfig.hash)
      .option("startingVersion", 0L)
      .load().writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select("_commit_version", "_change_type", "indx", "block_num", "block_hash",
          "tx_index", "tx_hash", "address", "topics", "data").collect()
        val now = System.nanoTime()
        feed.synchronized {
          rows.foreach { r =>
            feed += ((r.getLong(0), r.getString(1), r.getLong(2), TrackerChecks.key(r.getLong(3),
              r.getString(4), r.getLong(5), r.getString(6), r.getString(7), r.getSeq[String](8),
              r.getString(9))))
            if (r.getString(1) == "insert") delivered.putIfAbsent(r.getString(4), now)
          }
        }
        ()
      }
      .option("checkpointLocation", new java.io.File(work, s"cdc-cp-$setups").getPath)
      // a commit is picked up within 50 ms; polling no faster keeps the
      // idle stream from competing with the sync for the driver's cores
      .trigger(Trigger.ProcessingTime(50L))
      .start()
    query.processAllAvailable()
    nodeBase = (rig.node.calls.get, rig.node.bytes.get)
  }

  private def traced[A](name: String)(f: => A): A = tracer.fold(f)(_.span(name)(f))

  override def pass(r: Recorder): Unit = {
    val t0 = System.nanoTime()
    val behind = gap(chain, rnd)
    val from = synced + 1
    rig.node.publish(behind)
    chain = behind
    traced("catch_up") {
      rig.catchUp()
      query.processAllAvailable()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    r.detail("sync_logs_per_s", behind.countLogs(from, behind.head.number, Chain.filter) / secs)
    schedule().foreach { depth =>
      stepNo += 1
      tracer.foreach(_.step = stepNo)
      val next =
        if (depth == 0) Chain.extend(chain, rnd, cfg.headRaw)
        else {
          forks = (forks._1 + 1, math.max(forks._2, depth), forks._3 +
            chain.countLogs(chain.head.number - depth + 1, chain.head.number, Chain.filter))
          Chain.fork(chain, rnd, depth, cfg.headRaw)
        }
      val s0 = System.nanoTime()
      traced(if (depth == 0) "step.head" else "step.fork") {
        rig.node.publish(next)
        chain = next
        rig.sync()
        traced("cdc.drain")(query.processAllAvailable())
        val at = delivered.get(next.head.hash)
        if (at == null) r.check(s"step $stepNo", Seq(s"head ${next.head.number} never delivered by CDC"))
        else {
          val ms = (at - s0) / 1e6
          if (depth == 0) { r.op(ms); r.sample("head_lag_ms", ms) }
          else r.sample("reorg_settle_ms", ms)
        }
        val f0 = System.nanoTime()
        val lo = next.head.number - cfg.readWindow + 1
        val got = traced("fresh_read") {
          rig.syncer.table.read.where(col("block_num") >= lo)
            .groupBy("address").agg(count(lit(1)).as("n"), max("block_num"))
            .collect().map(_.getLong(1)).sum
        }
        r.sample("fresh_read_ms", (System.nanoTime() - f0) / 1e6)
        val want = next.countLogs(lo, next.head.number, Chain.filter)
        r.check(s"fresh read at step $stepNo",
          if (got == want) Nil else Seq(s"fresh read counted $got logs, chain has $want"))
      }
    }
    synced = chain.head.number
    r.pass((System.nanoTime() - t0) / 1e9)
  }

  /** The end state: the table equals the chain, and replaying the CDC feed
    * from the empty table rebuilds it.
    */
  override def finish(r: Recorder): Unit = {
    r.check("tracker table", TrackerChecks.table(rig.syncer, chain))
    val rebuilt = scala.collection.mutable.Map[Long, String]()
    feed.synchronized {
      feed.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, ch) =>
        ch.filter(_._2 == "delete").foreach { case (_, _, i, k) =>
          if (rebuilt.get(i).contains(k)) rebuilt.remove(i)
          else r.check("cdc replay", Seq(s"delete of indx $i does not match the replayed row"))
        }
        ch.filter(_._2 == "insert").foreach { case (_, _, i, k) => rebuilt(i) = k }
      }
    }
    val table = rig.syncer.table.read.select("indx", "block_num", "block_hash", "tx_index",
      "tx_hash", "address", "topics", "data").collect()
      .map(x => x.getLong(0) -> TrackerChecks.key(x.getLong(1), x.getString(2), x.getLong(3),
        x.getString(4), x.getString(5), x.getSeq[String](6), x.getString(7))).toMap
    r.check("cdc replay rebuilds the table",
      if (rebuilt.toMap == table) Nil else Seq(s"replay has ${rebuilt.size} rows, table ${table.size}"))
    val (_, bytes) = TrackerChecks.bytesUnder(new java.io.File(rig.root))
    r.detail("store_bytes_per_log", bytes.toDouble / table.size)
    tracer.foreach { t =>
      val seen = (t.count("reorg.events").toLong, t.count("reorg.depth_max").toLong,
        t.count("store.truncate.rows").toLong)
      r.check("traced reorgs match the generated forks",
        if (seen == forks) Nil else Seq(s"traced (events, depth, rows) $seen, generated $forks"))
      t.add("rpc.calls", (rig.node.calls.get - nodeBase._1).toDouble)
      t.add("rpc.bytes", (rig.node.bytes.get - nodeBase._2).toDouble)
    }
  }

  override def layout(): (Long, Long, Long) = {
    val (files, bytes) = TrackerChecks.bytesUnder(new java.io.File(rig.root))
    (rig.txTable.version(), files, bytes)
  }

  override def teardown(): Unit = {
    if (query != null) { query.stop(); query = null }
    if (rig != null) { rig.stop(); rig = null }
  }
}

object TrackerWorkload {
  final case class Config(gapBlocks: Int, denseRaw: Int, heads: Int, maxDepth: Int,
      headRaw: Int, readWindow: Int) {
    require(heads >= maxDepth, "one head step before each fork")
  }
}
