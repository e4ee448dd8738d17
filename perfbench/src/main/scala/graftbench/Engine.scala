package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-group Spark engine totals, filled from listener events. */
final class EngineTotals {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskMs = 0L
  @volatile var gcMs = 0L
  @volatile var inputBytes = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
}

/** Engine-side counters for the traced run. Work is attributed to the
  * benchmark's current group through the `graftbench.group` local property
  * the benchmark's main thread sets before it calls into graft; jobs started by other
  * threads (the CDC stream) fall into the group "stream".
  */
final class EngineListener extends SparkListener {
  val groups = new ConcurrentHashMap[String, EngineTotals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def of(g: String): EngineTotals = groups.computeIfAbsent(g, _ => new EngineTotals)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(EngineListener.groupKey))).getOrElse("stream")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    of(g).jobs += 1
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageGroup.getOrDefault(e.stageInfo.stageId, "stream")).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = of(stageGroup.getOrDefault(e.stageId, "stream"))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.taskMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def sum(f: EngineTotals => Long, only: String => Boolean = _ => true): Long = {
    var s = 0L
    groups.forEach((g, t) => if (only(g)) s += f(t))
    s
  }
}

object EngineListener {
  val groupKey = "graftbench.group"
}

/** Streaming progress of the CDC query, summed over micro-batches. */
final class StreamTotals extends StreamingQueryListener {
  @volatile var batches = 0L
  @volatile var rows = 0L
  @volatile var triggerMs = 0L
  @volatile var latestOffsetMs = 0L
  @volatile var planMs = 0L
  @volatile var addBatchMs = 0L
  @volatile var walMs = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      batches += 1
      rows += p.numInputRows
      triggerMs += ms("triggerExecution")
      latestOffsetMs += ms("latestOffset")
      planMs += ms("queryPlanning")
      addBatchMs += ms("addBatch")
      walMs += ms("walCommit")
    }
  }
}

/** CPU accounting from /proc/stat: the share of time the host gave to
  * other guests (steal) and the share it was busy, between two readings.
  */
final case class CpuStat(total: Long, idle: Long, steal: Long) {
  def since(a: CpuStat): (Double, Double) = {
    val dt = math.max(1L, total - a.total)
    (100.0 * (steal - a.steal) / dt, 100.0 * (dt - (idle - a.idle)) / dt)
  }
}

object CpuStat {
  def read(): CpuStat = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      val total = f.take(8).sum
      CpuStat(total, f(3) + f(4), f(7))
    } finally src.close()
  }
}
