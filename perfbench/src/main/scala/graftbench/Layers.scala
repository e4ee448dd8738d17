package graftbench

/** The traced run's per-layer metrics. Counts and times are per pass of
  * the workload's fixed work; a layer the workload does not use reads 0.
  */
object Layers {
  /** The module groups of the query mix, as named in `queries.tsv`. */
  val queryGroups: Seq[String] =
    Seq("queries.parity", "queries.capability", "ext.dedup", "ext.similarity", "ext.text")

  def metrics(t: Tracer, e: EngineListener, st: StreamTotals,
      layout: (Long, Long, Long), passes: Double, rec: Recorder, wallS: Double,
      cores: Int, steal: Double, busy: Double): Seq[(String, Double, String)] = {
    val p = math.max(1.0, passes)
    def per(v: Double): Double = v / p
    def ms(prefix: String): Double = per(t.totalMs(_.startsWith(prefix)))
    val attempts = t.count("rpc.getLogs.range")
    val batches = t.count("aimd.batches")
    val taskMs = e.sum(_.taskMs).toDouble
    val groups = queryGroups.flatMap { g =>
      val wall = t.totalMs(_.startsWith(s"query.$g."))
      val task = e.sum(_.taskMs, _ == g).toDouble
      Seq((s"$g.s", per(wall) / 1000.0, "s"),
        (s"$g.jobs", per(e.sum(_.jobs, _ == g).toDouble), "count"),
        (s"$g.task_ms", per(task), "ms"),
        (s"$g.floor_ms", per(wall - task / cores), "ms"))
    }
    Seq(
      ("sync.rpc.calls", per(t.count("rpc.calls")), "count"),
      ("sync.rpc.ms", ms("rpc."), "ms"),
      ("sync.rpc.bytes", per(t.count("rpc.bytes")), "B"),
      ("sync.rpc.overflows", per(t.count("rpc.overflows")), "count"),
      ("sync.aimd.batches", per(batches), "count"),
      ("sync.aimd.halvings", per(t.count("rpc.overflows")), "count"),
      ("sync.aimd.useful_ratio", if (attempts > 0) batches / attempts else 0.0, "1"),
      ("sync.steps", per(t.count("sync.steps")), "count"),
      ("sync.self_ms", per(t.selfMs(_.name == "sync")), "ms"),
      ("sync.self_ms.fork", per(t.selfMs(s => s.name == "sync" && t.parentName(s).contains("step.fork"))), "ms"),
      ("reorg.events", per(t.count("reorg.events")), "count"),
      ("reorg.depth_max", t.count("reorg.depth_max"), "count"),
      ("reorg.retracted_rows", per(t.count("store.truncate.rows")), "count"),
      ("store.append.calls", per(t.count("store.append.calls")), "count"),
      ("store.append.ms", ms("store.append"), "ms"),
      ("store.append.rows", per(t.count("store.append.rows")), "count"),
      ("store.truncate.calls", per(t.count("store.truncate.calls")), "count"),
      ("store.truncate.ms", ms("store.truncate"), "ms"),
      ("store.truncate.rows", per(t.count("store.truncate.rows")), "count"),
      ("store.kv.calls", per(t.all.count(_.name.startsWith("kv.")).toDouble), "count"),
      ("store.kv.ms", ms("kv."), "ms"),
      ("store.commits", layout._1.toDouble, "count"),
      ("store.files", layout._2.toDouble, "count"),
      ("store.bytes", layout._3.toDouble, "B"),
      ("stream.cdc.batches", per(st.batches.toDouble), "count"),
      ("stream.cdc.rows", per(st.rows.toDouble), "count"),
      ("stream.cdc.ms", per(st.triggerMs.toDouble), "ms"),
      ("stream.cdc.latest_offset_ms", per(st.latestOffsetMs.toDouble), "ms"),
      ("stream.cdc.plan_ms", per(st.planMs.toDouble), "ms"),
      ("stream.cdc.add_batch_ms", per(st.addBatchMs.toDouble), "ms"),
      ("stream.cdc.wal_ms", per(st.walMs.toDouble), "ms")
    ) ++ groups ++ Seq(
      ("spark.jobs", per(e.sum(_.jobs).toDouble), "count"),
      ("spark.jobs_per_step", e.sum(_.jobs).toDouble / math.max(1, rec.opMs.length), "count"),
      ("spark.stages", per(e.sum(_.stages).toDouble), "count"),
      ("spark.tasks", per(e.sum(_.tasks).toDouble), "count"),
      ("spark.task_ms", per(taskMs), "ms"),
      ("spark.gc_ms", per(e.sum(_.gcMs).toDouble), "ms"),
      ("spark.floor_ms", per(wallS * 1000.0 - taskMs / cores), "ms"),
      ("spark.input_bytes", per(e.sum(_.inputBytes).toDouble), "B"),
      ("spark.shuffle_read_bytes", per(e.sum(_.shuffleReadBytes).toDouble), "B"),
      ("spark.shuffle_write_bytes", per(e.sum(_.shuffleWriteBytes).toDouble), "B"),
      ("spark.spill_bytes", per(e.sum(_.spillBytes).toDouble), "B"),
      ("host.steal_pct", steal, "%"),
      ("host.busy_pct", busy, "%"))
  }
}
