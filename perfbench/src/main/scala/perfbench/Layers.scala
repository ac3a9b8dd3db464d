package perfbench

/** Per-layer metrics of one traced pass. Each is reported for every
  * workload; a layer the workload does not reach reads 0. */
object Layers {
  private val MB = 1048576.0

  def metrics(w: Workload, t: PassRecord, overheadS: Double,
      failFrac: Double): Seq[(String, Double, String)] = {
    val p = t.pass
    val ls = t.listeners.get
    val self = t.tracer.selfSeconds
    val c = ls.tasks.total
    def jobs(prefix: String): Double = ls.tasks.bySpan.collect {
      case (n, k) if n.startsWith(prefix + ".") => k.jobs }.sum.toDouble
    val s = (n: String) => self.getOrElse(n, 0.0)

    val registry = Workloads.layers.flatMap { l => Seq(
      (s"$l.build_s", s(s"$l.build"), "s"),
      (s"$l.exec_s", s(s"$l.exec"), "s"),
      (s"$l.jobs", jobs(l), "count")) }

    val plans = ls.plans
    val catalyst = Seq("analysis", "optimization", "planning").map(ph =>
      (s"catalyst.${ph}_s", plans.phaseMs(ph) / 1e3, "s"))
    val shape = Seq(
      ("plan.nodes", plans.nodes.toDouble, "count"),
      ("plan.exchanges", plans.exchanges.toDouble, "count"),
      ("plan.broadcasts", plans.broadcasts.toDouble, "count"),
      ("plan.sorts", plans.sorts.toDouble, "count"),
      ("plan.graft_nodes", plans.graftNodes.toDouble, "count"))

    val runtime = Seq(
      ("spark.jobs", c.jobs.toDouble, "count"),
      ("spark.stages", c.stages.toDouble, "count"),
      ("spark.tasks", c.tasks.toDouble, "count"),
      ("spark.failed_tasks", c.failedTasks.toDouble, "count"),
      ("spark.task_s", c.taskMs / 1e3, "s"),
      ("spark.task_cpu_s", c.cpuNs / 1e9, "s"),
      ("spark.gc_s", c.gcMs / 1e3, "s"),
      ("spark.task_wait_s", c.waitMs / 1e3, "s"),
      ("spark.busy_ratio", c.taskMs / 1e3 / (p.seconds * Session.cores), "ratio"),
      ("shuffle.write_mb", c.shuffleWrite / MB, "MB"),
      ("shuffle.read_mb", c.shuffleRead / MB, "MB"),
      ("shuffle.fetch_wait_s", c.fetchWaitMs / 1e3, "s"),
      ("spill.disk_mb", c.spillDisk / MB, "MB"),
      ("spill.mem_mb", c.spillMem / MB, "MB"),
      ("mem.peak_exec_mb", c.peakExec / MB, "MB"),
      ("io.input_mb", c.inBytes / MB, "MB"),
      ("io.input_rows", c.inRows.toDouble, "rows"),
      ("io.output_mb", c.outBytes / MB, "MB"),
      ("cache.persisted_rdds_left", t.cache.persistedLeft.toDouble, "count"),
      ("cache.storage_mb", t.cache.storageMaxBytes / MB, "MB"))

    val mlx = Seq("ingest", "prepare", "featurize", "select", "train").map(st =>
      (s"mlx.${st}_s", s(s"mlx.$st"), "s"))

    val triggers = p.latencies.filter(_._1.startsWith("trigger_")).map(_._2)
    val inputBytes = w match {
      case sw: StreamWorkload => sw.inputTextBytes.toDouble
      case _ => 0.0
    }
    val written = ls.tasks.bySpan.get("stream.trigger").map(_.outBytes).getOrElse(0L)
    def perInput(bytes: Double): Double = if (inputBytes > 0) bytes / inputBytes else 0.0
    val stream = Seq(
      ("stream.trigger_first_s", triggers.headOption.getOrElse(0.0), "s"),
      ("stream.trigger_last_s", triggers.lastOption.getOrElse(0.0), "s"),
      ("stream.bytes_written_mb", written / MB, "MB"),
      ("stream.write_amp", perInput(written.toDouble), "ratio"),
      ("stream.state_mb", t.storedBytes / MB, "MB"),
      ("stream.stored_bytes_per_input_byte", perInput(t.storedBytes.toDouble), "ratio"),
      ("stream.manifest_s", s("stream.manifest"), "s"))

    val overhead = Seq(
      ("trace.pass_s", p.seconds, "s"),
      ("trace.overhead_s", overheadS, "s"),
      ("ops.fail_frac", failFrac, "frac"))

    registry ++ catalyst ++ shape ++ runtime ++ mlx ++ stream ++ overhead
  }
}
