package perfbench

/** The per-layer metric catalogue of the traced run. Every traced run
  * reports every name; a layer a workload does not touch reads 0.
  */
object Layers {
  private val Kinds = Seq("item", "run", "batch", "prepare", "delta")

  val units: Seq[(String, String)] = Seq(
    "core.session_build_s" -> "s",
    "catalog.register_s" -> "s",
    "core.persistent_rdds_after_op" -> "count",
    "core.cachebin_pending_after_op" -> "count",
    "dialect.transpile_us_p50" -> "us",
    "dialect.transpile_us_p90" -> "us",
    "dialect.calls" -> "count",
    "exec.stmt_ms_p50" -> "ms",
    "exec.stmt_ms_p90" -> "ms",
    "exec.stmts_per_op" -> "count",
    "exec.errors_per_op" -> "count",
    "exec.rows_collected_per_op" -> "count",
    "exec.analyze_ms_p50" -> "ms",
    "evalx.compare_ms_p50" -> "ms",
    "evalx.compare_ms_max" -> "ms",
    "evalx.compare_calls" -> "count",
    "evalx.quick_reject_ratio" -> "ratio",
    "actors.parse_ms_p50" -> "ms",
    "actors.generate_ms_p50" -> "ms",
    "actors.optimize_ms_p50" -> "ms",
    "llm.calls_per_request" -> "count",
    "llm.repair_calls_per_request" -> "count",
    "llm.ms_per_request" -> "ms",
    "serve.queue_ms_p50" -> "ms",
    "serve.handle_self_ms_p50" -> "ms",
    "serve.batch_exec_ratio" -> "ratio",
    "operators.index_bytes_per_accepted_byte" -> "ratio",
    "operators.index_files_after_delta" -> "count",
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.shuffle_write_bytes_per_op" -> "B",
    "spark.shuffle_read_bytes_per_op" -> "B",
    "spark.spill_bytes_per_op" -> "B",
    "spark.input_bytes_per_op" -> "B",
    "spark.task_run_ms_per_op" -> "ms",
    "spark.sched_delay_ms_per_op" -> "ms",
    "spark.gc_ms_per_op" -> "ms",
    "spark.driver_idle_ms_per_op" -> "ms",
    "spark.unattributed_jobs" -> "count",
    "trace.overhead_p50_ms" -> "ms",
    "trace.overhead_throughput_pct" -> "%") ++
    Kinds.flatMap(k => Seq(s"ops.$k.p50_ms" -> "ms", s"ops.$k.units_per_s" -> "1/s",
      s"spark.jobs_per_op.$k" -> "count"))

  val names: Seq[String] = units.map(_._1)
  def unit(n: String): String = units.toMap.apply(n)

  /** Durations in ms of the spans called `name`. */
  def ms(spans: Seq[Span], name: String): Seq[Double] =
    spans.filter(_.name == name).map(_.nanos / 1e6)

  /** Spark metrics per op over the ops of a traced window (each job
    * already carries its op), plus the driver's idle time: op wall
    * minus the union of its jobs' intervals.
    */
  def spark(ops: Seq[(Long, String, Long, Long)], jobs: Seq[Job]): Map[String, Double] = {
    val byOp = jobs.groupBy(_.op)
    val n = math.max(ops.size, 1).toDouble
    val mine = jobs.filter(j => ops.exists(_._1 == j.op))
    def per(f: Job => Long) = mine.map(f).sum / n
    val idle = ops.map { case (op, _, a, b) =>
      (b - a - Trace.unionNanos(byOp.getOrElse(op, Nil).map(j => (j.start, j.end)), a, b)) / 1e6
    }
    Map(
      "spark.jobs_per_op" -> mine.size / n,
      "spark.stages_per_op" -> per(_.stages.toLong),
      "spark.tasks_per_op" -> per(_.tasks),
      "spark.shuffle_write_bytes_per_op" -> per(_.shuffleWrite),
      "spark.shuffle_read_bytes_per_op" -> per(_.shuffleRead),
      "spark.spill_bytes_per_op" -> per(_.spill),
      "spark.input_bytes_per_op" -> per(_.input),
      "spark.task_run_ms_per_op" -> per(_.runMs),
      "spark.sched_delay_ms_per_op" -> per(_.schedDelayMs),
      "spark.gc_ms_per_op" -> per(_.gcMs),
      "spark.driver_idle_ms_per_op" -> (if (idle.isEmpty) 0.0 else idle.sum / idle.size),
      "spark.unattributed_jobs" -> (jobs.size - mine.size).toDouble
    ) ++ ops.groupBy(_._2).map { case (k, os) =>
      val ids = os.map(_._1).toSet
      s"spark.jobs_per_op.$k" -> jobs.count(j => ids.contains(j.op)) / os.size.toDouble
    }
  }
}
