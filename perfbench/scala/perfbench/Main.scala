package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.{GraftSession, MachineProbe}

/** What one measurement window produced: per-op latencies by op type,
  * work units completed (items, requests or documents) per op type,
  * and the op counts the correctness gates saw.
  */
final class Window {
  val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val units = mutable.Map.empty[String, Long]
  val busyNs = mutable.Map.empty[String, Long]
  val attempted = new LongAdder
  val failed = new LongAdder
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** (op id, op type, start, end) of every op, for job attribution. */
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long, Long)]()
  var wallNs = 0L

  def record(kind: String, ns: Long, work: Long): Unit = synchronized {
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ns / 1e6
    units(kind) = units.getOrElse(kind, 0L) + work
    busyNs(kind) = busyNs.getOrElse(kind, 0L) + ns
  }

  /** Count one attempted op; a failure message marks it failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted.increment()
    if (!ok) { failed.increment(); if (failures.size < 20) failures.add(what) }
  }

  def all(kind: String): Seq[Double] = synchronized(lat.getOrElse(kind, Nil).toSeq)
  def has(kind: String): Boolean = synchronized(lat.contains(kind))
}

/** Context shared by the workloads of one run. */
final case class Ctx(spark: SparkSession, root: String, dataDir: String, seed: Long,
    cores: Int, jobs: Jobs)

/** A workload: set-up work and one warm-up op pass (both timed into
  * `setup_s`), then closed-loop ops until the deadline, and past it
  * until every op type of the workload has run once. `traced` runs the
  * same ops through the span-recording wrappers.
  */
trait Workload {
  def setup(c: Ctx): Unit
  def warmup(w: Window): Unit
  def run(deadlineNs: Long, w: Window, traced: Boolean): Unit
  /** TPC-H table size relative to sf0.1. */
  def scale: Double = 1.0
  /** Primary op type: `p50_ms` is its median latency. */
  def primary: String
  /** Per-layer metrics of a traced window, keyed by metric name. */
  def layers(w: Window, spans: Seq[Span], jobs: Seq[Job]): Map[String, Double]
  /** Untimed, once after set-up: compute what the gates expect; checks
    * made here count as ops of `w`.
    */
  def oracle(w: Window): Unit = ()
  /** Release what `setup` built (servers, pools) before the session stops. */
  def close(): Unit = ()
}

object Main {
  val opIds = new AtomicLong(0)

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val root = arg(args, "--root")
    val wl: Workload = name match {
      case "ex_eval" => new ExEval
      case "serve"   => new Serve
      case "corpus"  => new Corpus
      case other     => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val cores = Runtime.getRuntime.availableProcessors()
    // ambient contention, sampled before this JVM does any work
    val env0 = (MachineProbe.loadAvg(), MachineProbe.siblingJvms(), MachineProbe.memAvailableMb())
    val stat0 = cpuTicks()

    // set-up, timed once and cold, as a process pays it: session build
    // + table registration + the workload's bootstrap + one warm-up op
    // pass outside every measured window. Input generation sits between
    // the session build and registration; it is benchmark work,
    // reported apart as gen_s.
    val dataDir = s"$root/data"
    val t0 = System.nanoTime()
    val spark = GraftSession.build("perfbench", cores)
    val t1 = System.nanoTime()
    Gen.writeTables(spark, dataDir, seed, wl.scale, Gen.documents(seed, Corpus.NDocs))
    val t2 = System.nanoTime()
    graft.catalog.Tables.registerAll(spark, dataDir)
    val t3 = System.nanoTime()
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    val ctx = Ctx(spark, root, dataDir, seed, cores, jobs)
    wl.setup(ctx)
    val t4 = System.nanoTime()
    val warm = new Window
    wl.warmup(warm)
    val t5 = System.nanoTime()
    val (sessionS, genS, registerS, bootS, warmS) =
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9, (t5 - t4) / 1e9)
    val setupS = sessionS + registerS + bootS + warmS
    val to = System.nanoTime()
    wl.oracle(warm)
    val oracleS = (System.nanoTime() - to) / 1e9
    if (warm.failed.sum() > 0)
      System.err.println(s"[perfbench] warm-up failures: ${warm.failures}")

    val untraced = new Window
    val traced = new Window
    val window = if (trace) seconds / 2 else seconds
    def measure(w: Window, t: Boolean): Unit = {
      Trace.enabled = t
      Trace.reset()
      ctx.jobs.reset()
      val t0 = System.nanoTime()
      wl.run(t0 + (window * 1e9).toLong, w, t)
      w.wallNs = System.nanoTime() - t0
      Trace.enabled = false
    }
    measure(untraced, t = false)
    var layerMetrics = Map.empty[String, Double]
    if (trace) {
      measure(traced, t = true)
      // let the listener bus deliver the last job ends
      Thread.sleep(300)
      layerMetrics = wl.layers(traced, Trace.all, ctx.jobs.finished)
    }
    graft.core.CacheBin.drain(blocking = true)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    // repeated: the context cleaner frees broadcast and shuffle state
    // only after a collection finds it unreachable
    for (_ <- 0 until 2) { System.gc(); Thread.sleep(200) }
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    val env1 = (MachineProbe.loadAvg(), MachineProbe.siblingJvms(), MachineProbe.memAvailableMb())
    val stat1 = cpuTicks()
    // share of the machine's CPU time the hypervisor gave elsewhere
    val stealPct = if (stat1._1 > stat0._1) 100.0 * (stat1._2 - stat0._2) / (stat1._1 - stat0._1) else 0.0
    wl.close()

    val prim = untraced.all(wl.primary)
    val thr = untraced.units.values.sum / (untraced.wallNs / 1e9)
    val attempted = untraced.attempted.sum() + traced.attempted.sum() + warm.attempted.sum()
    val failed = untraced.failed.sum() + traced.failed.sum() + warm.failed.sum()
    val contended = env0._2 > 0 || env0._1 > cores * 1.5 || stealPct > 5.0
    // detail line (not the result line): sample counts, tails, the
    // split by op type, the run environment
    val detail = new StringBuilder("{\"detail\": {")
    def kv(k: String, v: Any): Unit = {
      if (detail.last != '{') detail ++= ", "
      detail ++= s"\"$k\": " + (v match {
        case s: String => "\"" + s.replace("\"", "'") + "\""
        case d: Double => f"$d%.6g"
        case o => o.toString
      })
    }
    kv("workload", name); kv("seed", seed); kv("seconds", seconds)
    kv("session_s", sessionS); kv("gen_s", genS); kv("register_s", registerS)
    kv("bootstrap_s", bootS); kv("warmup_s", warmS); kv("oracle_s", oracleS)
    untraced.lat.keys.toSeq.sorted.foreach { k =>
      val xs = untraced.all(k)
      kv(s"$k.n", xs.size); kv(s"$k.p50_ms", Stats.median(xs))
      Stats.tailPercentile(xs.size).foreach(p => kv(s"$k.p${p}_ms", Stats.pct(xs, p)))
      kv(s"$k.units_per_busy_s", untraced.units(k) / (untraced.busyNs(k) / 1e9))
      kv(s"$k.lat_ms", xs.map(x => f"$x%.0f").mkString(" "))
    }
    kv("persistent_rdds_at_end", persisted)
    kv("nproc", cores); kv("jvm", System.getProperty("java.version")); kv("spark", spark.version)
    kv("load_avg_start", env0._1); kv("sibling_jvms_start", env0._2); kv("mem_available_mb_start", env0._3)
    kv("load_avg_end", env1._1); kv("sibling_jvms_end", env1._2); kv("mem_available_mb_end", env1._3)
    kv("steal_pct", stealPct); kv("contended", contended)
    if (trace) {
      val tp = traced.all(wl.primary)
      kv("traced_p50_ms", Stats.median(tp))
      // self time per span name, largest first
      val spans = Trace.all
      val kids = spans.groupBy(_.parent)
      spans.groupBy(_.name).map { case (n, ss) =>
        n -> ss.map(s => Trace.selfNanos(s, kids.getOrElse(s.id, Nil))).sum / 1e6
      }.toSeq.sortBy(-_._2).foreach { case (n, ms) => kv(s"self_ms.$n", ms) }
      kv("trace_overhead_p50_ms", Stats.median(tp) - Stats.median(prim))
    }
    kv("failures", (warm.failures.toArray ++ untraced.failures.toArray ++ traced.failures.toArray).mkString(" | "))
    detail ++= "}}"
    println(detail.toString)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("throughput_per_s", thr, "1/s"),
        ("p50_ms", Stats.median(prim), "ms"),
        ("live_heap_mb", heapMb, "MB"))
      else {
        val base = Map(
          "core.session_build_s" -> sessionS,
          "catalog.register_s" -> registerS,
          "trace.overhead_p50_ms" -> (Stats.median(traced.all(wl.primary)) - Stats.median(prim)),
          "trace.overhead_throughput_pct" -> {
            val tt = traced.units.values.sum / (traced.wallNs / 1e9)
            if (thr > 0) 100.0 * (thr - tt) / thr else 0.0
          })
        val byKind = untraced.lat.keys.flatMap(k => Seq(
          s"ops.$k.p50_ms" -> Stats.median(untraced.all(k)),
          s"ops.$k.units_per_s" -> untraced.units(k) / (untraced.busyNs(k) / 1e9)))
        val all = Layers.names.map(n => n -> 0.0).toMap ++ base ++ byKind ++ layerMetrics
        Layers.names.map(n => (n, all(n), Layers.unit(n)))
      }
    val ok = failed == 0 && prim.nonEmpty
    val m = metrics.map { case (k, v, u) => s"\"$k\": {\"value\": ${fmt(v)}, \"unit\": \"$u\"}" }
      .mkString(", ")
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {$m}}""")
    spark.stop()
    // exit explicitly: idle pool threads of the serving server would
    // otherwise keep the JVM alive for their keep-alive time
    sys.exit(if (ok) 0 else 1)
  }

  /** (total, steal) jiffies of the machine, from /proc/stat. */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
