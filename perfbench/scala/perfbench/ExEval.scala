package perfbench

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.dialect.{SqliteExec, Transpiler}
import graft.evalx.{Evaluator, ExItem, ExOutcome, ExSummary, ResultComparator}
import graft.exec.SqlBackend

/** `Evaluator` whose `evalOne` is timed from outside and tags the
  * item's Spark jobs with its op id.
  */
final class TimedEvaluator(c: Ctx, parallelism: Int, dialect: String)
    extends Evaluator(c.spark, 60, parallelism, dialect) {
  @volatile var sink: Window = _
  override def evalOne(item: ExItem): ExOutcome = {
    val op = Main.opIds.incrementAndGet()
    c.spark.sparkContext.setLocalProperty(Jobs.OpKey, op.toString)
    val t0 = System.nanoTime()
    val out = super.evalOne(item)
    val t1 = System.nanoTime()
    sink.record("item", t1 - t0, 1)
    sink.ops.add((op, "item", t0, t1))
    out
  }
}

/** Batch EX evaluation, shaped like `eval_all` over a split: seeded
  * items, a slice of [[ExEval.Slice]] per dialect, each slice one
  * `evalAll` call on that dialect's `Evaluator`. A window evaluates
  * the four slices in turn, until the deadline and at least once each.
  * Every item must score what its generator says, and every call's
  * `ExSummary` must match the expected one.
  */
final class ExEval extends Workload {
  val primary = "item"
  private var c: Ctx = _
  private var items: Map[String, IndexedSeq[Gen.Item]] = Map.empty
  private var evals: Map[String, TimedEvaluator] = Map.empty
  private var backend: SqlBackend = _
  private val stmts, stmtErrors, rows, compares = new LongAdder

  def setup(ctx: Ctx): Unit = {
    c = ctx
    val par = math.min(5, c.cores)
    items = Gen.exItems(c.seed, ExEval.Slice * Gen.Dialects.size).groupBy(_.dialect)
      .map { case (k, v) => k -> v.toIndexedSeq }
    evals = Gen.Dialects.map(d => d -> new TimedEvaluator(c, par, d)).toMap
    backend = new SqlBackend(c.spark, 60)
  }

  private def check(w: Window, slice: Seq[Gen.Item], outs: Seq[ExOutcome], sum: ExSummary): Unit = {
    slice.zip(outs).foreach { case (it, o) =>
      val ok = o.instanceId == it.id && o.score == it.expected &&
        o.predError.isDefined == it.predError && o.goldError.isDefined == it.expected.isEmpty
      w.check(ok, s"${it.id} (${it.dialect}) score ${o.score} expected ${it.expected}; " +
        s"gold_error ${o.goldError.map(_.take(80))} pred_error ${o.predError.map(_.take(80))}")
    }
    val scored = slice.flatMap(_.expected)
    val want = ExSummary(if (scored.isEmpty) 0.0 else scored.sum.toDouble / scored.size,
      scored.size, slice.size)
    if (sum != want) w.check(ok = false, s"summary $sum expected $want")
  }

  /** One `evalAll` call over the first `n` items of dialect `d`. */
  private def one(w: Window, d: String, traced: Boolean, n: Int = ExEval.Slice): Unit = {
    val slice = items(d).take(n)
    val exItems = slice.map(i => ExItem(i.id, Some(i.gold), Some(i.pred)))
    val (outs, sum) =
      if (traced) replayAll(w, d, exItems)
      else { evals(d).sink = w; evals(d).evalAll(exItems) }
    check(w, slice, outs, sum)
  }

  def warmup(w: Window): Unit = Gen.Dialects.foreach(d => one(w, d, traced = false, n = 2))

  def run(deadlineNs: Long, w: Window, traced: Boolean): Unit = {
    var i = 0
    while (System.nanoTime() < deadlineNs || i < Gen.Dialects.size) {
      one(w, Gen.Dialects(i % Gen.Dialects.size), traced)
      i += 1
    }
  }

  /** `Evaluator.evalAll` replayed layer by layer: the same pool shape,
    * and per item the same steps as `evalOne` (dialect front end inside
    * a governed `runCollectRows`, gold first, then pred, then the
    * comparator), each inside a span.
    */
  private def replayAll(w: Window, dialect: String, xs: Seq[ExItem]): (Seq[ExOutcome], ExSummary) = {
    val pool = Executors.newFixedThreadPool(math.min(5, c.cores))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val res = Await.result(Future.sequence(xs.map(i => Future {
        val op = Main.opIds.incrementAndGet()
        c.spark.sparkContext.setLocalProperty(Jobs.OpKey, op.toString)
        Trace.op(op) {
          val t0 = System.nanoTime()
          val out = Trace.span("evalx.item")(replayOne(dialect, i))
          val t1 = System.nanoTime()
          w.record("item", t1 - t0, 1)
          w.ops.add((op, "item", t0, t1))
          out
        }
      })), Duration.Inf)
      val scored = res.flatMap(_.score)
      (res, ExSummary(if (scored.isEmpty) 0.0 else scored.sum.toDouble / scored.size,
        scored.size, xs.size))
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  private def runSql(dialect: String, sql: String) = Trace.span("exec.stmt") {
    stmts.increment()
    val r = backend.runCollectRows(() =>
      if (dialect == "sqlite") Trace.span("dialect.sqlite_exec")(SqliteExec.sql(c.spark, sql))
      else c.spark.sql(Trace.span("dialect.transpile")(Transpiler.forDialect(dialect)(sql))),
      sql, 60)
    r match {
      case Right(x) => rows.add(x.rows.size)
      case Left(_) => stmtErrors.increment()
    }
    r
  }

  private def replayOne(dialect: String, item: ExItem): ExOutcome = {
    val g = item.goldSql.get.trim
    runSql(dialect, g) match {
      case Left(err) => ExOutcome(item.instanceId, None, Some(err.error), None, err.seconds, 0.0)
      case Right(gr) =>
        runSql(dialect, item.predSql.get.trim) match {
          case Left(err) =>
            ExOutcome(item.instanceId, Some(0), None, Some(err.error), gr.seconds, err.seconds)
          case Right(pr) =>
            compares.increment()
            val score = Trace.span("evalx.compare")(ResultComparator.equivalentRows(
              pr.rows, gr.rows, pr.columns.size, gr.columns.size))
            ExOutcome(item.instanceId, Some(score), None, None, gr.seconds, pr.seconds)
        }
    }
  }

  def layers(w: Window, spans: Seq[Span], jobs: Seq[Job]): Map[String, Double] = {
    val ops = w.ops.toArray(Array.empty[(Long, String, Long, Long)]).toSeq
    val n = math.max(ops.size, 1).toDouble
    val tr = Layers.ms(spans, "dialect.transpile").map(_ * 1000.0)
    val st = Layers.ms(spans, "exec.stmt")
    val cmp = Layers.ms(spans, "evalx.compare")
    Map(
      "dialect.transpile_us_p50" -> Stats.median(tr),
      "dialect.transpile_us_p90" -> Stats.pct(tr, 90),
      "dialect.calls" -> (tr.size + Layers.ms(spans, "dialect.sqlite_exec").size).toDouble,
      "exec.stmt_ms_p50" -> Stats.median(st),
      "exec.stmt_ms_p90" -> Stats.pct(st, 90),
      "exec.stmts_per_op" -> stmts.sum() / n,
      "exec.errors_per_op" -> stmtErrors.sum() / n,
      "exec.rows_collected_per_op" -> rows.sum() / n,
      "evalx.compare_ms_p50" -> Stats.median(cmp),
      "evalx.compare_ms_max" -> (if (cmp.isEmpty) 0.0 else cmp.max),
      "evalx.compare_calls" -> compares.sum().toDouble,
      // share of compares that end in ResultComparator.quickReject:
      // evalOne compares with strictColumns = false, which never takes
      // that short cut, so the replay does not call it either
      "evalx.quick_reject_ratio" -> 0.0
    ) ++ Layers.spark(ops, jobs)
  }
}

object ExEval {
  /** Items per dialect: one `evalAll` call each. */
  val Slice = 20
}
