package graft.evalx

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.exec.{ExecErr, ExecOk, ExecResult, SqlBackend}

/** One EX evaluation item: gold label SQL vs predicted SQL. */
final case class ExItem(instanceId: String, goldSql: Option[String], predSql: Option[String])

/** Per-item outcome. `score` is None when the item is excluded from the
  * denominator (gold missing/failed — reference semantics), Some(0/1)
  * otherwise.
  */
final case class ExOutcome(
    instanceId: String,
    score: Option[Int],
    goldError: Option[String],
    predError: Option[String],
    goldSecs: Double,
    predSecs: Double)

/** eval_all-style aggregate: avg over scored items, valid/total counts. */
final case class ExSummary(avg: Double, validNum: Int, totalItems: Int)

/** Pass@n aggregate over n generation replicas. */
final case class PassAtN(
    passRate: Double, passedQuestions: Int, validQuestions: Int, totalQuestions: Int)

/** End-to-end execute-accuracy (EX) evaluation — the reference's core
  * product metric (`core/evaluate.py:254-303` per item,
  * `core/evaluate.py:58-117` aggregate):
  *
  *  - gold SQL missing or failing  → item excluded (None)
  *  - pred SQL missing or failing  → 0
  *  - both execute                 → `ResultComparator` equivalence
  *    (bipartite distinct-column matching, 1e-2 tolerance, NA==NA;
  *    ordered rows by default, as the reference's compare defaults)
  *  - per-item wall-clock cap (reference: 60 s `func_timeout`) enforced
  *    via the backend's job-group cancel.
  *
  * Items run through a bounded driver-side pool (the reference's
  * ThreadPoolExecutor ≤5) — each SQL is a distributed Spark job, so the
  * pool bounds concurrent *jobs*, not work.
  */
class Evaluator(spark: SparkSession, timeoutSec: Int = 60, parallelism: Int = 5,
    dialect: String = "spark") {

  private val backend = new SqlBackend(spark, timeoutSec)

  private def transpiled(sql: String): String =
    graft.dialect.Transpiler.forDialect(dialect)(sql)

  /** Dialect-routed execution: sqlite benchmarks (spider/bird families)
    * go through `SqliteExec.sql` — lexical transpile PLUS the
    * type-aware integer-division plan rewrite, neither of which plain
    * transpile can express; Spider2-snow / Spider2-BQ gold SQL gets
    * the Snowflake / BigQuery arm; everything else the shared rewrite.
    */
  private def runSql(sql: String): Either[graft.exec.ExecErr, graft.exec.ExecRows] =
    if (dialect == "sqlite")
      backend.runCollectRows(() => graft.dialect.SqliteExec.sql(spark, sql), sql, timeoutSec)
    else backend.runCollectRows(() => spark.sql(transpiled(sql)), sql, timeoutSec)

  def evalOne(item: ExItem): ExOutcome = {
    val gold = item.goldSql.map(_.trim).filter(_.nonEmpty)
    val pred = item.predSql.map(_.trim).filter(_.nonEmpty)
    gold match {
      case None => ExOutcome(item.instanceId, None, Some("gold sql missing"), None, 0.0, 0.0)
      case Some(g) =>
        runSql(g) match {
          case Left(err) =>
            ExOutcome(item.instanceId, None, Some(err.error), None, err.seconds, 0.0)
          case Right(gr) =>
            pred match {
              case None =>
                ExOutcome(item.instanceId, Some(0), None, Some("pred sql missing"), gr.seconds, 0.0)
              case Some(p) =>
                runSql(p) match {
                  case Left(err) =>
                    ExOutcome(item.instanceId, Some(0), None, Some(err.error), gr.seconds, err.seconds)
                  case Right(pr) =>
                    // compare the rows the watchdog saw — each query
                    // executes exactly once, inside its timeout scope
                    val score = ResultComparator.equivalentRows(
                      pr.rows, gr.rows, pr.columns.size, gr.columns.size)
                    ExOutcome(item.instanceId, Some(score), None, None, gr.seconds, pr.seconds)
                }
            }
        }
    }
  }

  def evalAll(items: Seq[ExItem]): (Seq[ExOutcome], ExSummary) = {
    val res = graft.util.Par.mapBounded(items, parallelism)(evalOne)
    val scored = res.flatMap(_.score)
    val avg = if (scored.isEmpty) 0.0 else scored.sum.toDouble / scored.size
    (res, ExSummary(avg, scored.size, items.size))
  }

  /** Pass@n over n generation replicas (the reference's reproduction
    * harness aggregate, `reproduce/eval_utils.py:60-96`): replicas
    * align by question index; a question is VALID when at least one
    * replica has a scorable item (its gold executes), and PASSES when
    * at least one replica achieves EX = 1. Score = passed / valid.
    */
  def passAtN(replicas: Seq[Seq[ExItem]]): PassAtN = {
    require(replicas.nonEmpty, "need at least one replica")
    val n = replicas.head.length
    require(replicas.forall(_.length == n), "replicas must align by question index")
    val outcomes = replicas.map(r => evalAll(r)._1)
    val perQuestion = (0 until n).map(i => outcomes.map(_(i)))
    val valid = perQuestion.count(_.exists(_.score.isDefined))
    val passed = perQuestion.count(_.exists(_.score.contains(1)))
    PassAtN(if (valid > 0) passed.toDouble / valid else 0.0, passed, valid, n)
  }

  /** DataFrame front door: items (instance_id, gold_sql, pred_sql) →
    * (instance_id, score, gold_error, pred_error). Benchmark item sets
    * are driver-sized (each row triggers distributed jobs — the row
    * count is the number of *queries*, not data volume).
    */
  def evalDataFrame(items: DataFrame): DataFrame = {
    val rows = items.select("instance_id", "gold_sql", "pred_sql").collect().map { r =>
      ExItem(r.getString(0), Option(r.getString(1)), Option(r.getString(2)))
    }
    val (outcomes, _) = evalAll(rows.toSeq)
    val schema = StructType(Seq(
      StructField("instance_id", StringType, nullable = false),
      StructField("score", IntegerType, nullable = true),
      StructField("gold_error", StringType, nullable = true),
      StructField("pred_error", StringType, nullable = true)))
    val out = outcomes.map(o => Row(
      o.instanceId, o.score.map(Int.box).orNull,
      o.goldError.orNull, o.predError.orNull))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), schema)
  }
}
