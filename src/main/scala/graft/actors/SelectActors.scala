package graft.actors

import org.apache.spark.sql.SparkSession

import graft.exec.SqlBackend
import graft.llm.LlmClient
import graft.operators.FastExecSelect

/** Candidate-selection family (reference `core/actor/selector`): pick
  * one SQL of N candidates. Execution evidence always comes from real
  * Spark runs; LLM adjudication is driver-side and mockable.
  */
object SelectActors {

  /** OpenSearch-SQL selection (`OpenSearchSQLSelect.py:9-128`):
    * concurrent execution → majority vote over rendered result strings
    * → optional LLM vote among the tied leaders.
    */
  def majorityVote(spark: SparkSession, candidates: Seq[String],
      llm: Option[LlmClient] = None, timeoutSec: Int = 60,
      parallelism: Int = 5): Option[String] = {
    if (candidates.isEmpty) return None
    val backend = new SqlBackend(spark, timeoutSec)
    val rendered = graft.util.Par.mapBounded(candidates, parallelism)(c =>
      c -> backend.runToString(c))
    val ok = rendered.filterNot(_._2.startsWith("Execution error:"))
    if (ok.isEmpty) return None
    val groups = ok.groupBy(_._2).values.toSeq
    val maxSize = groups.map(_.size).max
    val leaders = groups.filter(_.size == maxSize)
      .map(_.head._1).sortBy(candidates.indexOf)
    if (leaders.length == 1 || llm.isEmpty) Some(leaders.head)
    else {
      val verdict = llm.get.complete(
        "Pick the best SQL by index:\n" +
          leaders.zipWithIndex.map { case (s, i) => s"$i: $s" }.mkString("\n"))
      val idx = verdict.trim.takeWhile(_.isDigit)
      Some(if (idx.nonEmpty && idx.toInt < leaders.length) leaders(idx.toInt) else leaders.head)
    }
  }

  /** Chase selection (`ChaseSelect.py:14-400`): execute + group by
    * result-equivalence (distributed fingerprints), then a pairwise LLM
    * comparison tournament between group REPRESENTATIVES — the LLM sees
    * one member per distinct result, never the whole pool.
    */
  def chaseTournament(spark: SparkSession, llm: LlmClient,
      question: String, candidates: Seq[String],
      timeoutSec: Int = 60): Option[String] = {
    val execs = FastExecSelect.execCandidates(spark, candidates, timeoutSec)
    val ok = execs.filter(e => e.error.isEmpty && e.fingerprint.isDefined)
    if (ok.isEmpty) return None
    val reps = ok.groupBy(_.fingerprint.get).values.toSeq
      .map(g => g.minBy(_.index)).sortBy(_.index)
    var champion = reps.head
    reps.tail.foreach { challenger =>
      val verdict = llm.complete(
        s"Question: $question\nSQL A: ${champion.sql}\nSQL B: ${challenger.sql}\n" +
          "Which answers the question correctly? Reply A or B.")
      if (verdict.trim.toUpperCase.startsWith("B")) champion = challenger
    }
    Some(champion.sql)
  }

  /** CHESS selection (`CHESSSelect.py:28-449`): LLM writes unit-test
    * predicates, each candidate is scored by how many tests its
    * EXECUTED result satisfies (the test evaluation here is an LLM call
    * over the rendered result — the reference's shape), best wins.
    */
  def chessUnitTests(spark: SparkSession, llm: LlmClient, question: String,
      candidates: Seq[String], nTests: Int = 3, timeoutSec: Int = 60): Option[String] = {
    if (candidates.isEmpty) return None
    val backend = new SqlBackend(spark, timeoutSec)
    val tests = graft.text.SqlText.parseList(llm.complete(
      s"Write $nTests short checks for a correct answer to: $question\n[...]"))
    if (tests.isEmpty) return majorityVote(spark, candidates, Some(llm), timeoutSec)
    val scored = candidates.map { c =>
      val result = backend.runToString(c)
      if (result.startsWith("Execution error:")) c -> -1
      else c -> tests.count { t =>
        llm.complete(s"Does this result satisfy '$t'?\n$result\nReply yes or no.")
          .trim.toLowerCase.startsWith("y")
      }
    }
    scored.sortBy { case (c, s) => (-s, candidates.indexOf(c)) }.headOption
      .filter(_._2 >= 0).map(_._1)
  }

  /** Agent-debate selection (`AgentDebateSelect.py:59-521`): proposers
    * argue for their candidate over `rounds`, a judge issues the final
    * verdict; execution evidence (rendered results) is included.
    */
  def agentDebate(spark: SparkSession, llm: LlmClient, question: String,
      candidates: Seq[String], rounds: Int = 2, timeoutSec: Int = 60): Option[String] = {
    if (candidates.isEmpty) return None
    val backend = new SqlBackend(spark, timeoutSec)
    val evidence = candidates.map(c => c -> backend.runToString(c))
    var transcript = ""
    (1 to rounds).foreach { round =>
      evidence.zipWithIndex.foreach { case ((sql, res), i) =>
        transcript += s"\n[round $round, proposer $i] " + llm.complete(
          s"Argue briefly that this SQL answers '$question'.\nSQL: $sql\nResult: $res")
      }
    }
    val verdict = llm.complete(
      s"Question: $question\nDebate:$transcript\n" +
        s"Reply with the index (0-${candidates.length - 1}) of the winning SQL.")
    val idx = verdict.trim.takeWhile(_.isDigit)
    Some(if (idx.nonEmpty && idx.toInt < candidates.length) candidates(idx.toInt)
    else candidates.head)
  }
}

/** Single-record serving handler (reference `app/run.py` +
  * `app/evaluation_helper.py:44-186`): a long-lived session answers one
  * question record at a time — run the pipeline under a task cap, run +
  * compare SQL under an eval cap, never throw.
  */
final class Serving(spark: SparkSession,
    pipeline: Actor,
    taskTimeoutSec: Int = 1200, sqlTimeoutSec: Int = 150,
    dialect: String = "spark") {

  private val evaluator =
    new graft.evalx.Evaluator(spark, sqlTimeoutSec, parallelism = 2, dialect)

  /** Handle one record: run the actor pipeline for the single row, then
    * (if a gold label exists) score EX. Returns (pred_sql, score).
    */
  def handle(instanceId: String, question: String,
      goldSql: Option[String] = None): Either[String, (String, Option[Int])] = {
    import spark.implicits._
    // the pipeline runs on a dedicated thread inside a job group: a
    // timeout CANCELS the group's active Spark jobs (as SqlBackend
    // does) AND interrupts the thread, so driver-side actor loops that
    // treat a cancelled job as an error VALUE (SqlBackend returns
    // ExecErr) cannot keep submitting fresh jobs afterwards —
    // InterruptedException is fatal to the worker by design.
    val group = s"graft-serve-${java.util.UUID.randomUUID()}"
    try {
      val one = Seq((instanceId, question)).toDF("instance_id", "question")
      @volatile var outcome:
          Either[Throwable, Array[org.apache.spark.sql.Row]] = null
      val worker = new Thread(() => {
        spark.sparkContext.setJobGroup(group,
          s"serving $instanceId".take(200), interruptOnCancel = true)
        try outcome = Right(Actor.applyMerged(pipeline, one).collect())
        catch { case e: Throwable => outcome = Left(e) }
        finally spark.sparkContext.clearJobGroup()
      }, s"graft-serve-worker")
      worker.setDaemon(true)
      worker.start()
      // join(0) waits forever — clamp so taskTimeoutSec <= 0 cannot
      // silently disable governance (same guard as SqlBackend.governed)
      val effTimeoutSec = math.max(1, taskTimeoutSec)
      worker.join(effTimeoutSec * 1000L)
      if (worker.isAlive) {
        spark.sparkContext.cancelJobGroup(group)
        worker.interrupt()
        return Left(s"timeout after ${effTimeoutSec}s")
      }
      val rows = outcome match {
        case Right(r) => r
        case Left(e)  => throw e
        case null     => throw new IllegalStateException("worker died silently")
      }
      val row = rows.headOption.toRight("pipeline produced no row")
      row.map { r =>
        val idx = r.schema.fieldNames.indexOf("pred_sql")
        val pred = if (idx >= 0 && !r.isNullAt(idx)) r.getString(idx) else ""
        val score = goldSql.map { g =>
          evaluator.evalOne(graft.evalx.ExItem(instanceId, Some(g), Some(pred))).score
        }.flatten
        (pred, score)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }
  }
}
