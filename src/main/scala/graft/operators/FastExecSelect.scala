package graft.operators

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.evalx.ResultComparator
import graft.exec.{ExecErr, ExecOk, SqlBackend}

/** Candidate selection by execution — the reference's `FastExecSelector`
  * (`core/actor/selector/FastExecSelect.py:104-192`): execute N candidate
  * SQLs, group by result-equivalence, pick the fastest member of the
  * largest group (all-distinct degenerates to fastest overall).
  *
  * Differences from the reference, by design:
  *  - results are never collected: equivalence keys are the distributed
  *    commutative column fingerprints (order-insensitive, 1e-2-rounded,
  *    column-NAME-insensitive via sorted multiset), so candidate results
  *    can be arbitrarily large;
  *  - grouping uses symmetric fingerprint equality — a true equivalence
  *    relation — where the reference's asymmetric subset-column compare
  *    can produce order-dependent groupings.
  */
object FastExecSelect {

  final case class CandidateExec(
      index: Int,
      sql: String,
      seconds: Double,
      error: Option[String],
      fingerprint: Option[Seq[Long]])

  final case class Selection(
      index: Int,
      sql: String,
      seconds: Double,
      groupIndices: Seq[Int],
      groupSize: Int)

  /** Execute all candidates (bounded driver pool — each is a distributed
    * job) and fingerprint their results.
    *
    * Deadline posture: each candidate is individually bounded by the
    * backend's `timeoutSec` job-group cancel, and the outer await adds
    * a belt-and-braces ceiling of `timeoutSec × ceil(n/parallelism) +
    * timeoutSec` — if a backend timeout ever failed to fire (e.g. a
    * source that blocks before any job starts), the selector still
    * returns instead of wedging the caller forever. On outer expiry
    * every unfinished candidate is reported as timed out.
    */
  def execCandidates(spark: SparkSession, sqls: Seq[String],
      timeoutSec: Int = 60, parallelism: Int = 5): Seq[CandidateExec] = {
    val backend = new SqlBackend(spark, timeoutSec)
    // its own pool, not `graft.util.Par.mapBounded`: the outer deadline
    // below needs the futures themselves to report partial results
    val pool = Executors.newFixedThreadPool(math.max(parallelism, 1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = sqls.zipWithIndex.map { case (sql, i) =>
        Future {
          val t0 = System.nanoTime()
          backend.run(graft.dialect.Transpiler.transpile(sql)) match {
            case ExecOk(df, _) =>
              try {
                val fp = ResultComparator.columnFingerprints(df).values.toSeq.sorted
                CandidateExec(i, sql, (System.nanoTime() - t0) / 1e9, None, Some(fp))
              } catch {
                case scala.util.control.NonFatal(e) =>
                  CandidateExec(i, sql, (System.nanoTime() - t0) / 1e9,
                    Some(e.getClass.getSimpleName), None)
              }
            case ExecErr(e, sec) => CandidateExec(i, sql, sec, Some(e), None)
          }
        }
      }
      val waves = math.max(1, math.ceil(sqls.size.toDouble / math.max(parallelism, 1)).toInt)
      val outer = Duration(timeoutSec.toLong * (waves + 1), scala.concurrent.duration.SECONDS)
      try Await.result(Future.sequence(futures), outer)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          futures.zipWithIndex.map { case (f, i) =>
            f.value.flatMap(_.toOption).getOrElse(
              CandidateExec(i, sqls(i), outer.toSeconds.toDouble,
                Some("outer deadline exceeded"), None))
          }
      }
    } finally pool.shutdown()
  }

  /** Largest equivalence group, fastest member. Deterministic tie-breaks:
    * equal-size groups → the one containing the fastest candidate;
    * equal latency → smallest index.
    */
  def select(spark: SparkSession, sqls: Seq[String],
      timeoutSec: Int = 60, parallelism: Int = 5): Option[Selection] = {
    val execs = execCandidates(spark, sqls, timeoutSec, parallelism)
    groupAndPick(execs)
  }

  /** Pure selection logic over executed candidates (unit-testable). */
  def groupAndPick(execs: Seq[CandidateExec]): Option[Selection] = {
    val ok = execs.filter(e => e.error.isEmpty && e.fingerprint.isDefined)
    if (ok.isEmpty) return None
    val groups = ok.groupBy(_.fingerprint.get).values.toSeq
    val best = groups.maxBy(g => (g.size, -g.map(_.seconds).min))
    val winner = best.minBy(e => (e.seconds, e.index))
    Some(Selection(winner.index, winner.sql, winner.seconds,
      best.map(_.index).sorted, best.size))
  }
}
