package graft.tasks

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.actors.{Actor, PipelineActor}

/** Task layer (reference `core/task/base.py`, `core/task/meta/MetaTask.py`,
  * `core/task/multi`): a task binds a dataset to an actor; task
  * combinators express the run graph. The reference's per-row
  * ThreadPoolExecutor IS the Spark job here — a MetaTask.run is one
  * distributed plan, not a row loop; driver-side futures only fan out
  * whole tasks (`ParallelTask`'s process pool analog).
  */
sealed trait Task {
  def id: String
  /** Run and return task outputs keyed by task id. */
  def run(): Map[String, DataFrame]
}

/** One dataset × one actor (reference `MetaTask.run`,
  * `core/task/meta/MetaTask.py:29-80`). Failures are values: an actor
  * error produces the input annotated with `error_info` (the reference's
  * per-row error record, at task granularity since the plan either
  * analyzes or not).
  */
final case class MetaTask(id: String, dataset: DataFrame, actor: Actor) extends Task {
  def run(): Map[String, DataFrame] = {
    val out =
      try Actor.applyMerged(actor, dataset)
      catch {
        case NonFatal(e) =>
          dataset.withColumn("error_info",
            lit(s"${actor.name}: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}"))
      }
    Map(id -> out)
  }
}

/** Pipeline-of-stages task (reference `ComplexTask`,
  * `core/task/meta/ComplexTask.py:8-25` via `load_complex_actor_simple`).
  */
final case class ComplexTask(id: String, dataset: DataFrame, stages: Seq[Actor]) extends Task {
  def run(): Map[String, DataFrame] =
    MetaTask(id, dataset, PipelineActor(stages, s"$id-pipeline")).run()
}

/** Sequential combinator (`SequenceTask`): run children in order; later
  * children may consume earlier outputs through their own datasets.
  */
final case class SequenceTask(id: String, tasks: Seq[Task]) extends Task {
  def run(): Map[String, DataFrame] =
    tasks.foldLeft(Map.empty[String, DataFrame])((acc, t) => acc ++ t.run())
}

/** Parallel combinator (`ParallelTask`, process-pool analog): children
  * run concurrently as driver futures — each child is distributed Spark
  * work, so the pool bounds concurrent jobs.
  */
final case class ParallelTask(id: String, tasks: Seq[Task], maxWorkers: Int = 4) extends Task {
  def run(): Map[String, DataFrame] =
    graft.util.Par.mapBounded(tasks, maxWorkers)(_.run())
      .foldLeft(Map.empty[String, DataFrame])(_ ++ _)
}

/** The `exec_process` grammar (reference `core/engine.py:601-718`):
  * a nested bracket list of task ids with `~s`/`~p` mode markers, e.g.
  * `[t1,[t2,t3,~p],~s]` — inner lists become Sequence/Parallel nodes
  * (default sequence). Parsed against a task registry.
  */
object ExecProcess {

  sealed trait Node
  final case class Leaf(id: String) extends Node
  final case class Branch(children: Seq[Node], parallel: Boolean) extends Node

  def parse(spec: String): Node = {
    val (node, rest) = parseNode(spec.replaceAll("\\s", ""))
    require(rest.isEmpty, s"trailing input: $rest")
    node
  }

  private def parseNode(s: String): (Node, String) =
    if (s.startsWith("[")) parseBranch(s.drop(1))
    else {
      val end = s.indexWhere(c => c == ',' || c == ']') match {
        case -1 => s.length
        case i => i
      }
      require(end > 0, s"empty task id at: $s")
      (Leaf(s.take(end)), s.drop(end))
    }

  private def parseBranch(s0: String): (Node, String) = {
    var s = s0
    val children = scala.collection.mutable.ArrayBuffer[Node]()
    var parallel = false
    var done = false
    while (!done) {
      if (s.startsWith("]")) { s = s.drop(1); done = true }
      else if (s.startsWith(",")) s = s.drop(1)
      else if (s.startsWith("~s]")) { s = s.drop(3); done = true }
      else if (s.startsWith("~p]")) { parallel = true; s = s.drop(3); done = true }
      else {
        val (n, rest) = parseNode(s)
        children += n
        s = rest
      }
    }
    (Branch(children.toSeq, parallel), s)
  }

  /** Materialize a parsed spec into a runnable task tree. */
  def build(node: Node, registry: Map[String, Task], id: String = "root"): Task = node match {
    case Leaf(tid) =>
      registry.getOrElse(tid, throw new IllegalArgumentException(s"unknown task: $tid"))
    case Branch(children, parallel) =>
      val sub = children.zipWithIndex.map { case (c, i) => build(c, registry, s"$id.$i") }
      if (parallel) ParallelTask(id, sub) else SequenceTask(id, sub)
  }

  def run(spec: String, registry: Map[String, Task]): Map[String, DataFrame] =
    build(parse(spec), registry).run()
}
