package graft.actors

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}

/** Output-merge semantics (reference `core/actor/base.py:109-162`):
  * how an actor's fresh output combines with an existing column of the
  * same name. In Spark the per-item results dict becomes columns, so
  * overwrite/append/extend are column expressions, not dict ops.
  */
sealed trait MergeStrategy
object MergeStrategy {
  /** Replace the old value. */
  case object Overwrite extends MergeStrategy
  /** old (scalar or array) + [new scalar] → array. */
  case object Append extends MergeStrategy
  /** old array ++ new array. */
  case object Extend extends MergeStrategy
}

/** An operator over a question/record dataset (reference `Actor` ABC,
  * `core/actor/base.py:10-53`). `act` maps the whole dataset to a new
  * one, writing `outputName` when the actor is column-producing
  * (generators/parsers) or reshaping rows when it is a dataset operator
  * (reducers/filters, outputName = None analog: "").
  *
  * LLM-calling actors are not relational operators: the reference calls
  * the model once per question row, and here that call is driver-side.
  * They go through [[Actor.rowwise]], which turns the per-row loop into
  * one flat local frame instead of a join back onto the input — so a
  * pipeline of them has no join chain to plan or run. LLM-free actors
  * (filters, slicers, template generators) stay Spark column
  * expressions.
  */
trait Actor {
  def name: String
  def outputName: String = ""
  def strategy: MergeStrategy = MergeStrategy.Overwrite
  /** One-line capability doc (the reference's SKILL, used by planners). */
  def skill: String = name
  def act(ds: DataFrame): DataFrame
}

object Actor {

  /** The question key the combinators merge branch outputs on. */
  private val Key = "instance_id"

  /** The one driver-side per-row step of every LLM-calling actor:
    * collect `ds` once with all of its columns, compute `f` per row (on
    * at most `parallelism` threads via [[graft.util.Par.mapBounded]];
    * `f` may read any column, `out` included), and return ONE flat local
    * frame — `ds`'s columns without `out`, in order, plus `out` typed
    * `outType`. Collecting or acting on that frame starts no Spark job;
    * the join back onto `ds` this replaces planned one more local join
    * per stage.
    *
    *  - One output row per input row, in input order: duplicate
    *    `instance_id`s stay one row each (the join multiplied them k×k).
    *  - Rows with a NULL `instance_id` are kept (the join dropped them).
    *  - Column names and types are unchanged: `ds`'s columns keep
    *    theirs; `out` is nullable `outType`.
    *  - An empty `ds` gives an empty frame with `out`, and no `f` call.
    */
  def rowwise[B](ds: DataFrame, out: String, outType: DataType,
      parallelism: Int = 1)(f: Row => B): DataFrame =
    rowwiseOver(ds, ds.collect().toSeq, out, outType, parallelism)(f)

  /** [[rowwise]] over `rows`, already collected from `ds`. */
  private def rowwiseOver[B](ds: DataFrame, rows: Seq[Row], out: String, outType: DataType,
      parallelism: Int)(f: Row => B): DataFrame = {
    val schema = ds.schema
    val kept = schema.fields.indices.filterNot(i => schema(i).name == out)
    val values = graft.util.Par.mapBounded(rows, parallelism)(f)
    val flat = rows.zip(values).map { case (r, v) => Row.fromSeq(kept.map(r.get) :+ v) }
    ds.sparkSession.createDataFrame(flat.asJava,
      StructType(kept.map(schema(_)) :+ StructField(out, outType)))
  }

  /** The combinators' merge: the rows of `ds` whose id every branch
    * answered (a row whose id has no output in some branch — a NULL id
    * included — is dropped, as the inner join dropped it), with `out` =
    * `combine` of the branches' values for the row's id. Each branch is
    * collected to the driver as one value per `instance_id` (its last).
    */
  private[actors] def mergeById(ds: DataFrame, out: String, outType: DataType,
      branches: Seq[DataFrame])(combine: Seq[Any] => Any): DataFrame = {
    val byId = branches.map(_.select(col(Key), col(out)).collect()
      .collect { case r if !r.isNullAt(0) => r.get(0) -> r.get(1) }.toMap)
    val answered = ds.collect().toSeq.filter(r => byId.forall(_.contains(r.getAs[Any](Key))))
    rowwiseOver(ds, answered, out, outType, 1)(r => combine(byId.map(_(r.getAs[Any](Key)))))
  }

  /** For actors that run an `inner` actor (a parser) first and
    * [[rowwise]] over its output: `body` gets the inner actor's output
    * over `ds`, and its result is narrowed back to `ds`'s columns plus
    * `out`. A column of the inner actor's output name that `ds` already
    * has is hidden from the inner actor and restored after, so `ds`'s
    * own value is kept; one it lacks does not leak. Renames and
    * projections of a local frame stay local: no Spark job.
    */
  private[actors] def afterInner(ds: DataFrame, inner: Actor, out: String)(
      body: DataFrame => DataFrame): DataFrame = {
    val (own, hidden) = (inner.outputName, s"__own_${inner.outputName}")
    val hide = ds.columns.contains(own)
    val acted = body(inner.act(if (hide) ds.withColumnRenamed(own, hidden) else ds))
    val restored = if (hide) acted.drop(own).withColumnRenamed(hidden, own) else acted
    restored.select((ds.columns.filterNot(_ == out) :+ out).map(col).toSeq: _*)
  }

  /** Parse-flavored link merge (`nest/tree.py:273-275`): the distinct
    * concatenation of array outputs, a NULL output counting as none.
    */
  private[actors] def distinctLinks(outs: Seq[Any]): Seq[Any] =
    outs.flatMap(o => Option(o.asInstanceOf[scala.collection.Seq[Any]]).getOrElse(Nil)).distinct

  /** Apply an actor respecting its merge strategy
    * (`MergeFunction.merge_result` analog).
    */
  def applyMerged(actor: Actor, ds: DataFrame): DataFrame = {
    val out = actor.outputName
    if (out.isEmpty || !ds.columns.contains(out) ||
        actor.strategy == MergeStrategy.Overwrite)
      return actor.act(ds)
    val old = s"__old_$out"
    val acted = actor.act(ds.withColumnRenamed(out, old))
    val merged = actor.strategy match {
      case MergeStrategy.Append =>
        // old may be scalar or array; normalize old to array, append new
        concat(
          when(col(old).isNull, array().cast(s"array<string>"))
            .otherwise(arrayOf(acted, old)),
          array(col(out).cast("string")))
      case MergeStrategy.Extend =>
        concat(coalesce(col(old), array().cast("array<string>")), col(out))
      case MergeStrategy.Overwrite => col(out)
    }
    acted.withColumn(out, merged).drop(old)
  }

  private def arrayOf(ds: DataFrame, c: String) =
    ds.schema(c).dataType match {
      case _: ArrayType => col(c).cast("array<string>")
      case _ => array(col(c).cast("string"))
    }
}

/** Global actor registry (reference `ActorPool`,
  * `core/actor/base.py:165-205`): name → factory, with the per-family
  * suffix syntax check (`*Reducer`/`*Parser`/... naming convention) and
  * SKILL export for planners.
  */
object ActorPool {
  val FamilySuffixes = Seq(
    "Reducer", "Parser", "Generator", "Decomposer", "Scaler", "Optimizer", "Selector", "Actor")

  private val registry = scala.collection.concurrent.TrieMap[String, () => Actor]()

  def register(name: String, factory: () => Actor): Unit = {
    require(FamilySuffixes.exists(name.endsWith),
      s"actor name '$name' must end with one of $FamilySuffixes")
    registry(name) = factory
  }

  def create(name: String): Option[Actor] = registry.get(name).map(_())
  def registered: Seq[String] = registry.keys.toSeq.sorted

  /** SKILL docstrings for agent planning (`gather_skills`). */
  def gatherSkills(): Map[String, String] =
    registry.map { case (n, f) => n -> f().skill }.toMap
}

/** Sequential composition (reference `PipelineActor`,
  * `core/actor/nest/pipeline.py:28-72`): each actor's output dataset
  * feeds the next; merge strategies apply per stage.
  */
final case class PipelineActor(actors: Seq[Actor],
    override val name: String = "pipeline") extends Actor {
  override def skill: String = actors.map(_.name).mkString(" -> ")
  def act(ds: DataFrame): DataFrame =
    actors.foldLeft(ds)((d, a) => Actor.applyMerged(a, d))
}

/** Same-family parallel group (reference `ActorGroup`,
  * `core/actor/nest/tree.py:175-341`): run N same-type actors on the
  * same input and merge their array outputs per row, parse-flavored
  * (`nest/tree.py:273-275`): the distinct concatenation of every
  * member's links, a NULL output counting as none. Each member's
  * (`instance_id` → output) is collected on the driver and merged with
  * [[Actor.rowwise]] — the outputs are per question row, so there is
  * nothing for a join to do.
  */
final case class ActorGroup(actors: Seq[Actor],
    override val name: String = "group") extends Actor {
  require(actors.nonEmpty)
  override val outputName: String = actors.head.outputName

  def act(ds: DataFrame): DataFrame = {
    val out = outputName
    require(out.nonEmpty && actors.forall(_.outputName == out),
      "ActorGroup requires a shared output column")
    Actor.mergeById(ds, out, ArrayType(StringType), actors.map(_.act(ds)))(
      Actor.distinctLinks)
  }
}

/** Fan-out composition (reference `TreeActor`,
  * `core/actor/nest/tree.py:54-172`): group same-family actors into
  * ActorGroups (`group_partition`), run every branch on the same input
  * concurrently (at most `maxWorkers` driver threads), and merge each
  * column-producing branch's output into the dataset by instance_id
  * (the reference's `update_dataset(..., merge_dataset=True)` rowwise
  * merge) — on the driver, through [[Actor.rowwise]], one flat local
  * frame per branch column instead of a join per branch.
  */
final case class TreeActor(branches: Seq[Actor],
    override val name: String = "tree",
    maxWorkers: Int = 3) extends Actor {

  def act(ds: DataFrame): DataFrame = {
    val outs = graft.util.Par.mapBounded(TreeActor.groupPartition(branches), maxWorkers)(a =>
      a -> Actor.applyMerged(a, ds))
    outs.foldLeft(ds) { case (acc, (a, out)) =>
      if (a.outputName.isEmpty) acc // dataset-reshaping branches merge nothing
      else Actor.mergeById(acc, a.outputName, out.schema(a.outputName).dataType,
        Seq(out))(_.head)
    }
  }
}

object TreeActor {
  /** Group same-output actors into ActorGroups (`group_partition`). */
  def groupPartition(actors: Seq[Actor]): Seq[Actor] =
    actors.groupBy(_.outputName).toSeq.sortBy(_._1).flatMap {
      case ("", singles) => singles
      case (_, Seq(single)) => Seq(single)
      case (out, group) => Seq(ActorGroup(group, s"group_$out"))
    }
}
