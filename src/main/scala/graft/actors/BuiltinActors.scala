package graft.actors

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.operators.{FastExecSelect, RowOps}

/** LLM-free built-in actors wrapping the engine's operators — the
  * data-touching skeletons of the reference actor families. LLM-backed
  * variants plug the same traits with an `LlmClient` (see agents.scala);
  * every actor here runs fully distributed.
  */

/** Identity reducer (reference `ZeroReducer`,
  * `core/actor/reducer/ZeroReduce.py:10-52`): pass the (optionally
  * db-filtered) schema/record set through unchanged.
  */
final case class ZeroReducer(dbIdCol: String = "", dbId: String = "") extends Actor {
  val name = "ZeroReducer"
  override val skill = "identity schema reduction (full schema passthrough)"
  def act(ds: DataFrame): DataFrame =
    if (dbIdCol.isEmpty || dbId.isEmpty) ds else ds.filter(col(dbIdCol) === dbId)
}

/** Declarative row filter (`filter_dataset` mini-language). */
final case class FilterReducer(filterBy: String) extends Actor {
  val name = "FilterReducer"
  override val skill = s"filter rows by mini-language '$filterBy'"
  def act(ds: DataFrame): DataFrame = RowOps.filterDataset(ds, filterBy)
}

/** Deterministic slice assignment for parallel downstream parsing. */
final case class SliceParser(orderCol: String, sliceSize: Int) extends Actor {
  val name = "SliceParser"
  override val outputName = "slice_id"
  override val skill = s"assign ≤$sliceSize-row slice ids ordered by $orderCol"
  def act(ds: DataFrame): DataFrame = RowOps.withSliceId(ds, orderCol, sliceSize)
}

/** Length-classifier "parser": emits schema_links-shaped array output
  * from a text column (stand-in for LLM link extraction — exercises the
  * array merge strategies).
  */
final case class RegexLinkParser(textCol: String, pattern: String) extends Actor {
  val name = "RegexLinkParser"
  override val outputName = "schema_links"
  override val skill = s"extract '$pattern' matches from $textCol as links"
  def act(ds: DataFrame): DataFrame =
    ds.withColumn(outputName,
      array_distinct(regexp_extract_all(col(textCol), lit(pattern), lit(0))))
}

/** SQL-template generator: renders a SQL string per row from a template
  * (LLM generator stand-in; OUTPUT pred_sql, overwrite).
  */
final case class TemplateGenerator(template: String, cols: Seq[String]) extends Actor {
  val name = "TemplateGenerator"
  override val outputName = "pred_sql"
  override val skill = "render pred_sql from a template over row columns"
  def act(ds: DataFrame): DataFrame = {
    val parts = template.split("\\{\\}", -1)
    require(parts.length == cols.length + 1, "template holes must match cols")
    val exprs = parts.toIndexedSeq
      .zipAll(cols.map(c => col(c).cast("string")), "", lit(""))
      .flatMap { case (s, c) => Seq(lit(s), c) }
    ds.withColumn(outputName, concat(exprs: _*))
  }
}

/** Candidate scaler: appends template variants to pred_sql (extend). */
final case class VariantScaler(suffixes: Seq[String]) extends Actor {
  val name = "VariantScaler"
  override val outputName = "pred_sql_list"
  override val strategy: MergeStrategy = MergeStrategy.Extend
  override val skill = "multiply pred_sql into candidate variants"
  def act(ds: DataFrame): DataFrame =
    ds.withColumn(outputName,
      array(suffixes.map(s => concat(col("pred_sql"), lit(s))): _*))
}

/** Execution-based selector over per-row candidate lists (reference
  * `FastExecSelector` as an Actor; candidates collected per row —
  * row counts here are question counts, not data volume).
  */
final case class ExecSelector(spark: SparkSession) extends Actor {
  val name = "ExecSelector"
  override val outputName = "pred_sql"
  override val skill = "execute candidates, pick fastest of largest agreement group"
  def act(ds: DataFrame): DataFrame =
    Actor.rowwise(ds, outputName, StringType) { r =>
      FastExecSelect.select(spark, r.getSeq[String](r.fieldIndex("pred_sql_list"))).map(_.sql).orNull
    }
}
