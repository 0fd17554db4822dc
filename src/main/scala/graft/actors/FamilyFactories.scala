package graft.actors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StringType

import graft.exec.SqlBackend
import graft.llm.LlmClient
import graft.text.{SchemaRender, SqlText}

/** RSL-SQL (reference `RSLSQLGenerate.py:247-1019`): bidirectional
  * linking → preliminary SQL → information augmentation (keywords,
  * conditions) → BINARY selection between the preliminary and augmented
  * candidates using execution results → self-correction loop.
  */
final case class RslSqlGenerator(llm: LlmClient, backend: SqlBackend,
    schema: DataFrame,
    tpl: graft.llm.PromptTemplates = graft.llm.PromptTemplates.default)
    extends Actor {
  val name = "RSLSQLGenerator"
  override val outputName = "pred_sql"
  override val skill = "RSL-SQL: bidir links -> preliminary + augmented -> binary exec selection"

  def act(ds: DataFrame): DataFrame = {
    val schemaText = SchemaRender.parseSchemaFromDf(schema)
    // forward+backward linking over the whole dataset first
    Actor.afterInner(ds, BiDirLinkParser(llm, schema), outputName) { linked =>
      Actor.rowwise(linked, outputName, StringType) { r =>
        val (q, links) = (r.getAs[String]("question"), r.getSeq[String](r.fieldIndex("schema_links")))
        val preliminary = SqlText.clean(llm.complete(
          tpl.render("rslsql.preliminary", "schema" -> schemaText,
            "links" -> links.mkString(", "), "question" -> q)))
        val keywords = SqlText.parseList(llm.complete(
          tpl.render("rslsql.keywords", "question" -> q)))
        val augmented = SqlText.clean(llm.complete(
          tpl.render("rslsql.augmented", "keywords" -> keywords.mkString(", "),
            "schema" -> schemaText, "question" -> q)))
        // binary selection by execution (largest-agreement degenerate to 2)
        val chosen = graft.operators.FastExecSelect
          .select(ds.sparkSession, Seq(preliminary, augmented))
          .map(_.sql).getOrElse(preliminary)
        // self-correction with execution feedback
        SqlDebug.debugByFeedback(backend, llm, q, schemaText, chosen)._2
      }
    }
  }
}

/** LinkAlign generator (reference `LinkAlignGenerate.py:22-389`):
  * LinkAlign reduction + linking, DIN-SQL-style tiered generation,
  * optional execution-feedback debug pass.
  */
final case class LinkAlignGenerator(llm: LlmClient, backend: SqlBackend,
    schema: DataFrame, debug: Boolean = true) extends Actor {
  val name = "LinkAlignGenerator"
  override val outputName = "pred_sql"
  override val skill = "LinkAlign: reduce+link -> DIN-tiered generate -> exec debug"

  def act(ds: DataFrame): DataFrame = {
    val schemaText = SchemaRender.parseSchemaFromDf(schema)
    Actor.afterInner(ds, ParseActors.linkAlign(llm, schema), outputName) { linked =>
      Actor.rowwise(linked, outputName, StringType) { r =>
        val (q, links) = (r.getAs[String]("question"), r.getSeq[String](r.fieldIndex("schema_links")))
        val draft = DinSqlMethod.generate(llm, schemaText, q, links)
        if (debug) SqlDebug.debugByFeedback(backend, llm, q, schemaText, draft)._2
        else draft
      }
    }
  }
}

/** Adaptive optimizer as an Actor (wraps `AdaptiveOptimize`): decompose
  * into meta-SQLs, execute for feedback, triage the first failure and
  * dispatch syntax/schema repair (feedback loop) vs logic repair
  * (one-shot rewrite with the meta-SQL evidence).
  */
final case class AdaptiveOptimizer(llm: LlmClient, backend: SqlBackend,
    schema: DataFrame) extends Actor {
  val name = "AdaptiveOptimizer"
  override val outputName = "pred_sql"
  override val skill = "adaptive: meta-SQL feedback -> triaged repair"

  def act(ds: DataFrame): DataFrame = {
    val schemaText = SchemaRender.parseSchemaFromDf(schema)
    Actor.rowwise(ds, outputName, StringType) { r =>
      val (q, sql) = (r.getAs[String]("question"), r.getAs[String]("pred_sql"))
      val fb = AdaptiveOptimize.feedback(backend, sql)
      val firstErr = fb.collectFirst { case (m, Left(e)) => (m, e) }
      firstErr match {
        case None => sql // every meta-SQL executes — leave it alone
        case Some((_, err)) if AdaptiveOptimize.classify(err) != "logic" =>
          SqlDebug.debugByFeedback(backend, llm, q, schemaText, sql)._2
        case Some((meta, err)) =>
          SqlText.clean(llm.complete(
            s"A sub-query misbehaves logically.\nFailing part: $meta\n" +
              s"Evidence: $err\nFull SQL: $sql\nQuestion: $q\nFixed SQL:"))
      }
    }
  }
}

/** Thin named factories completing the reference's scaler/optimizer
  * rosters (shape differences live in prompts/temperature schedules —
  * driver-side; the data mechanics are shared).
  */
object FamilyFactories {
  // scalers (`core/actor/scaler`)
  def dinsqlScaler(llm: LlmClient, n: Int) = LlmScaler(llm, n, "DINSQLScaler")
  def chessScaler(llm: LlmClient, n: Int) = LlmScaler(llm, n, "ChessScaler")
  def macsqlScaler(llm: LlmClient, n: Int) = LlmScaler(llm, n, "MACSQLScaler")
  def rslsqlScaler(llm: LlmClient, n: Int) = LlmScaler(llm, n, "RSLSQLScaler")
  def openSearchScaler(llm: LlmClient, n: Int) = LlmScaler(llm, n, "OpenSearchSQLScaler")

  // optimizers (`core/actor/optimizer`)
  def chessOptimizer(llm: LlmClient, b: SqlBackend, s: DataFrame) =
    RepairOptimizer(llm, b, s, "feedback", "CHESSOptimizer")
  def openSearchOptimizer(llm: LlmClient, b: SqlBackend, s: DataFrame) =
    RepairOptimizer(llm, b, s, "chain", "OpenSearchSQLOptimizer")
  def rslsqlOptimizer(llm: LlmClient, b: SqlBackend, s: DataFrame) =
    RepairOptimizer(llm, b, s, "feedback", "RSLSQLOptimizer")
  def adaptiveOptimizer(llm: LlmClient, b: SqlBackend, s: DataFrame) =
    AdaptiveOptimizer(llm, b, s)
}
