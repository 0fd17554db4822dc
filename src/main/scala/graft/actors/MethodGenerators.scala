package graft.actors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.exec.SqlBackend
import graft.llm.LlmClient
import graft.text.{SchemaLinking, SchemaRender, SqlText}

/** The remaining named generator methods, composed from the engine's
  * pieces. Each is an Actor writing `pred_sql`; all data-touching steps
  * (pruning, probes, profiles, execution, voting) are Spark, the LLM is
  * a pluggable driver-side client.
  */

/** MAC-SQL (reference `MACSQLGenerate.py:464-1072`): 3-agent loop —
  * Selector (deterministic prune heuristic) → Decomposer (CoT
  * sub-questions) → Refiner (generate, execute, repair on error).
  */
final case class MacSqlGenerator(llm: LlmClient, backend: SqlBackend,
    schema: DataFrame,
    tpl: graft.llm.PromptTemplates = graft.llm.PromptTemplates.default)
    extends Actor {
  val name = "MACSQLGenerator"
  override val outputName = "pred_sql"
  override val skill = "MAC-SQL: prune -> decompose -> generate+refine loop"

  def act(ds: DataFrame): DataFrame =
    Actor.rowwise(ds, outputName, StringType) { r =>
      val q = r.getAs[String]("question")
      // Selector: prune when large, guided by a quick LLM link pass
      val links = SchemaRender.parseSchemaLinkFromStr(llm.complete(
        tpl.render("macsql.links", "question" -> q)))
      val working =
        if (MacSqlPrune.needsPrune(schema)) MacSqlPrune.prune(schema, links)
        else schema
      val schemaText = SchemaRender.parseSchemaFromDf(working)
      // Decomposer
      val subs = SqlText.parseList(llm.complete(
        tpl.render("macsql.decompose", "question" -> q)))
      // Refiner: generate then execute-repair
      val draft = SqlText.clean(llm.complete(
        tpl.render("macsql.refine", "schema" -> schemaText,
          "subs" -> subs.mkString("; "), "question" -> q)))
      SqlDebug.debugByFeedback(backend, llm, q, schemaText, draft)._2
    }
}

/** CHESS (reference `CHESSGenerate.py:58-648`): keyword extraction →
  * entity/context retrieval FROM THE DB (single-scan cell-value links,
  * not probe loops) → schema selection → candidate generation →
  * execute+validate → unit-test scoring over candidates.
  */
final case class ChessGenerator(llm: LlmClient, backend: SqlBackend,
    schema: DataFrame, entityTables: Map[String, (DataFrame, Seq[String])],
    nCandidates: Int = 3,
    tpl: graft.llm.PromptTemplates = graft.llm.PromptTemplates.default)
    extends Actor {
  val name = "CHESSGenerator"
  override val outputName = "pred_sql"
  override val skill = "CHESS: entity retrieval -> candidates -> execute -> unit-test pick"

  def act(ds: DataFrame): DataFrame = {
    val schemaText = SchemaRender.parseSchemaFromDf(schema)
    Actor.rowwise(ds, outputName, StringType) { r =>
      val q = r.getAs[String]("question")
      val keywords = SqlText.parseList(llm.complete(
        tpl.render("chess.keywords", "question" -> q)))
        .take(5)
      // entity context: one aggregation scan per table, all keywords at once
      val entityContext = entityTables.map { case (tbl, (df, cols)) =>
        val hits = SchemaLinking.cellValueLinks(df, keywords, cols)
          .filter(col("exact_hit") === 1 || col("partial_hit") === 1)
          .collect()
          .map(h => s"${h.getString(0)} ~ $tbl.${h.getString(1)}")
        if (hits.isEmpty) "" else hits.mkString("\n")
      }.filter(_.nonEmpty).mkString("\n")
      val candidates = (0 until nCandidates).map(i => SqlText.clean(llm.complete(
        tpl.render("chess.candidate", "index" -> i.toString,
          "schema" -> schemaText, "entities" -> entityContext,
          "question" -> q)))).distinct
      SelectActors.chessUnitTests(ds.sparkSession, llm, q, candidates)
        .getOrElse(candidates.head)
    }
  }
}

/** OpenSearch-SQL (reference `OpenSearchSQLGenerate.py`): DB_AGENT
  * builds the full column profile (one-pass null/distinct aggregation —
  * the engine's profile scan, not the reference's per-column loop),
  * generation is fused CoT over profile + values, selection is the
  * result-string majority vote.
  */
final case class OpenSearchGenerator(llm: LlmClient, backend: SqlBackend,
    schema: DataFrame, profileOf: String => String,
    nCandidates: Int = 3) extends Actor {
  val name = "OpenSearchSQLGenerator"
  override val outputName = "pred_sql"
  override val skill = "OpenSearch-SQL: column profile -> CoT candidates -> majority vote"

  def act(ds: DataFrame): DataFrame = {
    val schemaText = SchemaRender.parseSchemaFromDf(schema)
    Actor.rowwise(ds, outputName, StringType) { r =>
      val q = r.getAs[String]("question")
      val profile = profileOf(q)
      val candidates = (0 until nCandidates).map(i => SqlText.clean(llm.complete(
        s"Candidate $i.\nSchema:\n$schemaText\nColumn profile:\n$profile\n" +
          s"Question: $q\nSQL:"))).distinct
      SelectActors.majorityVote(ds.sparkSession, candidates, Some(llm))
        .getOrElse(candidates.head)
    }
  }
}

/** DIN-SQL generator (reference `DINSQLGenerate.py`): CoT link parse →
  * difficulty tiering → tier-styled generation (EASY / NON-NESTED /
  * NESTED prompt families, `DinSqlMethod`).
  */
final case class DinSqlGenerator(llm: LlmClient, schema: DataFrame) extends Actor {
  val name = "DINSQLGenerator"
  override val outputName = "pred_sql"
  override val skill = "DIN-SQL: CoT links -> difficulty tier -> tiered generation"

  def act(ds: DataFrame): DataFrame = {
    val schemaText = SchemaRender.parseSchemaFromDf(schema)
    Actor.afterInner(ds, ParseActors.dinsql(llm, schema), outputName) { linked =>
      Actor.rowwise(linked, outputName, StringType) { r =>
        DinSqlMethod.generate(llm, schemaText, r.getAs[String]("question"),
          r.getSeq[String](r.fieldIndex("schema_links")))
      }
    }
  }
}

object GeneratorRegistry {
  /** Register the full named actor roster for workflow specs and the
    * serving task_lis door — every family name the reference's
    * `run_batch` payloads can cite (`app/run.py` examples use
    * `DINSQLGenerator`/`MACSQLGenerator` et al.).
    */
  def registerAll(llm: LlmClient, backend: SqlBackend, schema: DataFrame,
      generateNum: Int = 3): Unit = {
    // generators
    ActorPool.register("LlmGenerator", () => LlmGenerator(llm, schema))
    ActorPool.register("DINSQLGenerator", () => DinSqlGenerator(llm, schema))
    ActorPool.register("MACSQLGenerator", () => MacSqlGenerator(llm, backend, schema))
    // CHESS with no pre-built entity indexes and OpenSearch with a
    // no-op profile: the registry variants carry the method mechanics;
    // callers wanting entity retrieval / column profiles register their
    // own closures over prepared tables
    ActorPool.register("CHESSGenerator", () =>
      ChessGenerator(llm, backend, schema, entityTables = Map.empty))
    ActorPool.register("RSLSQLGenerator", () => RslSqlGenerator(llm, backend, schema))
    ActorPool.register("OpenSearchSQLGenerator", () =>
      OpenSearchGenerator(llm, backend, schema, profileOf = _ => ""))
    ActorPool.register("LinkAlignGenerator", () => LinkAlignGenerator(llm, backend, schema))
    // scalers
    ActorPool.register("DINSQLScaler", () => FamilyFactories.dinsqlScaler(llm, generateNum))
    ActorPool.register("ChessScaler", () => FamilyFactories.chessScaler(llm, generateNum))
    ActorPool.register("MACSQLScaler", () => FamilyFactories.macsqlScaler(llm, generateNum))
    ActorPool.register("RSLSQLScaler", () => FamilyFactories.rslsqlScaler(llm, generateNum))
    ActorPool.register("OpenSearchSQLScaler", () => FamilyFactories.openSearchScaler(llm, generateNum))
    // optimizers
    ActorPool.register("DINSQLOptimizer", () => OptimizeActors.dinsql(llm, backend, schema))
    ActorPool.register("MACSQLOptimizer", () => OptimizeActors.macsql(llm, backend, schema))
    ActorPool.register("LinkAlignOptimizer", () => OptimizeActors.linkAlign(llm, backend, schema))
    ActorPool.register("CHESSOptimizer", () => FamilyFactories.chessOptimizer(llm, backend, schema))
    ActorPool.register("RSLSQLOptimizer", () => FamilyFactories.rslsqlOptimizer(llm, backend, schema))
    ActorPool.register("OpenSearchSQLOptimizer", () => FamilyFactories.openSearchOptimizer(llm, backend, schema))
    ActorPool.register("AdaptiveOptimizer", () => FamilyFactories.adaptiveOptimizer(llm, backend, schema))
  }
}
