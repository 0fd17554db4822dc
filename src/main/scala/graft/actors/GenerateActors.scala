package graft.actors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.exec.{ExecErr, ExecOk, SqlBackend}
import graft.llm.LlmClient
import graft.text.{SchemaRender, SqlText}

/** Execution-feedback SQL repair (reference
  * `core/actor/generator/sql_debug.py`): the error-as-value loop —
  * execute, collect (sql, error) history, prompt the LLM with the
  * history, retry — plus the experience-based one-shot variant. The
  * DBMS feedback comes from real Spark analysis/execution errors.
  */
object SqlDebug {

  /** `sql_debug_by_feedback` (`sql_debug.py:67-117`): ≤ `turns` repair
    * rounds; returns (executable?, final SQL, error history).
    */
  def debugByFeedback(backend: SqlBackend, llm: LlmClient, question: String,
      schemaText: String, sql: String, turns: Int = 2): (Boolean, String, Seq[(String, String)]) = {
    var cur = sql
    val hist = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var turn = 0
    while (turn < turns) {
      backend.runDialect(cur) match {
        case ExecOk(_, _) => return (true, cur, hist.toSeq)
        case ExecErr(err, _) =>
          hist += ((cur, err))
          val history = hist.zipWithIndex.map { case ((s, e), i) =>
            s"### Turn ${i + 1}\n# SQL:\n$s;\n### Error Information:\n$e\n"
          }.mkString("\n")
          cur = SqlText.clean(llm.complete(
            s"Fix the SQL for this question.\nQuestion: $question\n" +
              s"Schema:\n$schemaText\nError history:\n$history\nCorrected SQL:"))
      }
      turn += 1
    }
    (backend.runDialect(cur).isSuccess, cur, hist.toSeq)
  }

  /** `sql_debug_by_experience` (`sql_debug.py:9-64`): one-shot rewrite
    * against known failure families, no execution inside.
    */
  def debugByExperience(llm: LlmClient, question: String,
      schemaText: String, sql: String): String =
    SqlText.clean(llm.complete(
      s"Review this SQL against common mistakes (joins, grouping, " +
        s"dialect) and rewrite it if needed.\nQuestion: $question\n" +
        s"Schema:\n$schemaText\nSQL: $sql\nRevised SQL:"))
}

/** Generic LLM SQL generator actor (reference `BaseGenerate.py:11-28`
  * contract: consumes question + rendered schema + optional
  * schema_links, OUTPUT pred_sql, overwrite). The nine reference
  * generator methods differ in prompting/agent loops (driver-side);
  * their data-touching spine — schema rendering, link formatting,
  * probe execution, candidate runs — is shared here.
  */
final case class LlmGenerator(llm: LlmClient, schema: DataFrame,
    override val name: String = "LlmGenerator",
    parallelism: Int = 5) extends Actor {
  override val outputName = "pred_sql"
  override val skill = s"$name: question + schema -> SQL via LLM"

  def act(ds: DataFrame): DataFrame = {
    val schemaText = SchemaRender.parseSchemaFromDf(schema)
    val hasLinks = ds.columns.contains("schema_links")
    Actor.rowwise(ds, outputName, StringType, parallelism) { r =>
      val i = if (hasLinks) r.fieldIndex("schema_links") else -1
      val links = if (i < 0 || r.isNullAt(i)) ""
        else "\nSchema links:\n" + SchemaRender.formatLinks(r.getSeq[String](i))
      SqlText.clean(llm.complete(
        s"Write one SQL query.\nSchema:\n$schemaText$links\n" +
          s"Question: ${r.getAs[String]("question")}\nSQL:"))
    }
  }
}

/** Decomposer actor (reference `BaseDecompose.py:15-21`: OUTPUT
  * sub_questions, extend): one LLM call per question, list-parsed.
  */
final case class LlmDecomposer(llm: LlmClient,
    override val name: String = "LlmDecomposer",
    parallelism: Int = 5) extends Actor {
  override val outputName = "sub_questions"
  override val strategy: MergeStrategy = MergeStrategy.Extend
  override val skill = s"$name: question -> sub-question list"

  def act(ds: DataFrame): DataFrame =
    Actor.rowwise(ds, outputName, ArrayType(StringType), parallelism) { r =>
      SqlText.parseList(llm.complete(
        s"Decompose into sub-questions as a list.\nQuestion: ${r.getAs[String]("question")}\n[...]"))
    }
}

/** Scaler actor (reference `BaseScale.py:13-16`: candidate
  * multiplication, OUTPUT pred_sql list, extend; dedupe preserving
  * order like `list(dict.fromkeys(...))`).
  */
final case class LlmScaler(llm: LlmClient, generateNum: Int,
    override val name: String = "LlmScaler",
    parallelism: Int = 5) extends Actor {
  override val outputName = "pred_sql_list"
  override val strategy: MergeStrategy = MergeStrategy.Extend
  override val skill = s"$name: $generateNum SQL candidates per question"

  def act(ds: DataFrame): DataFrame =
    Actor.rowwise(ds, outputName, ArrayType(StringType), parallelism) { r =>
      (0 until generateNum).map(i => SqlText.clean(llm.complete(
        s"Variant $i: write one SQL query for: ${r.getAs[String]("question")}\nSQL:"))).distinct
    }
}

/** Repair optimizer actor (the reference Optimizer family,
  * `core/actor/optimizer`): per row, run the pred_sql through
  * execution-feedback repair (`feedback`), experience rewrite
  * (`experience`), or experience-then-feedback (`chain` — the
  * LinkAlignOptimizer shape).
  */
final case class RepairOptimizer(llm: LlmClient, backend: SqlBackend,
    schema: DataFrame, mode: String,
    override val name: String,
    debugTurns: Int = 2,
    parallelism: Int = 5) extends Actor {
  override val outputName = "pred_sql"
  override val skill = s"$name: $mode-mode SQL repair with execution feedback"

  def act(ds: DataFrame): DataFrame = {
    val schemaText = SchemaRender.parseSchemaFromDf(schema)
    Actor.rowwise(ds, outputName, StringType, parallelism) { r =>
      val (q, sql) = (r.getAs[String]("question"), r.getAs[String]("pred_sql"))
      mode match {
        case "experience" => SqlDebug.debugByExperience(llm, q, schemaText, sql)
        case "chain" =>
          val first = SqlDebug.debugByExperience(llm, q, schemaText, sql)
          SqlDebug.debugByFeedback(backend, llm, q, schemaText, first, debugTurns)._2
        case _ => SqlDebug.debugByFeedback(backend, llm, q, schemaText, sql, debugTurns)._2
      }
    }
  }
}

object OptimizeActors {
  /** DIN-SQL self-correction (`DINSQLOptimize.py:14-254`). */
  def dinsql(llm: LlmClient, backend: SqlBackend, schema: DataFrame,
      debugTurns: Int = 2, parallelism: Int = 5) =
    RepairOptimizer(llm, backend, schema, "experience", "DINSQLOptimizer",
      debugTurns, parallelism)
  /** MAC-SQL Refiner execute-and-repair (`MACSQLOptimize.py:25-227`). */
  def macsql(llm: LlmClient, backend: SqlBackend, schema: DataFrame,
      debugTurns: Int = 2, parallelism: Int = 5) =
    RepairOptimizer(llm, backend, schema, "feedback", "MACSQLOptimizer",
      debugTurns, parallelism)
  /** LinkAlign experience→feedback chain (`LinkAlignOptimize.py:14-395`). */
  def linkAlign(llm: LlmClient, backend: SqlBackend, schema: DataFrame,
      debugTurns: Int = 2, parallelism: Int = 5) =
    RepairOptimizer(llm, backend, schema, "chain", "LinkAlignOptimizer",
      debugTurns, parallelism)
}

/** Adaptive meta-SQL optimization (reference
  * `AdaptiveOptimize.py:15-663`): decompose a query into its meta-SQLs
  * (CTE bodies, parenthesized subqueries, outer query), execute each
  * for targeted feedback, classify the failure (syntax / schema /
  * logic) and dispatch the matching repair path.
  */
object AdaptiveOptimize {

  /** Meta-SQL decomposition (`AdaptiveOptimize.py:100-229`): every
    * balanced `(SELECT ...)` subquery plus the full query.
    */
  def metaSqls(sql: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val upper = sql.toUpperCase
    var i = 0
    while (i < sql.length) {
      if (sql.charAt(i) == '(' &&
          upper.regionMatches(i + 1, "SELECT", 0, 6) ||
          (sql.charAt(i) == '(' && {
            var j = i + 1
            while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
            upper.regionMatches(j, "SELECT", 0, 6)
          })) {
        var depth = 1
        var j = i + 1
        while (j < sql.length && depth > 0) {
          if (sql.charAt(j) == '(') depth += 1
          else if (sql.charAt(j) == ')') depth -= 1
          j += 1
        }
        if (depth == 0) out += sql.substring(i + 1, j - 1).trim
        i = i + 1
      } else i += 1
    }
    out.toSeq :+ sql
  }

  /** Execute each meta-SQL, return (metaSql, error-or-rowcount). */
  def feedback(backend: SqlBackend, sql: String): Seq[(String, Either[String, Long])] =
    metaSqls(sql).map { m =>
      backend.runDialect(m) match {
        case ExecOk(df, _) =>
          m -> (try Right(df.count()) catch {
            case scala.util.control.NonFatal(e) => Left(e.getClass.getSimpleName)
          })
        case ExecErr(e, _) => m -> Left(e)
      }
    }

  /** Error triage (`AdaptiveOptimize.py:314-531` dispatch): parse
    * errors → syntax, unresolved identifiers → schema, else logic.
    */
  def classify(error: String): String = {
    val e = error.toLowerCase
    if (e.contains("parseexception") || e.contains("syntax")) "syntax"
    else if (e.contains("unresolved") || e.contains("cannot be resolved") ||
      e.contains("table or view not found") || e.contains("analysisexception")) "schema"
    else "logic"
  }
}
