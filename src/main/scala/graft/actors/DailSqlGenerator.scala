package graft.actors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StringType

import graft.llm.LlmClient
import graft.text.{SchemaLinking, SchemaRender, SqlText}

/** DAIL-SQL generation (reference `DAILSQLGenerate.py`, the largest
  * reference actor): the distinctive mechanics are all DATA work —
  *
  *   1. n-gram question↔schema linking (`compute_schema_linking`) and
  *      cell-value linking, resolved with `match_shift`;
  *   2. question MASKING of linked/value tokens
  *      (`mask_question_with_schema_linking`);
  *   3. few-shot selection by masked-question token-set JACCARD against
  *      an exemplar pool (`DAILSQLGenerate.py:30-34, 722-773`), with
  *      each exemplar's SQL reduced to its SKELETON for the prompt;
  *   4. final prompt = schema + top-k (masked exemplar, skeleton) pairs
  *      + question.
  *
  * Every step above is deterministic and engine-native; only the final
  * completion is an LLM call.
  */
final case class DailSqlGenerator(
    llm: LlmClient,
    schema: DataFrame,
    exemplars: Seq[(String, String)], // (question, gold SQL)
    k: Int = 3) extends Actor {

  val name = "DAILSQLGenerator"
  override val outputName = "pred_sql"
  override val skill = "DAIL-SQL: masked-question Jaccard few-shot + skeletons -> SQL"

  private def maskOf(question: String, columns: Seq[String], tables: Seq[String]): String = {
    val toks = question.split("\\s+").filter(_.nonEmpty).toSeq
    val matches = SchemaLinking.matchShift(
      SchemaLinking.computeSchemaLinking(toks, columns, tables))
    SchemaLinking.maskQuestion(toks, matches.map(_.qId).toSet, Set.empty)
  }

  def act(ds: DataFrame): DataFrame = {
    val schemaText = SchemaRender.parseSchemaFromDf(schema)
    val meta = schema.select("table_name", "column_name").collect()
    val tables = meta.map(_.getString(0)).distinct.toSeq
    val columns = meta.map(_.getString(1)).distinct.toSeq
    val tableSet = tables.map(_.toLowerCase).toSet
    val columnSet = columns.map(_.toLowerCase).toSet

    // exemplar pool prep: masked question + SQL skeleton, once
    val pool = exemplars.map { case (q, sql) =>
      (maskOf(q, columns, tables), q, SqlText.skeleton(sql, tableSet, columnSet), sql)
    }

    Actor.rowwise(ds, outputName, StringType) { r =>
      val q = r.getAs[String]("question")
      val masked = maskOf(q, columns, tables)
      val shots = pool
        .map(p => (SqlText.jaccard(masked, p._1), p))
        .sortBy { case (score, p) => (-score, exemplars.indexOf((p._2, p._4))) }
        .take(k)
        .map { case (_, (_, exQ, skel, exSql)) =>
          s"-- Q: $exQ\n-- skeleton: $skel\n$exSql"
        }.mkString("\n\n")
      SqlText.clean(llm.complete(
        s"Schema:\n$schemaText\nExamples:\n$shots\nQuestion: $q\nSQL:"))
    }
  }
}
