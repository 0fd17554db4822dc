package graft.actors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.llm.LlmClient
import graft.text.{SchemaRender, SqlText}

/** Schema-linking parse actors (§2.6, reference
  * the core/actor/parser family): each renders the schema DataFrame + the
  * question into a method-specific prompt, asks the LLM for
  * `Schema_links: [...]`, and writes a normalized `schema_links` array
  * column. The LLM is always driver-side (per question row — question
  * counts, not data volume); everything data-touching (schema prep,
  * value probes, link joins) is Spark.
  */
final case class CoTLinkParser(
    llm: LlmClient,
    schema: DataFrame,
    template: String, // {schema} and {question} holes
    override val name: String,
    contextFor: String => String = _ => "") extends Actor {

  override val outputName = "schema_links"
  override val skill = s"$name: CoT schema linking over the rendered schema"

  def act(ds: DataFrame): DataFrame = {
    val schemaText = SchemaRender.parseSchemaFromDf(schema)
    Actor.rowwise(ds, outputName, ArrayType(StringType)) { r =>
      val q = r.getAs[String]("question")
      val prompt = template
        .replace("{schema}", schemaText)
        .replace("{question}", q)
        .replace("{context}", contextFor(q))
      val parsed = SchemaRender.parseSchemaLinkFromStr(llm.complete(prompt))
      SchemaRender.normalizeLinks(parsed).typeC
    }
  }

  /** `parallel_slice_parse` (`core/actor/parser/BaseParse.py:160-217`):
    * slice an oversized schema into ≤ sliceSize-column chunks, parse the
    * question against each slice, merge links distinct.
    */
  def actSliced(ds: DataFrame, sliceSize: Int = 500,
      orderCol: String = "column_name"): DataFrame = {
    val sliced = graft.operators.RowOps.withSliceId(schema, orderCol, sliceSize)
    val sliceIds = sliced.select("slice_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val perSlice = sliceIds.toSeq.map { sid =>
      copy(schema = sliced.filter(col("slice_id") === sid).drop("slice_id")).act(ds)
    }
    Actor.mergeById(ds, outputName, ArrayType(StringType), perSlice)(Actor.distinctLinks)
  }
}

/** Bidirectional linking (reference `RSLSQLBiDirParse.py:13-500`):
  * LLM forward pass over the schema, plus a backward pass extracting
  * schema identifiers from a candidate SQL column (`pred_sql`) by
  * tokenizing and intersecting with the schema vocabulary.
  */
final case class BiDirLinkParser(llm: LlmClient, schema: DataFrame) extends Actor {
  val name = "RSLSQLBiDirParser"
  override val outputName = "schema_links"
  override val skill = "bidirectional linking: LLM forward + SQL-derived backward"

  def act(ds: DataFrame): DataFrame = {
    val schemaText = SchemaRender.parseSchemaFromDf(schema)
    val vocab = schema.select("table_name", "column_name").collect()
      .flatMap(r => Seq(r.getString(0).toLowerCase,
        s"${r.getString(0)}.${r.getString(1)}".toLowerCase,
        r.getString(1).toLowerCase)).toSet
    val hasPred = ds.columns.contains("pred_sql")
    Actor.rowwise(ds, outputName, ArrayType(StringType)) { r =>
      val forward = SchemaRender.parseSchemaLinkFromStr(llm.complete(
        s"Link the question to the schema.\n{schema}\nQuestion: ${r.getAs[String]("question")}\n"
          .replace("{schema}", schemaText) + "Schema_links: [...]"))
      val backward = Option(if (hasPred) r.getAs[String]("pred_sql") else null)
        .fold(Seq.empty[String])(p => SqlText.tokenize(p.toLowerCase).filter(vocab.contains))
      SchemaRender.normalizeLinks(forward ++ backward).typeC
    }
  }
}

/** Factory wiring the six reference parser methods to their prompt
  * shapes. Each cites its reference actor; templates are condensed
  * originals (the LLM behavior lives behind `LlmClient`).
  */
object ParseActors {

  /** DIN-SQL CoT (`DINSQLCoTParse.py:17-146`). */
  def dinsql(llm: LlmClient, schema: DataFrame): CoTLinkParser =
    CoTLinkParser(llm, schema,
      "Find the schema links for generating SQL for the question.\n" +
        "{schema}\nQ: {question}\nA: Let's think step by step.\nSchema_links: [...]",
      "DINSQLCoTParser")

  /** LinkAlign generate-selector chain (`LinkAlignParse.py:19-149`). */
  def linkAlign(llm: LlmClient, schema: DataFrame): CoTLinkParser =
    CoTLinkParser(llm, schema,
      "As a schema-linking agent, select every table.column the query " +
        "needs.\n{schema}\nQuery: {question}\nSchema_links: [...]",
      "LinkAlignParser")

  /** MAC-SQL selector-style extraction (`MACSQLCoTParse.py:14-171`). */
  def macsql(llm: LlmClient, schema: DataFrame): CoTLinkParser =
    CoTLinkParser(llm, schema,
      "Select the relevant tables and columns for the question.\n" +
        "{schema}\nQuestion: {question}\nSchema_links: [...]",
      "MACSQLCoTParser")

  /** OpenSearch-SQL CoT with DB value probes
    * (`OpenSearchCoTParse.py:17-505`): probe results are injected as
    * {context} by the caller-supplied prober.
    */
  def openSearch(llm: LlmClient, schema: DataFrame,
      prober: String => String): CoTLinkParser =
    CoTLinkParser(llm, schema,
      "Schema:\n{schema}\nDB value probes:\n{context}\n" +
        "Question: {question}\nSchema_links: [...]",
      "OpenSearchCoTParser", contextFor = prober)

  /** CHESS select-schema with entity context
    * (`CHESSSelectorParse.py:17-314`): entity retrieval (LIKE-scan
    * analog) supplies {context}.
    */
  def chess(llm: LlmClient, schema: DataFrame,
      entityContext: String => String): CoTLinkParser =
    CoTLinkParser(llm, schema,
      "Schema:\n{schema}\nEntity context:\n{context}\n" +
        "Question: {question}\nSchema_links: [...]",
      "CHESSSelectorParser", contextFor = entityContext)

  /** RSL-SQL bidirectional (`RSLSQLBiDirParse.py:13-500`). */
  def rslsqlBiDir(llm: LlmClient, schema: DataFrame): BiDirLinkParser =
    BiDirLinkParser(llm, schema)

  /** Register all with the pool for workflow specs. */
  def registerAll(llm: LlmClient, schema: DataFrame): Unit = {
    ActorPool.register("DINSQLCoTParser", () => dinsql(llm, schema))
    ActorPool.register("LinkAlignParser", () => linkAlign(llm, schema))
    ActorPool.register("MACSQLCoTParser", () => macsql(llm, schema))
    ActorPool.register("RSLSQLBiDirParser", () => rslsqlBiDir(llm, schema))
  }
}
