package graft.actors

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.llm.{LlmClient, MockLlm}
import graft.tasks.{ComplexTask, ExecProcess, MetaTask, ParallelTask, SequenceTask}

/** Composition framework: merge strategies, pipeline/tree/group, task
  * graph + exec_process grammar, workflow agents with a mock planner.
  */
class ActorFrameworkSpec extends SparkSpec {

  import MergeStrategy._

  private lazy val questions = {
    import spark.implicits._
    Seq(
      ("q1", "select name from users where id = 7", 120L),
      ("q2", "count orders by region last month", 450L),
      ("q3", "", 80L),
      ("q4", "top suppliers by revenue", 300L))
      .toDF("instance_id", "question", "db_size")
  }

  test("pipeline: filter -> slice -> link parse end to end") {
    val out = PipelineActor(Seq(
      FilterReducer("question.db_size-me-100"),
      SliceParser("instance_id", 2),
      RegexLinkParser("question", "[a-z]+s\\b"))).act(questions)
    val rows = out.orderBy("instance_id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("q1", "q2", "q4")) // q3 empty question dropped
    assert(out.columns.contains("slice_id") && out.columns.contains("schema_links"))
    assert(rows.find(_.getString(0) == "q2").get
      .getSeq[String](out.columns.indexOf("schema_links")).contains("orders"))
  }

  test("merge strategies: overwrite replaces, extend concatenates") {
    val gen = TemplateGenerator("SELECT '{}' AS q", Seq("instance_id"))
    val once = Actor.applyMerged(gen, questions)
    val twice = Actor.applyMerged(gen, once)
    assert(twice.select("pred_sql").head().getString(0).startsWith("SELECT '"))

    val scaled = Actor.applyMerged(VariantScaler(Seq(" -- v1", " -- v2")), once)
    val rescaled = Actor.applyMerged(VariantScaler(Seq(" -- v3")), scaled)
    val arr = rescaled.filter(col("instance_id") === "q1")
      .select("pred_sql_list").head().getSeq[String](0)
    assert(arr.length == 3 && arr.last.endsWith("-- v3"))
  }

  test("tree actor groups same-output branches and merges distinct links") {
    val tree = TreeActor(Seq(
      RegexLinkParser("question", "[a-z]+s\\b"),
      RegexLinkParser("question", "order[a-z]*"),
      TemplateGenerator("Q:{}", Seq("question"))))
    val out = tree.act(questions)
    val q2 = out.filter(col("instance_id") === "q2").head()
    val links = q2.getSeq[String](out.columns.indexOf("schema_links"))
    assert(links.distinct.length == links.length) // deduped
    assert(links.contains("orders"))
    assert(q2.getString(out.columns.indexOf("pred_sql")).startsWith("Q:"))
  }

  test("exec_process grammar parses and runs sequence/parallel trees") {
    val n = ExecProcess.parse("[t1,[t2,t3,~p],~s]")
    assert(n == ExecProcess.Branch(Seq(
      ExecProcess.Leaf("t1"),
      ExecProcess.Branch(Seq(ExecProcess.Leaf("t2"), ExecProcess.Leaf("t3")), parallel = true)),
      parallel = false))

    val reg = Map(
      "t1" -> (MetaTask("t1", questions, FilterReducer("question")): graft.tasks.Task),
      "t2" -> MetaTask("t2", questions, SliceParser("instance_id", 2)),
      "t3" -> ComplexTask("t3", questions, Seq(
        RegexLinkParser("question", "[a-z]+"), TemplateGenerator("X{}", Seq("instance_id")))))
    val outs = ExecProcess.run("[t1,[t2,t3,~p],~s]", reg)
    assert(outs.keySet == Set("t1", "t2", "t3"))
    assert(outs("t1").count() == 3)
    assert(outs("t3").columns.contains("pred_sql"))
  }

  test("meta task failure becomes error_info, not a throw") {
    val bad = MetaTask("boom", questions, FilterReducer("no_such_field-me-1"))
    val out = bad.run()("boom")
    assert(out.columns.contains("error_info"))
  }

  test("workflow agents: registry resolve, fork-gather with mock planner") {
    ActorPool.register("KeepAllReducer", () => ZeroReducer())
    ActorPool.register("ShortQReducer", () => FilterReducer("question_length-l-30"))
    val wf = WorkflowAgent("reducer: KeepAllReducer; ShortQReducer")
    assert(wf.run(questions).count() == 2)

    val agent = ForkGatherAgent(MockLlm(default =
      "NopeActor; AlsoNope\nKeepAllReducer; ShortQReducer"))
    assert(!agent.validate("NopeActor"))
    val out = agent.run("shrink the question set", questions)
    assert(out.isRight && out.toOption.get.count() == 2)

    val multi = MultiWorkflowAgent(Seq("KeepAllReducer"))
    assert(multi.run(questions).isRight)
  }

  private lazy val regionSchema = {
    import spark.implicits._
    Seq(("region", "r_regionkey", "INTEGER"), ("region", "r_name", "TEXT"))
      .toDF("table_name", "column_name", "column_types")
  }

  private def generate(ds: org.apache.spark.sql.DataFrame) =
    LlmGenerator(MockLlm(default = "SELECT 1"), regionSchema).act(ds)

  test("rowwise: an empty frame gives an empty frame with the output column, no calls") {
    val calls = new AtomicInteger(0)
    val out = Actor.rowwise(questions.filter(lit(false)), "pred_sql", StringType) { _ =>
      calls.incrementAndGet(); "x"
    }
    assert(out.collect().isEmpty && calls.get == 0)
    assert(out.columns.toSeq == questions.columns.toSeq :+ "pred_sql")
  }

  test("rowwise: duplicate instance_ids give one output row each") {
    import spark.implicits._
    val dup = Seq(("d", "first"), ("d", "second")).toDF("instance_id", "question")
    val out = generate(dup)
    assert(out.select("question").as[String].collect().toSeq == Seq("first", "second"))
  }

  test("rowwise: a row with a NULL instance_id is kept") {
    import spark.implicits._
    val withNull = Seq[(String, String)](("a", "q"), (null, "orphan"))
      .toDF("instance_id", "question")
    val out = generate(withNull)
    assert(out.count() == 2)
    assert(out.filter(col("instance_id").isNull).select("pred_sql").head().getString(0) == "SELECT 1")
  }

  test("rowwise: exactly one per-row call per input row") {
    val calls = new AtomicInteger(0)
    val out = Actor.rowwise(questions, "n", IntegerType, parallelism = 3) { r =>
      calls.incrementAndGet(); r.getAs[String]("question").length
    }
    assert(out.collect().map(_.getInt(3)).toSeq == Seq(35, 33, 0, 24))
    assert(calls.get == 4)
    val llm = new LlmClient {
      val n = new AtomicInteger(0)
      def complete(prompt: String): String = { n.incrementAndGet(); "SELECT 1" }
    }
    assert(LlmGenerator(llm, regionSchema, parallelism = 3).act(questions).count() == 4)
    assert(llm.n.get == 4)
  }

  test("LlmGenerator output keeps its column names and types") {
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq
    assert(shape(generate(questions)) == Seq(
      ("instance_id", StringType, true), ("question", StringType, true),
      ("db_size", LongType, false), ("pred_sql", StringType, true)))
    val linked = RegexLinkParser("question", "[a-z]+").act(questions)
    assert(shape(generate(linked)) == shape(linked) :+ (("pred_sql", StringType, true)))
  }

  test("parser-first generators keep the input's columns and its own schema_links") {
    val llm = MockLlm(playbook = Seq("Schema_links" -> "Schema_links: [region.r_name]"),
      default = "SELECT 1")
    val gen = DinSqlGenerator(llm, regionSchema)
    val plain = gen.act(questions)
    assert(plain.columns.toSeq == questions.columns.toSeq :+ "pred_sql") // no leak
    val own = questions.withColumn("schema_links", array(lit("own")))
    val out = gen.act(own)
    assert(out.columns.toSeq == own.columns.toSeq :+ "pred_sql")
    assert(out.select("schema_links").collect().map(_.getSeq[String](0)).toSeq ==
      Seq.fill(4)(Seq("own")))
    assert(out.select("pred_sql").collect().forall(_.getString(0) == "SELECT 1"))
  }

  test("job budget: Engine.pipeline() over one local row, then collect, runs 0 jobs") {
    import spark.implicits._
    val engine = new graft.core.Engine(spark,
      graft.core.GraftConfig.fromPairs(Map("data_id" -> "testdata:sf0.001")),
      MockLlm(playbook = Seq("Schema_links" -> "Schema_links: [region.r_name]"),
        default = "SELECT COUNT(*) AS n FROM region"))
    val pipeline = engine.pipeline()
    val one = Seq(("j1", "how many regions")).toDF("instance_id", "question")
    var rows = Array.empty[org.apache.spark.sql.Row]
    val jobs = org.apache.spark.JobBudget.count(spark) {
      rows = Actor.applyMerged(pipeline, one).collect()
    }
    assert(rows.map(_.getAs[String]("pred_sql")).toSeq == Seq("SELECT COUNT(*) AS n FROM region"))
    assert(jobs == 0, s"the actor pipeline ran $jobs Spark jobs")
  }
}
