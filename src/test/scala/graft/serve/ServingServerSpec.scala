package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Callable, CountDownLatch, Executors, Future, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.actors.{Actor, ActorPool, LlmGenerator}
import graft.catalog.Tables
import graft.core.CacheBin
import graft.llm.MockLlm

/** End-to-end serving: start the HTTP server, POST question records,
  * decode the JSON responses — the full reference `app/run.py` path
  * with `MockLlm` standing in for the generation model.
  */
class ServingServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  // the JDK server speaks HTTP/1.1 only; skip the h2c upgrade dance
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private lazy val schemaDf = {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    Seq(("region", "r_regionkey", "INTEGER"), ("region", "r_name", "TEXT"))
      .toDF("table_name", "column_name", "column_types")
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def withServer(pred: String)(f: Int => Unit): Unit = {
    val server = new ServingServer(spark,
      LlmGenerator(MockLlm(default = pred), schemaDf),
      taskTimeoutSec = 120, sqlTimeoutSec = 60)
    val port = server.start()
    try f(port) finally server.stop()
  }

  test("POST /api/run answers a question and scores EX against gold") {
    withServer("SELECT COUNT(*) AS n FROM region") { port =>
      val (status, body) = post(port, "/api/run",
        """{"instance_id":"s1","question":"how many regions",
          |"gold_sql":"SELECT COUNT(*) AS n FROM region"}""".stripMargin)
      assert(status == 200, body)
      val root = mapper.readTree(body)
      assert(root.get("pred_sql").asText() == "SELECT COUNT(*) AS n FROM region")
      assert(root.get("execute_accuracy").asInt() == 1)
      assert(root.get("duration_seconds").asDouble() > 0.0)
    }
  }

  test("POST /api/run without gold returns null accuracy; bad payload 400s") {
    withServer("SELECT 1 AS x") { port =>
      val (s1, b1) = post(port, "/api/run",
        """{"instance_id":"s2","question":"anything"}""")
      assert(s1 == 200 && mapper.readTree(b1).get("execute_accuracy").isNull)
      val (s2, _) = post(port, "/api/run", """{"question":"no id"}""")
      assert(s2 == 400)
      val (s3, _) = post(port, "/api/run", "not json at all")
      assert(s3 == 500 || s3 == 400)
    }
  }

  test("reference-shaped task_lis batch: pipelines built from the actor registry") {
    import graft.actors.GeneratorRegistry
    import graft.exec.SqlBackend
    // register a named generator whose pipeline the CLIENT selects
    GeneratorRegistry.registerAll(
      MockLlm(default = "SELECT COUNT(*) AS n FROM region"),
      new SqlBackend(spark), schemaDf)
    val server = new ServingServer(spark,
      LlmGenerator(MockLlm(default = "SELECT 0 AS wrong"), schemaDf), // default pipeline is WRONG
      taskTimeoutSec = 120, sqlTimeoutSec = 60,
      dataset = Map("v1" -> ("how many regions", Some("SELECT COUNT(*) AS n FROM region"))))
    val port = server.start()
    try {
      // the registry-built pipeline answers correctly (> 3.0); the
      // default pipeline entry ({} = no task_lis) is wrong (0.0);
      // an unknown actor name scores the failed-init -0.5
      val (status, body) = post(port, "/api/run_batch",
        """{"v1": [["LlmGenerator"], {}, ["NoSuchGenerator"]]}""")
      assert(status == 200, body)
      val scores = mapper.readTree(body).get("v1")
      assert(scores.get(0).asDouble() > 3.0, s"registry pipeline should win: $body")
      assert(scores.get(1).asDouble() == 0.0, s"default pipeline is wrong: $body")
      assert(scores.get(2).asDouble() == -0.5, s"unknown actor = failed init: $body")

      // /api/run with task_lis + dataset-resolved question/gold
      val (s2, b2) = post(port, "/api/run",
        """{"instance_id":"v1","task_lis":["LlmGenerator"]}""")
      assert(s2 == 200, b2)
      assert(mapper.readTree(b2).get("execute_accuracy").asInt() == 1)
    } finally server.stop()
  }

  test("POST /api/run_batch applies the staged reward per item") {
    // pred executes and matches gold → 0.5 + 1 + 1.5 + speed bonus (> 3.0);
    // pred executes but wrong result → 0.5 + 1 − 1.5 = 0.0;
    // gold broken → cannot evaluate → 0.5 − 1 = −0.5
    withServer("SELECT COUNT(*) AS n FROM region") { port =>
      val (status, body) = post(port, "/api/run_batch",
        """{"val_0":[
          |  {"question":"count regions","gold_sql":"SELECT COUNT(*) AS n FROM region"},
          |  {"question":"count regions","gold_sql":"SELECT COUNT(*) + 1 AS n FROM region"},
          |  {"question":"count regions","gold_sql":"SELECT broken FROM nowhere"}
          |]}""".stripMargin)
      assert(status == 200, body)
      val scores = mapper.readTree(body).get("val_0")
      assert(scores.size() == 3)
      assert(scores.get(0).asDouble() > 3.0 && scores.get(0).asDouble() <= 3.5)
      assert(scores.get(1).asDouble() == 0.0)
      assert(scores.get(2).asDouble() == -0.5)
    }
  }

  test("GET /healthz responds ok") {
    withServer("SELECT 1 AS x") { port =>
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/healthz")).GET().build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200 && resp.body().contains("ok"))
    }
  }

  test("duplicate task signatures in a batch execute once and share the score") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val inner = LlmGenerator(
      MockLlm(default = "SELECT COUNT(*) AS n FROM region"), schemaDf)
    val counting = new graft.actors.Actor {
      def name = "Counting"
      override def outputName: String = inner.outputName
      def act(ds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        calls.incrementAndGet(); inner.act(ds)
      }
    }
    val server = new ServingServer(spark, counting,
      taskTimeoutSec = 120, sqlTimeoutSec = 60)
    val port = server.start()
    try {
      // the SAME signature under two DIFFERENT instance ids is still
      // one execution (the reference dedups on the signature, not the id)
      val (status, body) = post(port, "/api/run_batch",
        """{"d1":[
          |  {"question":"count regions","gold_sql":"SELECT COUNT(*) AS n FROM region"},
          |  {"question":"count regions","gold_sql":"SELECT COUNT(*) AS n FROM region"}
          |],
          |"d2":[
          |  {"question":"count regions","gold_sql":"SELECT COUNT(*) AS n FROM region"}
          |]}""".stripMargin)
      assert(status == 200, body)
      val root = mapper.readTree(body)
      val s1 = root.get("d1")
      assert(s1.size() == 2, body)
      assert(s1.get(0).asDouble() == s1.get(1).asDouble(), body)
      assert(s1.get(0).asDouble() > 3.0, body)
      assert(root.get("d2").get(0).asDouble() == s1.get(0).asDouble(), body)
      assert(calls.get() == 1, s"duplicate signature must run once, ran ${calls.get()}")
    } finally server.stop()
  }

  test("a hung pipeline times out, is interrupted, and the server stays live") {
    val interrupted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hanging = new graft.actors.Actor {
      def name = "Hanging"
      def act(ds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        try Thread.sleep(60000L)
        catch { case _: InterruptedException => interrupted.set(true); throw new RuntimeException("interrupted") }
        ds
      }
    }
    val server = new ServingServer(spark, hanging,
      taskTimeoutSec = 2, sqlTimeoutSec = 5)
    val port = server.start()
    try {
      val t0 = System.nanoTime()
      val (status, body) = post(port, "/api/run",
        """{"instance_id":"h1","question":"hang"}""")
      val secs = (System.nanoTime() - t0) / 1e9
      assert(status == 500, body)
      assert(body.contains("timeout"), body)
      assert(secs < 30, s"timeout must fire near the cap, took $secs s")
      // the worker thread was interrupted, not abandoned
      Thread.sleep(300)
      assert(interrupted.get(), "hung worker must be interrupted")
      // and the server still answers (healthz never blocked; api free)
      val req = java.net.http.HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/healthz")).GET().build()
      assert(http.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
    } finally server.stop()
  }

  test("the benchmark dialect threads into serving-time EX scoring") {
    // gold is sqlite integer division (7/2 = 3); the pred returns the
    // truncated value — EX agrees only through the sqlite-strict door
    def scoreWith(dialect: String): Int = {
      val server = new ServingServer(spark,
        LlmGenerator(MockLlm(default = "SELECT 3 AS q"), schemaDf),
        taskTimeoutSec = 120, sqlTimeoutSec = 60, dialect = dialect)
      val port = server.start()
      try {
        val (s, b) = post(port, "/api/run",
          """{"instance_id":"sq1","question":"half of seven",
            |"gold_sql":"SELECT 7 / 2 AS q"}""".stripMargin)
        assert(s == 200, b)
        mapper.readTree(b).get("execute_accuracy").asInt()
      } finally server.stop()
    }
    assert(scoreWith("sqlite") == 1, "sqlite semantics: 7/2 = 3 matches")
    assert(scoreWith("spark") == 0, "spark semantics: 7/2 = 3.5 differs")
  }

  test("one-question serving latency: warm fast path, measured envelope") {
    // the full /api/run path per request: HTTP decode -> actor
    // pipeline (mock LLM, so generation adds nothing) -> pred SQL
    // EXECUTES on Spark -> EX scoring runs gold AND pred again ->
    // JSON encode. The reference caps serving SQL eval at 150 s
    // (app/run.py:49-50) and the per-task wait at 1200 s — this pins
    // the measured warm latency orders of magnitude inside that
    // envelope and prints it for SCALE.md.
    withServer("SELECT COUNT(*) AS n FROM region") { port =>
      def once(): Double = {
        val t0 = System.nanoTime()
        val (s, b) = post(port, "/api/run",
          """{"instance_id":"lat1","question":"how many regions",
            |"gold_sql":"SELECT COUNT(*) AS n FROM region"}""".stripMargin)
        assert(s == 200, b)
        assert(mapper.readTree(b).get("execute_accuracy").asInt() == 1)
        (System.nanoTime() - t0) / 1e9
      }
      (1 to 3).foreach(_ => once()) // warm: codegen + parquet footers
      val lats = (1 to 10).map(_ => once()).sorted
      val median = lats(lats.size / 2)
      val p95 = lats(math.min(lats.size - 1, (lats.size * 95) / 100))
      info(f"serving /api/run warm latency: median $median%.3f s, " +
        f"p95 $p95%.3f s over 10 requests (reference envelope: 150 s " +
        "SQL eval cap, 1200 s task cap)")
      assert(median < 10.0,
        f"warm one-question latency $median%.2f s is not a fast path")
    }
  }

  /** Run `tasks` on a pool of `threads` client threads; results in order. */
  private def concurrently[A](threads: Int)(tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
      .map(_.get(120, TimeUnit.SECONDS))
    finally pool.shutdownNow()
  }

  private def async[A](body: => A): Future[A] = {
    val pool = Executors.newSingleThreadExecutor()
    try pool.submit(new Callable[A] { def call(): A = body })
    finally pool.shutdown()
  }

  private def healthz(port: Int): Int = http.send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/healthz")).GET().build(),
    HttpResponse.BodyHandlers.ofString()).statusCode()

  private def countRegions(iid: String): String =
    s"""{"instance_id":"$iid","question":"count regions",
       |"gold_sql":"SELECT COUNT(*) AS n FROM region"}""".stripMargin

  /** Wraps `inner`, running `before` first in the request's worker. */
  private def around(inner: Actor)(before: DataFrame => Unit): Actor = new Actor {
    def name = "Around"
    override def outputName: String = inner.outputName
    def act(ds: DataFrame): DataFrame = { before(ds); inner.act(ds) }
  }

  private def cached(df: DataFrame): Boolean =
    df.storageLevel.useMemory || df.storageLevel.useDisk

  test("16 concurrent /api/run requests answer as the same 16 sent one at a time") {
    // every third pred names the wrong nation, so EX is 0 there
    val n = 16
    val llm = MockLlm(playbook = (0 until n).map(i =>
      s"[c$i]" -> s"SELECT n_name FROM nation WHERE n_nationkey = ${if (i % 3 == 0) i + 1 else i}"))
    val server = new ServingServer(spark, LlmGenerator(llm, schemaDf),
      taskTimeoutSec = 120, sqlTimeoutSec = 60)
    val port = server.start()
    def ask(i: Int): (Int, (String, Int)) = {
      val (status, body) = post(port, "/api/run",
        s"""{"instance_id":"c$i","question":"which nation [c$i]",
           |"gold_sql":"SELECT n_name FROM nation WHERE n_nationkey = $i"}""".stripMargin)
      assert(status == 200, body)
      val js = mapper.readTree(body)
      i -> (js.get("pred_sql").asText() -> js.get("execute_accuracy").asInt())
    }
    try {
      val serial = (0 until n).map(ask).toMap
      val parallel = concurrently(8)((0 until n).map(i => () => ask(i))).toMap
      assert(parallel == serial)
      assert(serial.values.map(_._2).toSet == Set(0, 1), serial.toString)
    } finally server.stop()
  }

  test("a hung request times out alone: a concurrent request's running job survives the cancel") {
    // the normal request's gold statement blocks inside a Spark task
    // until the hung request has timed out and cancelled its group
    val gate = ServingServerSpec.gate("hung-vs-normal")
    spark.udf.register("spec_gate", org.apache.spark.sql.functions.udf(
      (k: String) => ServingServerSpec.pass(k)).asNondeterministic())
    val interrupted = new AtomicBoolean(false)
    val hangEntered = new CountDownLatch(1)
    ActorPool.register("SpecHangingGenerator", () => new Actor {
      def name = "Hanging"
      def act(ds: DataFrame): DataFrame = {
        hangEntered.countDown()
        try Thread.sleep(60000L)
        catch { case _: InterruptedException => interrupted.set(true); throw new RuntimeException("interrupted") }
        ds
      }
    })
    val server = new ServingServer(spark,
      LlmGenerator(MockLlm(default = "SELECT COUNT(*) AS n FROM region"), schemaDf),
      taskTimeoutSec = 2, sqlTimeoutSec = 60)
    val port = server.start()
    try {
      val hung = async(post(port, "/api/run",
        """{"instance_id":"h2","question":"hang","task_lis":["SpecHangingGenerator"]}"""))
      assert(hangEntered.await(30, TimeUnit.SECONDS), "hung pipeline never started")
      val normal = async(post(port, "/api/run",
        """{"instance_id":"n2","question":"count regions",
          |"gold_sql":"SELECT COUNT(*) AS n FROM region WHERE spec_gate('hung-vs-normal') = 1"}""".stripMargin))
      assert(gate.entered.await(30, TimeUnit.SECONDS), "normal request's job never started")
      val (hs, hb) = hung.get(30, TimeUnit.SECONDS)
      assert(hs == 500 && hb.contains("timeout"), hb)
      assert(!normal.isDone, "the normal request's job must span the cancel")
      gate.release.countDown()
      val (ns, nb) = normal.get(60, TimeUnit.SECONDS)
      assert(ns == 200, nb)
      assert(mapper.readTree(nb).get("execute_accuracy").asInt() == 1, nb)
      Thread.sleep(300)
      assert(interrupted.get(), "hung worker must be interrupted")
    } finally { gate.release.countDown(); server.stop() }
  }

  test("a tracked frame outlives a concurrent request's scope drain of the same plan") {
    // both requests persist the same plan, so Spark keeps ONE cache
    // entry for them; the second request's drain must leave it cached
    // for the first, still running, and the first's drain frees it
    val pinned, release = new CountDownLatch(1)
    val holderTaken = new AtomicBoolean(false)
    val seen = new AtomicReference[String]("holder never read its frame")
    val pipeline = around(LlmGenerator(
      MockLlm(default = "SELECT COUNT(*) AS n FROM region"), schemaDf)) { _ =>
      val f = CacheBin.track(Tables.load(spark, sfDir, "region").select("r_regionkey").persist())
      f.count()
      if (holderTaken.compareAndSet(false, true)) {
        pinned.countDown()
        release.await(60, TimeUnit.SECONDS)
        seen.set(s"cached=${cached(f)} rows=${f.count()}")
      }
    }
    val rdds0 = spark.sparkContext.getPersistentRDDs.size
    val server = new ServingServer(spark, pipeline, taskTimeoutSec = 120, sqlTimeoutSec = 60)
    val port = server.start()
    try {
      val holder = async(post(port, "/api/run", countRegions("p1")))
      assert(pinned.await(30, TimeUnit.SECONDS), "holder never pinned its frame")
      val (s, b) = post(port, "/api/run", countRegions("p2"))
      assert(s == 200, b)
      release.countDown()
      val (hs, hb) = holder.get(60, TimeUnit.SECONDS)
      assert(hs == 200, hb)
      assert(seen.get == "cached=true rows=5")
      assert(spark.sparkContext.getPersistentRDDs.size == rdds0)
    } finally { release.countDown(); server.stop() }
  }

  test("at most defaultParallelism pipelines in flight; /healthz answers while every permit is held") {
    val permits = spark.sparkContext.defaultParallelism
    val inFlight, peak = new AtomicInteger(0)
    val entered = new CountDownLatch(permits)
    val release = new CountDownLatch(1)
    val pipeline = around(LlmGenerator(
      MockLlm(default = "SELECT COUNT(*) AS n FROM region"), schemaDf)) { _ =>
      peak.accumulateAndGet(inFlight.incrementAndGet(), (a, b) => math.max(a, b))
      entered.countDown()
      try release.await(60, TimeUnit.SECONDS) finally inFlight.decrementAndGet()
    }
    val server = new ServingServer(spark, pipeline, taskTimeoutSec = 120, sqlTimeoutSec = 60)
    val port = server.start()
    val pool = Executors.newFixedThreadPool(2 * permits)
    try {
      val replies = (0 until 2 * permits).map(i => pool.submit(new Callable[(Int, String)] {
        def call(): (Int, String) = post(port, "/api/run", countRegions(s"b$i"))
      }))
      assert(entered.await(60, TimeUnit.SECONDS), s"$permits pipelines never ran at once")
      Thread.sleep(500) // room for a broken bound to let a fifth one in
      assert(inFlight.get == permits)
      assert(healthz(port) == 200)
      release.countDown()
      replies.foreach { r =>
        val (s, b) = r.get(120, TimeUnit.SECONDS)
        assert(s == 200 && mapper.readTree(b).get("execute_accuracy").asInt() == 1, b)
      }
      assert(peak.get == permits)
    } finally { release.countDown(); pool.shutdownNow(); server.stop() }
  }

  test("after 50 concurrent requests, persisted RDDs and CacheBin are back at their start") {
    // each request persists one plan shared by all requests and one of
    // its own, and tracks both in its scope
    val pipeline = around(LlmGenerator(
      MockLlm(default = "SELECT COUNT(*) AS n FROM region"), schemaDf)) { ds =>
      CacheBin.track(Tables.load(spark, sfDir, "region").select("r_name").persist()).count()
      CacheBin.track(ds.select("instance_id").persist()).count()
    }
    val rdds0 = spark.sparkContext.getPersistentRDDs.size
    val pending0 = CacheBin.pending
    val server = new ServingServer(spark, pipeline, taskTimeoutSec = 120, sqlTimeoutSec = 60)
    val port = server.start()
    try {
      val replies = concurrently(10)((0 until 50).map { i => () =>
        if (i % 10 == 9) post(port, "/api/run_batch",
          s"""{"m$i":[{"question":"count regions","gold_sql":"SELECT COUNT(*) AS n FROM region"}]}""")
        else post(port, "/api/run", countRegions(s"m$i"))
      })
      replies.foreach { case (s, b) => assert(s == 200, b) }
      assert(spark.sparkContext.getPersistentRDDs.size == rdds0)
      assert(CacheBin.pending == pending0)
    } finally server.stop()
  }

  test("stop() shuts the HTTP handler pool down") {
    def handlers: Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith(ServingServer.HandlerThreadPrefix)).toSet
    val before = handlers
    val server = new ServingServer(spark,
      LlmGenerator(MockLlm(default = "SELECT 1 AS x"), schemaDf))
    val port = server.start()
    assert(concurrently(4)(Seq.fill(8)(() => healthz(port))).forall(_ == 200))
    assert((handlers -- before).nonEmpty, "requests ran on no named handler thread")
    server.stop()
    val deadline = System.nanoTime() + 5000000000L
    while ((handlers -- before).nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert((handlers -- before).isEmpty, s"alive after stop(): ${(handlers -- before).map(_.getName)}")
  }

  test("job budget: one warm /api/run") {
    // the gold and pred statements (the pipeline's flat local frame runs
    // none); a change that moves this number updates it here and says
    // why in CHANGES.md
    withServer("SELECT COUNT(*) AS n FROM region") { port =>
      val body = """{"instance_id":"jb1","question":"how many regions",
                   |"gold_sql":"SELECT COUNT(*) AS n FROM region"}""".stripMargin
      assert(post(port, "/api/run", body)._1 == 200) // warm
      var status = 0
      val jobs = org.apache.spark.JobBudget.count(spark) {
        status = post(port, "/api/run", body)._1
      }
      assert(status == 200)
      assert(jobs == RunJobs, s"/api/run ran $jobs jobs")
    }
  }

  test("job budget: one warm /api/run_batch") {
    // three staged-reward items: a match, a wrong result, a broken gold
    withServer("SELECT COUNT(*) AS n FROM region") { port =>
      val body = """{"jb2":[
          |  {"question":"count regions","gold_sql":"SELECT COUNT(*) AS n FROM region"},
          |  {"question":"count regions","gold_sql":"SELECT COUNT(*) + 1 AS n FROM region"},
          |  {"question":"count regions","gold_sql":"SELECT broken FROM nowhere"}
          |]}""".stripMargin
      assert(post(port, "/api/run_batch", body)._1 == 200) // warm
      var status = 0
      val jobs = org.apache.spark.JobBudget.count(spark) {
        status = post(port, "/api/run_batch", body)._1
      }
      assert(status == 200)
      assert(jobs == BatchJobs, s"/api/run_batch ran $jobs jobs")
    }
  }

  private val RunJobs = 4
  private val BatchJobs = 8
}

object ServingServerSpec {
  /** A gate a Spark task can wait on: in local mode tasks run in this
    * JVM, so a UDF reaches it by key.
    */
  final class Gate {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
  }
  private val gates = scala.collection.concurrent.TrieMap.empty[String, Gate]

  def gate(key: String): Gate = { val g = new Gate; gates(key) = g; g }

  def pass(key: String): Int = {
    val g = gates(key)
    g.entered.countDown()
    g.release.await(60, TimeUnit.SECONDS)
    1
  }
}
