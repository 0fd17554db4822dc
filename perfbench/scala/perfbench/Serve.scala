package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame

import graft.actors.{Actor, ActorPool, GeneratorRegistry, LlmGenerator, OptimizeActors, ParseActors, PipelineActor, ZeroReducer}
import graft.core.{CacheBin, Engine, GraftConfig}
import graft.exec.{ExecResult, SqlBackend}
import graft.llm.LlmClient
import graft.serve.ServingServer
import graft.text.SqlText

/** Deterministic LLM: answers each prompt from the question's script,
  * found by the `[qNNN]` tag every generated question carries.
  * Schema-linking prompts get a fixed link list, generation prompts the
  * question's first SQL, repair prompts its repaired SQL. Generation
  * prompts are counted per question: one per pipeline execution.
  */
final class ScriptedLlm(qs: Map[String, Gen.Question]) extends LlmClient {
  private val Tag = """\[(q\d+)\]""".r
  val calls, repairs = new LongAdder
  val generations = new ConcurrentHashMap[String, LongAdder]()
  def complete(prompt: String): String = Trace.span("llm.complete") {
    calls.increment()
    val q = Tag.findFirstMatchIn(prompt).map(m => qs(m.group(1)))
      .getOrElse(throw new IllegalStateException("prompt without a question tag"))
    if (prompt.startsWith("Fix the SQL")) { repairs.increment(); q.repaired }
    else if (prompt.startsWith("Write one SQL query")) {
      generations.computeIfAbsent(q.id, _ => new LongAdder).increment()
      q.first
    } else "Schema_links: [orders.o_orderkey, customer.c_custkey]"
  }
  def reset(): Unit = { calls.reset(); repairs.reset(); generations.clear() }
}

/** Span around each actor's `act`; name, output column and merge
  * strategy pass through, so `Actor.applyMerged` treats it as the
  * wrapped actor.
  */
final case class TimedActor(inner: Actor) extends Actor {
  val name: String = inner.name
  override def outputName: String = inner.outputName
  override def strategy: graft.actors.MergeStrategy = inner.strategy
  override def skill: String = inner.skill
  def act(ds: DataFrame): DataFrame = Trace.span("actors." + name)(inner.act(ds))
}

/** `SqlBackend` whose analysis-only door is spanned. */
final class TimedBackend(c: Ctx, timeoutSec: Int) extends SqlBackend(c.spark, timeoutSec) {
  override def runDialect(sql: String, dialect: String): ExecResult =
    Trace.span("exec.runDialect")(super.runDialect(sql, dialect))
}

/** Single-question serving: an in-process `ServingServer` on loopback
  * over `Engine.pipeline()`, two closed-loop client connections; about
  * 85 % `/api/run` and 15 % `/api/run_batch` in the reference payload
  * shape (task lists of registered actor names, about half the items
  * repeating a signature). Runs ask the first 60 questions, batches the
  * other 20, so a run and a batch never share an instance id. The
  * actor roster is registered as `ServingMain` registers it. Every
  * response must carry the scripted pred_sql and EX, every batch score
  * must sit in its stage bucket.
  *
  * The traced window serves the same four stages, built from their
  * public constructors, each in a [[TimedActor]], over a
  * [[TimedBackend]]; its roster is registered again over the
  * [[TimedBackend]]. `ActorPool` hands out no factory to wrap, so
  * batch stages carry no actor span. Spans and jobs of the server's
  * threads find their op through the instance id `Serving` puts in the
  * job description (`serving <id>`) or, for `SqlBackend`'s jobs,
  * through the question whose SQL the description holds.
  */
final class Serve extends Workload {
  val primary = "run"
  private val Clients = 2
  private val RunQs = 60
  private val BatchQs = 20
  private var c: Ctx = _
  private var cfg: GraftConfig = _
  private var qs: IndexedSeq[Gen.Question] = IndexedSeq.empty
  private var llm: ScriptedLlm = _
  private var schema: DataFrame = _
  private var plainBackend: SqlBackend = _
  private var timedBackend: SqlBackend = _
  private var plain: ServingServer = _
  private var timed: ServingServer = _
  private val mapper = new ObjectMapper()
  private val maxPersisted, maxPending = new AtomicLong(0)
  private val batchItems = new LongAdder
  /** op -> (client-side ms, server-reported duration_seconds) */
  private val durations = new ConcurrentHashMap[Long, (Double, Double)]()
  /** instance id -> op of the request in flight that carries it */
  private val inflight = new ConcurrentHashMap[String, java.lang.Long]()
  /** op -> the instance ids its request carries */
  private val opKeys = new ConcurrentHashMap[Long, Set[String]]()
  /** SQL job description -> the question whose SQL it is */
  private var sqlOwner: Map[String, String] = Map.empty

  def setup(ctx: Ctx): Unit = {
    c = ctx
    qs = Gen.questions(c.seed, RunQs + BatchQs).toIndexedSeq
    llm = new ScriptedLlm(qs.map(q => q.id -> q).toMap)
    sqlOwner = qs.flatMap(q => Gen.sqlKeys(q).map(_ -> q.id)).toMap
    val sys = new java.io.File(s"${c.root}/sys_config.json")
    java.nio.file.Files.writeString(sys.toPath,
      s"""{"benchmark": [{"id": "perfbench", "root_path": "${c.dataDir}", "db_type": "spark", "has_sub": false}]}""")
    cfg = GraftConfig(dataId = "perfbench", sysConfigPath = sys.getPath,
      parallelism = math.min(5, c.cores), debugTurns = 2)
    val engine = new Engine(c.spark, cfg, llm)
    schema = engine.schemaDf
    plainBackend = new SqlBackend(c.spark, cfg.sqlTimeoutSec)
    timedBackend = new TimedBackend(c, cfg.sqlTimeoutSec)
    val stages = Seq(ZeroReducer(), ParseActors.dinsql(llm, schema),
      LlmGenerator(llm, schema, parallelism = cfg.parallelism),
      OptimizeActors.macsql(llm, timedBackend, schema,
        debugTurns = math.max(cfg.debugTurns, 1), parallelism = cfg.parallelism))
      .map(TimedActor)
    val dataset = qs.map(q => q.id -> (q.text, Option(q.gold))).toMap
    plain = new ServingServer(c.spark, engine.pipeline(), dataset = dataset)
    timed = new ServingServer(c.spark, PipelineActor(stages), dataset = dataset)
    plain.start(); timed.start()
    Trace.opOfThread = () =>
      Option(c.spark.sparkContext.getLocalProperty("spark.job.description"))
        .filter(_.startsWith("serving ")).flatMap(d => Option(inflight.get(d.stripPrefix("serving "))))
        .fold(0L)(_.longValue)
  }

  override def close(): Unit = { Trace.opOfThread = () => 0L; plain.stop(); timed.stop() }

  /** The actor roster `ServingMain` registers, plus the parsers and the
    * ZeroReducer the run_batch task lists name.
    */
  private def register(backend: SqlBackend): Unit = {
    GeneratorRegistry.registerAll(llm, backend, schema, generateNum = cfg.generateNum)
    ParseActors.registerAll(llm, schema)
    ActorPool.register("ZeroReducer", () => ZeroReducer())
  }

  private val TaskLis = """["ZeroReducer", "DINSQLCoTParser", "LlmGenerator", "MACSQLOptimizer"]"""

  /** One client: a closed loop until the deadline. Request j of client
    * i is global request g = 2j + i of a fixed schedule: every seventh
    * is the b-th run_batch (b = g / 7) over batch questions 3b, 3b + 1
    * and 3b + 2 (task lists repeated 2, 1 and 2 times), the others an
    * /api/run of run question g.
    */
  private def client(idx: Int, port: Int, deadlineNs: Long, w: Window, maxOps: Int): Unit = {
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    var j = 0
    while ((System.nanoTime() < deadlineNs || !w.has("batch")) && j < maxOps) {
      val g = Clients * j + idx
      j += 1
      val op = Main.opIds.incrementAndGet()
      if (g % 7 != 6) {
        val q = qs(g % RunQs)
        val (t0, t1, status, body) = post(http, op, Seq(q.id), port, "/api/run",
          s"""{"instance_id": "${q.id}"}""")
        w.record("run", t1 - t0, 1)
        w.ops.add((op, "run", t0, t1))
        val js = mapper.readTree(body)
        durations.put(op, ((t1 - t0) / 1e6, js.path("duration_seconds").asDouble(-1)))
        w.check(status == 200 && js.path("pred_sql").asText() == SqlText.clean(q.repaired) &&
          js.path("execute_accuracy").asInt(-1) == q.expectedEx,
          s"run ${q.id}: status $status body ${body.take(200)}")
      } else {
        val reps = (0 until 3).map(d => qs(RunQs + (3 * (g / 7) + d) % BatchQs)).zip(Seq(2, 1, 2))
        val payload = reps.map { case (q, k) =>
          s""""${q.id}": [${Seq.fill(k)(TaskLis).mkString(", ")}]""" }.mkString("{", ", ", "}")
        val (t0, t1, status, body) = post(http, op, reps.map(_._1.id), port, "/api/run_batch", payload)
        w.record("batch", t1 - t0, 1)
        w.ops.add((op, "batch", t0, t1))
        batchItems.add(reps.map(_._2).sum)
        val js = mapper.readTree(body)
        val ok = status == 200 && reps.forall { case (q, k) =>
          val arr = js.path(q.id)
          arr.isArray && arr.size == k && (0 until k).forall { i =>
            val s = arr.get(i).asDouble(Double.NaN)
            if (q.expectedEx == 1) s >= 3.0 && s <= 3.5 else math.abs(s) < 1e-9
          }
        }
        w.check(ok, s"batch $payload: status $status body ${body.take(200)}")
      }
      maxPersisted.accumulateAndGet(c.spark.sparkContext.getPersistentRDDs.size, math.max)
      maxPending.accumulateAndGet(CacheBin.pending, math.max)
    }
  }

  /** POST `body`; while it is in flight the instance ids `ids` map to
    * op `op`.
    */
  private def post(http: HttpClient, op: Long, ids: Seq[String], port: Int, path: String,
      body: String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    opKeys.put(op, ids.toSet)
    ids.foreach(inflight.put(_, op))
    val t0 = System.nanoTime()
    try {
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      (t0, System.nanoTime(), resp.statusCode(), resp.body())
    } finally ids.foreach(inflight.remove(_, op))
  }

  private def drive(deadlineNs: Long, w: Window, traced: Boolean, maxOps: Int): Unit = {
    if (traced) {
      llm.reset(); batchItems.reset()
      maxPersisted.set(0); maxPending.set(0)
    }
    register(if (traced) timedBackend else plainBackend)
    val port = if (traced) timed.boundPort else plain.boundPort
    val ts = (0 until Clients).map(i => new Thread(() => client(i, port, deadlineNs, w, maxOps)))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    ts.foreach { t => t.setUncaughtExceptionHandler((_, e) => errs.add(e)); t.start() }
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  def warmup(w: Window): Unit = drive(Long.MaxValue, w, traced = false, maxOps = 4)

  def run(deadlineNs: Long, w: Window, traced: Boolean): Unit =
    drive(deadlineNs, w, traced, Int.MaxValue)

  /** The question a job belongs to, from its description. */
  private def jobKey(j: Job): Option[String] =
    Option(j.desc).flatMap(d =>
      if (d.startsWith("serving ")) Some(d.stripPrefix("serving ")) else sqlOwner.get(d))

  def layers(w: Window, spans: Seq[Span], jobs0: Seq[Job]): Map[String, Double] = {
    val ops = w.ops.toArray(Array.empty[(Long, String, Long, Long)]).toSeq
    // a job may reach the listener a little after its reply
    val slackNs = 2000000000L
    val jobs = Jobs.attribute(jobs0, jobKey,
      ops.map { case (op, _, a, b) => (op, opKeys.getOrDefault(op, Set.empty), a, b + slackNs) })
    // an op's server-side interval: its first span or job start to its
    // last end (the client interval also holds the wait for the lock)
    val server = (spans.map(s => (s.op, s.start, s.end)) ++ jobs.map(j => (j.op, j.start, j.end)))
      .groupBy(_._1)
    val serverOps = ops.flatMap { case (op, k, _, _) =>
      server.get(op).map(xs => (op, k, xs.map(_._2).min, xs.map(_._3).max)) }
    val kind = ops.map(o => o._1 -> o._2).toMap
    val runs = ops.filter(_._2 == "run")
    val n = math.max(ops.size, 1).toDouble
    val actorNs = spans.filter(s => s.name.startsWith("actors.") && kind.get(s.op).contains("run"))
      .groupBy(_.op).map { case (op, ss) => op -> ss.map(_.nanos).sum }
    val timing = runs.flatMap(o => Option(durations.get(o._1)))
    val queueMs = timing.map { case (clientMs, durS) => clientMs - durS * 1000.0 }
    val selfMs = runs.flatMap(o => Option(durations.get(o._1)).map { case (_, durS) =>
      durS * 1000.0 - actorNs.getOrElse(o._1, 0L) / 1e6 })
    val batchGen = qs.drop(RunQs).flatMap(q => Option(llm.generations.get(q.id))).map(_.sum()).sum
    Map(
      "actors.parse_ms_p50" -> Stats.median(Layers.ms(spans, "actors.DINSQLCoTParser")),
      "actors.generate_ms_p50" -> Stats.median(Layers.ms(spans, "actors.LlmGenerator")),
      "actors.optimize_ms_p50" -> Stats.median(Layers.ms(spans, "actors.MACSQLOptimizer")),
      "exec.analyze_ms_p50" -> Stats.median(Layers.ms(spans, "exec.runDialect")),
      "llm.calls_per_request" -> llm.calls.sum() / n,
      "llm.repair_calls_per_request" -> llm.repairs.sum() / n,
      "llm.ms_per_request" -> Layers.ms(spans, "llm.complete").sum / n,
      "serve.queue_ms_p50" -> Stats.median(queueMs),
      "serve.handle_self_ms_p50" -> Stats.median(selfMs),
      // signatures executed (one generation prompt each) per item sent
      "serve.batch_exec_ratio" -> batchGen / math.max(batchItems.sum(), 1L).toDouble,
      "core.persistent_rdds_after_op" -> maxPersisted.get.toDouble,
      "core.cachebin_pending_after_op" -> maxPending.get.toDouble
    ) ++ Layers.spark(serverOps, jobs)
  }
}
