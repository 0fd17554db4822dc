package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, Semaphore}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.actors.{Actor, Serving}
import graft.evalx.{Evaluator, ExItem}

/** Online serving entry point — the port of the reference's Flask app
  * (`app/run.py:47-82`, scoring `app/run.py:396-447` +
  * `app/evaluation_helper.py:187-229`): a long-lived Spark session
  * behind a tiny HTTP server answering one question record per request.
  *
  * Endpoints (JSON in/out, mirroring the reference's routes):
  *  - `POST /api/run`   {"instance_id", "question"?, "gold_sql"?,
  *    "task_lis"?: ["ActorName",…]}
  *    → {"duration_seconds", "pred_sql", "execute_accuracy"}  — run the
  *    actor pipeline (the fixed default, or one built from the named
  *    registered actors like the reference's `init_complex_tasks`) for
  *    the single record under the task cap, then (if a gold label is
  *    present) score EX under the eval cap. Question/gold resolve from
  *    the request body first, then the server-held `dataset` (the
  *    reference holds its benchmark dataset the same way).
  *  - `POST /api/run_batch`  — the reference payload shape
  *    {"<instance_id>": [["Gen1"], ["Gen2","Opt1"], …]} (each entry a
  *    task list of registered actor names; nested lists flatten, as in
  *    `parse_task_lis_from_origin`) — and/or inline records
  *    {"question", "gold_sql"?, "task_lis"?}. → {"<instance_id>":
  *    [score,…]}, the staged reward: task completes within
  *    TASK_MAX_WAIT (+0.5) or fails/times out (−0.5, stop); pred SQL
  *    executes (+1) or not / gold unevaluable (−1, stop); result
  *    correct (+1.5) or wrong (−1.5); correct answers earn a speed
  *    bonus 0.5·(taskCap − task_secs)/taskCap from the TASK pipeline
  *    time (reference `app/run.py` step 8 scores TASK execution time
  *    over TASK_MAX_WAIT_TIME, not eval time). Identical (question,
  *    gold, task_lis) signatures within a batch run ONCE and share the
  *    score (reference `run_batch`'s signature dedup,
  *    `app/run.py:276-298`).
  *  - `GET /healthz` → {"status":"ok"} (reference `app/run.py:543`).
  *
  * Spark-native posture: the server is DRIVER-SIDE plumbing around the
  * same `Serving` single-record handler the specs exercise — each
  * request fans out distributed Spark jobs bounded by job-group
  * timeouts (`SqlBackend`), so a stuck query cancels cleanly instead of
  * wedging the session. `com.sun.net.httpserver` keeps the dependency
  * footprint at zero (JDK-only), per the build's no-new-deps rule.
  *
  * Concurrency contract: pipeline requests (`/api/run`,
  * `/api/run_batch`) run concurrently, at most
  * `sparkContext.defaultParallelism` of them at once — the point where
  * statement work saturates the cores (about 4 in flight on 4 vCPU).
  * Further requests wait for a permit in arrival order; nothing is
  * rejected. A request holds ONE permit for its whole body (a batch
  * runs its items in turn), and its JSON is parsed before it asks for
  * one. `/healthz` never waits. The session keeps its FIFO scheduler;
  * what keeps requests apart is per request: a `serving <id>` job
  * group on its own worker thread (`Serving`; a timeout cancels that
  * group only), one job group per SQL statement (`SqlBackend`), and a
  * `CacheBin` scope whose exit drain releases only the request's own
  * frames.
  */
final class ServingServer(spark: SparkSession, pipeline: Actor,
    port: Int = 0,
    taskTimeoutSec: Int = 1200,   // TASK_MAX_WAIT_TIME, app/run.py:49
    sqlTimeoutSec: Int = 150,     // SQL_MAX_WAIT_TIME,  app/run.py:50
    // instance_id → (question, gold) — the server-held benchmark rows
    // the reference's dataloader provides (`app/run.py:60-70`)
    dataset: Map[String, (String, Option[String])] = Map.empty,
    // SQL dialect of the served benchmark (Engine.dialect): sqlite
    // benchmarks must evaluate through the sqlite-strict door here
    // exactly as in Engine.evaluate, or EX disagrees across entry points
    dialect: String = "spark") {

  private val serving =
    new Serving(spark, pipeline, taskTimeoutSec, sqlTimeoutSec, dialect)

  /** Pipeline for a request: the named registered actors when a
    * task_lis is present (reference `init_complex_tasks`), else the
    * server's fixed default. Left = unknown actor name.
    */
  private def pipelineFor(taskLis: Option[Seq[String]]): Either[String, Actor] =
    taskLis match {
      case None | Some(Nil) => Right(pipeline)
      case Some(names) =>
        val resolved = names.map(n => n -> graft.actors.ActorPool.create(n))
        resolved.collectFirst { case (n, None) => n } match {
          case Some(bad) => Left(s"unknown actor '$bad' (registered: " +
            s"${graft.actors.ActorPool.registered.mkString(", ")})")
          case None => Right(graft.actors.PipelineActor(resolved.flatMap(_._2)))
        }
    }

  private def servingFor(p: Actor): Serving =
    if (p eq pipeline) serving
    else new Serving(spark, p, taskTimeoutSec, sqlTimeoutSec, dialect)

  /** Flatten a task_lis JSON node: strings and nested string arrays
    * (reference `parse_task_lis_from_origin`, `app/run.py:156-163`).
    */
  private def flattenTaskLis(node: JsonNode): Seq[String] = {
    val out = Seq.newBuilder[String]
    node.forEach {
      case s if s.isTextual => out += s.asText()
      case a if a.isArray   => a.forEach(x => if (x.isTextual) out += x.asText())
      case _                => ()
    }
    out.result()
  }
  private val evaluator = new Evaluator(spark, sqlTimeoutSec, parallelism = 2, dialect)
  private val mapper = new ObjectMapper()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/api/run", (ex: HttpExchange) => handle(ex, runOne))
  server.createContext("/api/run_batch", (ex: HttpExchange) => handle(ex, runBatch))
  server.createContext("/healthz", (ex: HttpExchange) =>
    respond(ex, 200, mapper.createObjectNode().put("status", "ok")))
  // the handler pool is unbounded so /healthz answers while every
  // permit is held (a liveness probe that blocks behind a 20-minute
  // query would restart a healthy server); `inFlight` bounds the
  // pipeline requests, fairly, so waiting requests go in arrival order
  private val inFlight =
    new Semaphore(math.max(1, spark.sparkContext.defaultParallelism), true)
  private val handlers = {
    val n = new AtomicInteger(0)
    Executors.newCachedThreadPool(r =>
      new Thread(r, ServingServer.HandlerThreadPrefix + n.incrementAndGet()))
  }
  server.setExecutor(handlers)

  def start(): Int = { server.start(); boundPort }
  /** Stop listening and release the handler pool: `HttpServer.stop`
    * leaves a caller-supplied executor running, so it is shut down
    * here — requests in flight finish, then its threads exit.
    */
  def stop(): Unit = { server.stop(0); handlers.shutdown() }
  def boundPort: Int = server.getAddress.getPort

  private def handle(ex: HttpExchange,
      route: JsonNode => (Int, ObjectNode)): Unit = {
    val (status, body) =
      try {
        if (ex.getRequestMethod != "POST")
          (405, err("POST required"))
        else {
          val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val root = mapper.readTree(raw)
          if (root == null || !root.isObject) (400, err("JSON object body required"))
          else {
            inFlight.acquireUninterruptibly()
            // the per-request worker threads inherit the scope, results
            // are materialized before the route returns, and the exit
            // drain releases only this request's frames
            try graft.core.CacheBin.withScope(route(root))
            finally inFlight.release()
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          (500, err(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"))
      }
    respond(ex, status, body)
  }

  private def respond(ex: HttpExchange, status: Int, body: ObjectNode): Unit = {
    val bytes = mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def err(msg: String): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("error", msg)
    o
  }

  private def textOpt(node: JsonNode, field: String): Option[String] =
    Option(node.get(field)).filter(n => n.isTextual && n.asText().nonEmpty)
      .map(_.asText())

  /** `POST /api/run` — single record through the (possibly task_lis-
    * built) pipeline + optional EX score (reference `run_complex_actor`,
    * `app/run.py:199-228`).
    */
  private def runOne(root: JsonNode): (Int, ObjectNode) =
    textOpt(root, "instance_id") match {
      case None => (400, err("instance_id is required"))
      case Some(iid) =>
        val fromDs = dataset.get(iid)
        val q = textOpt(root, "question").orElse(fromDs.map(_._1))
        val gold = textOpt(root, "gold_sql").orElse(fromDs.flatMap(_._2))
        val taskLis = Option(root.get("task_lis")).filter(_.isArray).map(flattenTaskLis)
        (q, pipelineFor(taskLis)) match {
          case (None, _) =>
            (400, err(s"no question in request or server dataset for '$iid'"))
          case (_, Left(e)) => (400, err(e))
          case (Some(question), Right(p)) =>
            val t0 = System.nanoTime()
            servingFor(p).handle(iid, question, gold) match {
              case Left(e) => (500, err(e))
              case Right((pred, score)) =>
                val o = mapper.createObjectNode()
                o.put("duration_seconds", (System.nanoTime() - t0) / 1e9)
                o.put("pred_sql", pred)
                score match {
                  case Some(s) => o.put("execute_accuracy", s)
                  case None    => o.putNull("execute_accuracy")
                }
                (200, o)
            }
        }
    }

  /** `POST /api/run_batch` — staged reward per item (reference
    * `run_batch`, `app/run.py:231-447`). An item is either the
    * reference's task list (array of registered actor names —
    * question/gold resolve from the server dataset) or an inline
    * record {"question", "gold_sql"?, "task_lis"?}.
    */
  private def runBatch(root: JsonNode): (Int, ObjectNode) = {
    val o = mapper.createObjectNode()
    // identical task signatures execute ONCE per batch and share the
    // score (reference `run_batch` dedups before dispatch,
    // `app/run.py:276-298`) — RL rollouts routinely repeat a signature.
    // The signature is (question, gold, task_lis) — NOT the instance
    // id: the same signature under two ids is still one execution
    val memo = scala.collection.mutable.Map
      .empty[(Option[String], Option[String], Option[Seq[String]]), Double]
    val fields = root.properties().iterator()
    while (fields.hasNext) {
      val e = fields.next()
      val iid = e.getKey
      if (!e.getValue.isArray)
        return (400, err(s"task list for `$iid` must be a list"))
      val arr = o.putArray(iid)
      e.getValue.forEach { item =>
        val (q, gold, taskLis) =
          if (item.isArray) { // reference shape: pure task list
            val ds = dataset.get(iid)
            (ds.map(_._1), ds.flatMap(_._2), Some(flattenTaskLis(item)))
          } else (
            textOpt(item, "question").orElse(dataset.get(iid).map(_._1)),
            textOpt(item, "gold_sql").orElse(dataset.get(iid).flatMap(_._2)),
            Option(item.get("task_lis")).filter(_.isArray).map(flattenTaskLis))
        val score = memo.getOrElseUpdate((q, gold, taskLis),
          (q, pipelineFor(taskLis)) match {
            case (None, _) | (_, Left(_)) => -0.5 // failed task init, app/run.py:341-346
            case (Some(question), Right(p)) => stagedScore(servingFor(p), iid, question, gold)
          })
        arr.add(score)
      }
    }
    (200, o)
  }

  /** The reference's cumulative reward: ±0.5 task stage, ±1 execute
    * stage, ±1.5 correctness stage, +0.5·(taskCap−task_secs)/taskCap
    * speed bonus — the bonus measures how fast the PIPELINE answered
    * relative to the task cap (`app/run.py` step 8 uses task time over
    * TASK_MAX_WAIT_TIME), not how fast the eval ran.
    */
  private def stagedScore(s: Serving, iid: String, question: String,
      gold: Option[String]): Double = {
    val t0 = System.nanoTime()
    s.handle(iid, question, goldSql = None) match {
      case Left(_) => -0.5 // pipeline error/timeout: skip all later stages
      case Right((pred, _)) =>
        val taskSecs = (System.nanoTime() - t0) / 1e9
        val afterTask = 0.5
        gold match {
          case None => afterTask // nothing to evaluate against
          case Some(g) =>
            val out = evaluator.evalOne(ExItem(iid, Some(g), Some(pred)))
            if (out.score.isEmpty || out.predError.isDefined)
              afterTask - 1.0 // gold unevaluable or pred not executable
            else if (out.score.contains(1))
              afterTask + 1.0 + 1.5 +
                0.5 * math.max(taskTimeoutSec - taskSecs, 0.0) / taskTimeoutSec
            else afterTask + 1.0 - 1.5
        }
    }
  }
}

object ServingServer {
  /** Name prefix of the HTTP handler threads. */
  val HandlerThreadPrefix = "graft-serve-http-"
}
