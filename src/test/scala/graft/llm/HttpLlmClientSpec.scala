package graft.llm

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.actors.DinSqlMethod

/** Integration-style proof that the `LlmClient` trait boundary works
  * outside `MockLlm`: a local stub chat-completions server drives the
  * real HTTP client, including the 429-retry path and a skeleton
  * generator end to end.
  */
class HttpLlmClientSpec extends AnyFunSuite {

  /** Stub server: `reply(requestBody)` chooses the assistant content;
    * the first `rateLimitFirst` requests get a 429 with Retry-After.
    */
  private def withStub(rateLimitFirst: Int = 0)(reply: String => String)(
      run: (String, () => Seq[String], () => Seq[String]) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new AtomicInteger(0)
    val bodies = scala.collection.mutable.ArrayBuffer.empty[String]
    val auths = scala.collection.mutable.ArrayBuffer.empty[String]
    server.createContext("/v1/chat/completions", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      bodies.synchronized {
        bodies += body
        auths += Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      }
      if (hits.incrementAndGet() <= rateLimitFirst) {
        ex.getResponseHeaders.add("Retry-After", "0")
        val msg = """{"error":"rate limited"}""".getBytes("UTF-8")
        ex.sendResponseHeaders(429, msg.length)
        ex.getResponseBody.write(msg)
      } else {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = mapper.createObjectNode()
        val msg = root.putArray("choices").addObject()
          .putObject("message")
        msg.put("role", "assistant")
        msg.put("content", reply(body))
        val bytes = mapper.writeValueAsString(root).getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
      }
      ex.close()
    })
    server.start()
    try run(s"http://127.0.0.1:${server.getAddress.getPort}/v1",
      () => bodies.synchronized(bodies.toSeq),
      () => auths.synchronized(auths.toSeq))
    finally server.stop(0)
  }

  test("completes against an OpenAI-compatible endpoint with auth + params") {
    withStub()(_ => "SELECT 1") { (base, bodies, auths) =>
      val llm = new HttpLlmClient(LlmConfig(
        baseUrl = base, model = "test-model", apiKey = "sk-test",
        temperature = 0.25, seed = Some(7L), maxTokens = Some(64)))
      assert(llm.complete("ping") == "SELECT 1")
      val sent = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bodies().head)
      assert(sent.get("model").asText() == "test-model")
      assert(sent.get("temperature").asDouble() == 0.25)
      assert(sent.get("seed").asLong() == 7L)
      assert(sent.get("max_tokens").asInt() == 64)
      assert(sent.get("messages").get(0).get("role").asText() == "user")
      assert(sent.get("messages").get(0).get("content").asText() == "ping")
      assert(auths().head == "Bearer sk-test")
    }
  }

  test("retries 429 with backoff, honoring Retry-After") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    withStub(rateLimitFirst = 2)(_ => "ok") { (base, bodies, _) =>
      val llm = new HttpLlmClient(
        LlmConfig(baseUrl = base, model = "m", maxRetries = 3),
        sleeper = ms => sleeps += ms)
      assert(llm.complete("q") == "ok")
      assert(bodies().size == 3, "two 429s + one success")
      assert(sleeps == Seq(0L, 0L), "Retry-After: 0 should override backoff")
    }
  }

  test("exhausted retries raise with the last error") {
    withStub(rateLimitFirst = 100)(_ => "never") { (base, _, _) =>
      val llm = new HttpLlmClient(
        LlmConfig(baseUrl = base, model = "m", maxRetries = 1),
        sleeper = _ => ())
      val e = intercept[RuntimeException](llm.complete("q"))
      assert(e.getMessage.contains("after 2 attempts"))
      assert(e.getMessage.contains("429"))
    }
  }

  test("non-retryable status fails fast") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat/completions", (ex: HttpExchange) => {
      ex.sendResponseHeaders(401, -1); ex.close()
    })
    server.start()
    try {
      val llm = new HttpLlmClient(LlmConfig(
        baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}/v1", model = "m"))
      val e = intercept[RuntimeException](llm.complete("q"))
      assert(e.getMessage.contains("401"))
    } finally server.stop(0)
  }

  test("drives a skeleton generator end to end over HTTP") {
    // the stub plays the DIN-SQL role: classifier prompt -> tier label,
    // generation prompt -> fenced SQL that SqlText.clean must unwrap
    withStub() { body =>
      if (body.contains("Classify the question")) "EASY"
      else "```sql\nSELECT c_name FROM customer\n```"
    } { (base, bodies, _) =>
      val llm = new HttpLlmClient(LlmConfig(baseUrl = base, model = "m"))
      val sql = DinSqlMethod.generate(llm, "customer(c_name varchar)",
        "list customer names", links = Seq("customer.c_name"))
      assert(sql == "SELECT c_name FROM customer")
      assert(bodies().size == 2, "one classify call + one generate call")
      assert(bodies().last.contains("[EASY]"))
    }
  }
}
