package graft.llm

/** Pluggable LLM boundary (reference `core/llm clients` — thin
  * OpenAI-compatible clients). Per the port's north star, LLM calls are
  * driver-side and NEVER inside a Spark plan; every actor must run with
  * a mock. No network client ships here — wire one by implementing this
  * trait in the application.
  */
trait LlmClient {
  def complete(prompt: String): String
}

/** Deterministic mock: replies from a fixed playbook (first matching
  * substring key), else a default. Used by all tests.
  */
final case class MockLlm(playbook: Seq[(String, String)] = Nil,
    default: String = "") extends LlmClient {
  def complete(prompt: String): String =
    playbook.collectFirst { case (k, v) if prompt.contains(k) => v }.getOrElse(default)
}
