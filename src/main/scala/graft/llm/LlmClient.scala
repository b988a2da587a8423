package graft.llm

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Provider adapters (SURVEY.md §2.4 M2 —
  * /root/reference/llm_executor.py:232-409) plus the deterministic mock
  * (M4, :411-432) that the whole correctness surface runs through.
  *
  * Fixed relative to the reference (SURVEY §7.5.5, behind no flag — these
  * are plain bugs): the Anthropic adapter sends the system prompt as the
  * top-level `system` field, not inside `messages`; the reduce stage
  * routes to the configured provider instead of always posting to the
  * OpenAI URL.
  */
case class LlmResponse(
    content: String,
    promptTokens: Int,
    completionTokens: Int,
    cost: Double,
    model: String,
    isMock: Boolean
)

case class LlmConfig(
    provider: String = "mock",
    model: String = "mock-model",
    apiKey: Option[String] = None,
    temperature: Double = 0.3,
    maxTokens: Int = 1000,
    timeoutSec: Int = 60,
    maxRetries: Int = 3,
    retryDelaySec: Int = 5,
    /** Override the provider base URL (contract tests point this at a
      * local stub server; None = the provider's public endpoint). */
    endpoint: Option[String] = None
)

trait LlmClient extends Serializable {
  def config: LlmConfig

  /** One completion call; implementations may throw — retry policy lives in
    * [[LlmClient.completeWithRetry]]. */
  def complete(systemPrompt: String, userPrompt: String): LlmResponse

  /** Retry ≤maxRetries with fixed delay, error propagated after the last
    * attempt (/root/reference/llm_executor.py:198-228). Retries stay INSIDE
    * the client on purpose: a Spark task retry would redo the whole
    * partition of chunks for one flaky call. */
  final def completeWithRetry(
      systemPrompt: String,
      userPrompt: String
  ): Either[String, LlmResponse] = {
    var lastError: Throwable = null
    var attempt = 0
    while (attempt < config.maxRetries) {
      try return Right(complete(systemPrompt, userPrompt))
      catch {
        // NonFatal only: an interrupt (task kill/speculation) or a fatal
        // JVM error must propagate, not sleep-and-retry.
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        case scala.util.control.NonFatal(e) =>
          lastError = e
          attempt += 1
          if (attempt < config.maxRetries)
            Thread.sleep(config.retryDelaySec * 1000L)
      }
    }
    Left(Option(lastError).map(_.toString).getOrElse("unknown error"))
  }
}

object LlmClient {

  /** Cost model hard-coded in the reference
    * (/root/reference/llm_executor.py:308-317, :394-400). */
  def estimateCost(model: String, promptTokens: Int, completionTokens: Int): Double = {
    val m = model.toLowerCase
    if (m.contains("gpt-4"))
      promptTokens * 0.03 / 1000 + completionTokens * 0.06 / 1000
    else if (m.contains("gpt-3.5"))
      promptTokens * 0.001 / 1000 + completionTokens * 0.002 / 1000
    else if (m.contains("claude"))
      promptTokens * 3.0 / 1e6 + completionTokens * 15.0 / 1e6
    else 0.0
  }

  def forConfig(cfg: LlmConfig): LlmClient = cfg.provider.toLowerCase match {
    case "openai" if cfg.apiKey.nonEmpty    => new OpenAiClient(cfg)
    case "anthropic" if cfg.apiKey.nonEmpty => new AnthropicClient(cfg)
    // No key → deterministic mock, the reference's own fallback.
    case _                                  => new MockLlmClient(cfg)
  }
}

/** M4: deterministic mock — a pure function of the input, so the entire
  * pipeline is golden-testable (/root/reference/llm_executor.py:411-432;
  * hash-stability requirement from FIXTURES.md §2). Token accounting uses
  * the reference's fixed 100 (75+25) at $0. */
class MockLlmClient(val config: LlmConfig) extends LlmClient {
  override def complete(systemPrompt: String, userPrompt: String): LlmResponse = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    val h = digest
      // U+0001 separator: cannot occur in prompts (so the (system, user)
      // encoding is unambiguous — a space would let "sys A"+"x" collide
      // with "sys"+"A x") and is not a NUL (git's binary detection
      // triggers only on NUL bytes).
      .digest((systemPrompt + "\u0001" + userPrompt).getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString
      .take(12)
    val content =
      s"[Mock ${config.provider.capitalize} Response using ${config.model}]\n\n" +
        s"MOCK SUMMARY $h over ${userPrompt.length} chars."
    LlmResponse(content, 75, 25, 0.0, config.model, isMock = true)
  }
}

/** Minimal JSON string escaping/extraction — enough for the two chat APIs
  * without a JSON dependency (build constraint: no extra libraries). */
object MiniJson {
  def esc(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case '\n'          => b.append("\\n")
      case '\r'          => b.append("\\r")
      case '\t'          => b.append("\\t")
      case c if c < ' '  => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.toString
  }

  /** Extract the first string value of `"key": "…"`, unescaping. */
  def firstString(json: String, key: String): Option[String] = {
    val idx = json.indexOf("\"" + key + "\"")
    if (idx < 0) return None
    var i = json.indexOf('"', json.indexOf(':', idx) + 1)
    if (i < 0) return None
    i += 1
    val b = new StringBuilder
    while (i < json.length && json.charAt(i) != '"') {
      val c = json.charAt(i)
      if (c == '\\' && i + 1 < json.length) {
        json.charAt(i + 1) match {
          case 'n'  => b.append('\n'); i += 2
          case 't'  => b.append('\t'); i += 2
          case 'r'  => b.append('\r'); i += 2
          case '"'  => b.append('"'); i += 2
          case '\\' => b.append('\\'); i += 2
          case 'u' =>
            b.append(Integer.parseInt(json.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => b.append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    Some(b.toString)
  }

  def firstInt(json: String, key: String): Option[Int] = {
    val m = ("\"" + key + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(json)
    m.map(_.group(1).toInt)
  }
}

/** OpenAI chat completions adapter
  * (/root/reference/llm_executor.py:250-326). */
class OpenAiClient(val config: LlmConfig)
    extends HttpLlmClient("OpenAI", "https://api.openai.com", "/v1/chat/completions") {
  override def complete(systemPrompt: String, userPrompt: String): LlmResponse = {
    import MiniJson._
    val body =
      s"""{"model":"${esc(config.model)}","temperature":${config.temperature},""" +
        s""""max_tokens":${config.maxTokens},"messages":[""" +
        s"""{"role":"system","content":"${esc(systemPrompt)}"},""" +
        s"""{"role":"user","content":"${esc(userPrompt)}"}]}"""
    val json = postJson(Seq("Authorization" -> s"Bearer ${config.apiKey.getOrElse("")}"), body)
    val content = firstString(json, "content").getOrElse(
      throw new RuntimeException("no content in response"))
    val pt = firstInt(json, "prompt_tokens").getOrElse(0)
    val ct = firstInt(json, "completion_tokens").getOrElse(0)
    LlmResponse(content, pt, ct,
      LlmClient.estimateCost(config.model, pt, ct), config.model, isMock = false)
  }
}

/** Anthropic messages adapter (/root/reference/llm_executor.py:328-409),
  * with the system prompt in the top-level `system` field (reference bug
  * fixed). Token usage estimated as chars/4 when absent, per the
  * reference's own estimator (:389-397). */
class AnthropicClient(val config: LlmConfig)
    extends HttpLlmClient("Anthropic", "https://api.anthropic.com", "/v1/messages") {
  override def complete(systemPrompt: String, userPrompt: String): LlmResponse = {
    import MiniJson._
    val body =
      s"""{"model":"${esc(config.model)}","max_tokens":${config.maxTokens},""" +
        s""""temperature":${config.temperature},"system":"${esc(systemPrompt)}",""" +
        s""""messages":[{"role":"user","content":"${esc(userPrompt)}"}]}"""
    val json = postJson(Seq("x-api-key" -> config.apiKey.getOrElse(""),
      "anthropic-version" -> AnthropicClient.ApiVersion), body)
    val content = firstString(json, "text").getOrElse(
      throw new RuntimeException("no text in response"))
    val pt = firstInt(json, "input_tokens")
      .getOrElse(TextEstimates.chars4(systemPrompt + userPrompt))
    val ct = firstInt(json, "output_tokens")
      .getOrElse(TextEstimates.chars4(content))
    LlmResponse(content, pt, ct,
      LlmClient.estimateCost(config.model, pt, ct), config.model, isMock = false)
  }
}

object AnthropicClient {
  /** The `anthropic-version` header the adapter's request shape is
    * written against. */
  val ApiVersion = "2023-06-01"
}

/** What the chat adapters share: one HTTP client per instance and a
  * JSON POST to `path` under the configured endpoint (`defaultBase` when
  * none) that fails the call, naming `provider`, on any status but 200.
  * The adapters differ only in URL, auth headers, body and parse. */
abstract class HttpLlmClient(provider: String, defaultBase: String, path: String)
    extends LlmClient {
  @transient private lazy val http = HttpClient.newHttpClient()

  /** The response body of one POST of `body`. */
  protected def postJson(headers: Seq[(String, String)], body: String): String = {
    val req = HttpRequest.newBuilder()
      .uri(URI.create(config.endpoint.getOrElse(defaultBase) + path))
      .timeout(Duration.ofSeconds(config.timeoutSec))
      .header("Content-Type", "application/json")
    headers.foreach { case (k, v) => req.header(k, v) }
    val resp = http.send(req.POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new RuntimeException(s"$provider HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
    resp.body()
  }
}

private[llm] object TextEstimates {
  def chars4(s: String): Int = graft.text.TextFunctions.estimateTokens(s)
}
