package graft.llm

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** Offline contract tests for the live provider adapters: a JDK
  * `HttpServer` plays the provider, serving canned responses, so parsing,
  * retry-on-5xx, and error-as-row paths are exercised without network
  * (the adapters' request/response shapes follow the public OpenAI /
  * Anthropic API docs mirrored by
  * /root/reference/llm_executor.py:250-409). */
class LlmClientContractSpec extends AnyFunSuite {

  /** Run `f` against a one-route stub server; returns after shutdown. */
  private def withServer(
      handler: HttpExchange => (Int, String)
  )(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { (ex: HttpExchange) =>
      val (status, body) = handler(ex)
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private val openAiOk =
    """{"id":"chatcmpl-1","choices":[{"message":{"role":"assistant",
      |"content":"summary text\nline two"}}],
      |"usage":{"prompt_tokens":120,"completion_tokens":30}}""".stripMargin

  private val anthropicOk =
    """{"id":"msg_1","content":[{"type":"text","text":"claude says hi"}],
      |"usage":{"input_tokens":200,"output_tokens":50}}""".stripMargin

  test("OpenAI adapter parses content and usage from a canned 200") {
    withServer { ex =>
      val body = readBody(ex)
      assert(ex.getRequestURI.getPath == "/v1/chat/completions")
      assert(ex.getRequestHeaders.getFirst("Authorization") == "Bearer k")
      assert(body.contains(""""role":"system""""))
      assert(body.contains(""""model":"gpt-4""""))
      (200, openAiOk)
    } { url =>
      val client = new OpenAiClient(LlmConfig(
        provider = "openai", model = "gpt-4", apiKey = Some("k"),
        endpoint = Some(url)))
      val r = client.complete("sys", "user prompt")
      assert(r.content == "summary text\nline two")
      assert(r.promptTokens == 120 && r.completionTokens == 30)
      assert(r.cost == 120 * 0.03 / 1000 + 30 * 0.06 / 1000)
      assert(!r.isMock)
    }
  }

  test("Anthropic adapter sends top-level system + version header, parses text") {
    withServer { ex =>
      val body = readBody(ex)
      assert(ex.getRequestURI.getPath == "/v1/messages")
      assert(ex.getRequestHeaders.getFirst("x-api-key") == "k2")
      // Assert against the adapter's constant, not a second string
      // literal — the version value lives in exactly one place.
      assert(ex.getRequestHeaders.getFirst("anthropic-version") ==
        AnthropicClient.ApiVersion)
      // System prompt as top-level field (the reference bug this adapter fixes).
      assert(body.contains(""""system":"sys prompt""""))
      assert(!body.contains(""""role":"system""""))
      (200, anthropicOk)
    } { url =>
      val client = new AnthropicClient(LlmConfig(
        provider = "anthropic", model = "claude-x", apiKey = Some("k2"),
        endpoint = Some(url)))
      val r = client.complete("sys prompt", "user prompt")
      assert(r.content == "claude says hi")
      assert(r.promptTokens == 200 && r.completionTokens == 50)
      assert(r.cost == 200 * 3.0 / 1e6 + 50 * 15.0 / 1e6)
    }
  }

  test("completeWithRetry retries a 5xx and succeeds on the next attempt") {
    val hits = new AtomicInteger(0)
    withServer { _ =>
      if (hits.incrementAndGet() == 1) (500, """{"error":"overloaded"}""")
      else (200, openAiOk)
    } { url =>
      val client = new OpenAiClient(LlmConfig(
        provider = "openai", model = "gpt-4", apiKey = Some("k"),
        endpoint = Some(url), maxRetries = 3, retryDelaySec = 0))
      val r = client.completeWithRetry("sys", "user")
      assert(r.isRight)
      assert(hits.get() == 2)
    }
  }

  test("completeWithRetry exhausts retries into an error-as-data Left") {
    val hits = new AtomicInteger(0)
    withServer { _ =>
      hits.incrementAndGet()
      (503, """{"error":"down"}""")
    } { url =>
      val client = new AnthropicClient(LlmConfig(
        provider = "anthropic", model = "claude-x", apiKey = Some("k2"),
        endpoint = Some(url), maxRetries = 2, retryDelaySec = 0))
      val r = client.completeWithRetry("sys", "user")
      assert(r.isLeft)
      assert(r.left.exists(_.contains("503")))
      assert(hits.get() == 2)
    }
  }

  test("missing content in a 200 response is an error, not a blank row") {
    withServer { _ => (200, """{"choices":[]}""") } { url =>
      val client = new OpenAiClient(LlmConfig(
        provider = "openai", model = "gpt-4", apiKey = Some("k"),
        endpoint = Some(url), maxRetries = 1, retryDelaySec = 0))
      val r = client.completeWithRetry("sys", "user")
      assert(r.isLeft)
      assert(r.left.exists(_.contains("no content")))
    }
  }

  test("Anthropic adapter estimates tokens as chars/4 when usage is absent") {
    withServer { _ =>
      (200, """{"content":[{"type":"text","text":"abcd"}]}""")
    } { url =>
      val client = new AnthropicClient(LlmConfig(
        provider = "anthropic", model = "claude-x", apiKey = Some("k2"),
        endpoint = Some(url)))
      val r = client.complete("ssss", "uuuu")
      assert(r.promptTokens == graft.text.TextFunctions.estimateTokens("ssssuuuu"))
      assert(r.completionTokens == graft.text.TextFunctions.estimateTokens("abcd"))
    }
  }
}
