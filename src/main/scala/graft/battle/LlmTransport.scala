package graft.battle

import graft.Json
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Shared OpenAI-compatible chat-completions transport
  * (llm_client.py:39-49) behind [[LlmClassifier]] and [[LlmExpert]]:
  * JDK HttpURLConnection (no added dependencies, explicit timeouts),
  * request-body assembly, and reply-content
  * extraction. Callers own their validation cascades — this layer only
  * moves bytes and lifts `choices[0].message.content`. */
private[battle] object LlmTransport {

  /** A chat-completions request body: system + user message pair with
    * the caller's token budget. */
  def requestBody(model: String, maxTokens: Int, system: String, user: String): String =
    s"""{"model": ${Json.str(model)}, "max_tokens": $maxTokens, "messages": [
       |{"role": "system", "content": ${Json.str(system)}},
       |{"role": "user", "content": ${Json.str(user)}}]}""".stripMargin

  /** POST `body` to `{baseUrl}/v1/chat/completions`; returns the raw
    * reply body, throws on transport errors and non-200 statuses. */
  def post(baseUrl: String, apiKey: String, body: String, timeoutMs: Int): String = {
    val conn = new java.net.URL(s"$baseUrl/v1/chat/completions").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    conn.setRequestMethod("POST")
    conn.setRequestProperty("Authorization", s"Bearer $apiKey")
    conn.setRequestProperty("Content-Type", "application/json")
    conn.setDoOutput(true)
    val out = conn.getOutputStream
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val status = conn.getResponseCode
    val stream = if (status == 200) conn.getInputStream else conn.getErrorStream
    val reply =
      if (stream == null) ""
      else try scala.io.Source.fromInputStream(stream, "UTF-8").mkString
      finally stream.close()
    if (status != 200)
      throw new RuntimeException(s"LLM API error $status: $reply")
    reply
  }

  /** `choices[0].message.content` of a chat-completions reply, if the
    * reply has that shape. */
  def content(reply: String): Option[String] =
    try {
      JsonMethods.parse(reply) \ "choices" match {
        case JArray(first :: _) => first \ "message" \ "content" match {
          case JString(s) => Some(s)
          case _ => None
        }
        case _ => None
      }
    } catch { case _: Exception => None }
}
