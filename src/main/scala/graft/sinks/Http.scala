package graft.sinks

import java.nio.charset.StandardCharsets

/** Minimal executor-side HTTP POST used by the sink final hops. Throws on
  * non-2xx so the Spark task fails and retries — safe because every sink
  * built on this uses idempotent keys / deterministic bodies. */
private[sinks] object Http {

  /** Request-signing seam (K1 parity: the reference's ES client is
    * AWS-SigV4-authed via aws_requests_auth —
    * common/elasticsearch_client.py:10-32). The provider sees
    * (method, url, body) and returns extra request headers; production
    * installs [[SigV4Signer]], tests a stub asserting header shape.
    * Must be serializable — it ships inside foreachPartition closures. */
  type HeaderProvider = (String, String, String) => Map[String, String]

  val noHeaders: HeaderProvider = (_, _, _) => Map.empty

  /** Minimal JSON string quoting for the few fields the sinks write by
    * hand (an ES action line's `_id`, a metrics body's keys). */
  private[sinks] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def post(url: String, body: String,
           contentType: String = "application/json",
           sign: HeaderProvider = noHeaders): Unit = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", contentType)
      sign("POST", url, body).foreach { case (k, v) =>
        conn.setRequestProperty(k, v)
      }
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(30000)
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      conn.setFixedLengthStreamingMode(bytes.length)
      val os = conn.getOutputStream
      try os.write(bytes) finally os.close()
      val code = conn.getResponseCode
      if (code < 200 || code >= 300)
        throw new java.io.IOException(s"POST $url failed: HTTP $code")
      val is = conn.getInputStream
      try { while (is.read() != -1) () } finally is.close()
    } finally conn.disconnect()
  }
}
