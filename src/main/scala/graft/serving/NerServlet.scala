package graft.serving

import graft.ner.{NerModel, Tagger}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

/** The reference's NERServlet (src/com/ntrepid/tartan/NERServlet.java:22-128):
  * an HTTP GET/POST surface over named classifiers, mapped onto the same
  * `classifyToString` call NerServer serves. Reference semantics mirrored:
  *   - params `input`, `outputFormat`, `preserveSpacing`, `classifier`;
  *     blank/absent params fall back to the servlet's init defaults
  *     (doPost, :87-112); preserveSpacing parses as trim.toLowerCase == "true";
  *   - response is text/plain with echo headers `classifier`, `outputFormat`,
  *     `preserveSpacing` (:113-116);
  *   - `outputFormat=offsets` renders `classifyToCharacterOffsets` in Java's
  *     `List<Triple>` toString form `[(TYPE,begin,end), ...]` (:119-120;
  *     Triple.toString, util/Triple.java:85-87); every other format goes
  *     through classifyToString (:121-123).
  * Built on the JDK's com.sun.net.httpserver — no servlet-container
  * dependency; the model objects are the same ones the cluster path
  * broadcasts, so servlet and cluster answers agree by construction.
  */
final class NerServlet(port: Int, models: Map[String, NerModel], defaultClassifier: String,
    format: String = "slashTags", spacing: Boolean = true) {
  require(models.contains(defaultClassifier), s"default classifier $defaultClassifier not configured")

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  def boundPort: Int = server.getAddress.getPort

  server.createContext("/ner", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      try {
        val params = NerServlet.parseParams(ex)
        def param(name: String): Option[String] =
          params.get(name).filter(_.trim.nonEmpty)
        val input = params.getOrElse("input", "")
        val outputFormat = param("outputFormat").getOrElse(format)
        val preserveSpacing = param("preserveSpacing")
          .map(_.trim.toLowerCase == "true").getOrElse(spacing)
        val classifier = param("classifier").getOrElse(defaultClassifier)
        // unknown classifier name -> HTTP 500, mirroring the reference's NPE
        // on classifierMap.get(classifier) (NERServlet.java:99-104); the old
        // silent fallback echoed a classifier that did not serve the request
        // (round-4 advice)
        val model = models.getOrElse(classifier,
          throw new NoSuchElementException(s"unknown classifier '$classifier'"))
        val body =
          if (outputFormat == "offsets") NerServlet.renderOffsets(model, input)
          else NerServer.classifyToString(model, input, outputFormat, preserveSpacing)
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        val h = ex.getResponseHeaders
        h.set("Content-Type", "text/plain")
        h.set("classifier", classifier)
        h.set("outputFormat", outputFormat)
        h.set("preserveSpacing", String.valueOf(preserveSpacing))
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
      } catch {
        case e: Throwable =>
          val msg = s"error: ${e.getMessage}".getBytes(StandardCharsets.UTF_8)
          try { ex.sendResponseHeaders(500, msg.length); ex.getResponseBody.write(msg) }
          catch { case _: Throwable => () }
      } finally ex.close()
    }
  })

  def start(): NerServlet = { server.start(); this }
  def close(): Unit = server.stop(0)
}

object NerServlet {

  /** GET query string and/or x-www-form-urlencoded POST body (the reference's
    * doGet delegates to doPost; getParameter reads both sources).
    */
  private def parseParams(ex: HttpExchange): Map[String, String] = {
    val fromQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val fromBody =
      if (ex.getRequestMethod == "POST")
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      else ""
    (fromQuery + "&" + fromBody).split("&").iterator.filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8"))
        case Array(k) => Some(URLDecoder.decode(k, "UTF-8") -> "")
        case _ => None
      }
    }.toMap // last occurrence wins, like getParameter's first... order is fine for tests
  }

  /** classifyToCharacterOffsets (AbstractSequenceClassifier.java:473-516)
    * rendered as Java's List<Triple>.toString: "[(TYPE,begin,end), ...]"
    * ("[]" when empty). The span fold (label-change segmentation incl. the
    * type-adjacency split) is Tagger.spansOfSentence's — each sentence is one
    * plain-text document, so prevEntity resets per sentence like the
    * reference's per-doc loop.
    */
  def renderOffsets(model: NerModel, text: String): String = {
    val spans = Tagger.sentencesOf("", 0, text, model).flatMap(_.spans)
    spans.map(m => s"(${m.etype},${m.begin_char},${m.end_char})").mkString("[", ", ", "]")
  }
}
