package graft.serving

import graft.ner.{NerModel, OutputFormats, Tagger}
import graft.pipeline.TaggedToken
import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter, PrintWriter}
import java.net.{ServerSocket, Socket, SocketException}

/** The reference's NERServer (ie/NERServer.java:41-131): a TCP serving
  * surface over a loaded classifier. Protocol (one session per connection,
  * Session.run :153-186): read ONE line, reply with
  * `classifyToString(input, format, spacing)` (no added newline), close.
  *
  * The engine's cluster path tags through Spark; this is the low-latency
  * single-JVM surface for interactive clients, running the SAME model object
  * a broadcast carries to executors — scoring code is shared, so server and
  * cluster answers are identical by construction. NERServlet/NERGUI remain
  * out of scope (HTTP/Swing wrappers over this same call).
  */
object NerServer {

  /** classifyToString semantics (PlainTextDocumentReaderAndWriter styles):
    * tokenize → sentence-split → tag, then render. With `spacing` the
    * original inter-token whitespace is preserved via the invertible char
    * offsets (the reference's preserveSpacing path); without it tokens are
    * joined with single spaces.
    */
  def classifyToString(model: NerModel, text: String,
      format: String = "slashTags", spacing: Boolean = true): String = {
    val tokens = Tagger.sentencesOf("", 0, text, model).flatMap(_.tokens).toVector
    format match {
      case "slashTags" =>
        if (spacing) renderPreservingSpacing(text, tokens)(t => s"${t.word}/${t.answer}")
        else OutputFormats.slashTags(tokens)
      case "inlineXML" => OutputFormats.inlineXml(text, tokens)
      case "standoff" => OutputFormats.standoff(tokens)
      case other => throw new IllegalArgumentException(s"unknown output format: $other")
    }
  }

  private def renderPreservingSpacing(text: String, tokens: Seq[TaggedToken])(
      render: TaggedToken => String): String = {
    val sb = new java.lang.StringBuilder // java SB: append(CharSequence, from, to)
    var cursor = 0
    for (t <- tokens) {
      sb.append(text, cursor, t.begin_char)
      sb.append(render(t))
      cursor = t.end_char
    }
    sb.append(text, cursor, text.length)
    sb.toString
  }
}

/** Server instance; port 0 binds an ephemeral port (see `boundPort`). */
final class NerServer(port: Int, model: NerModel,
    format: String = "slashTags", spacing: Boolean = true, charset: String = "UTF-8") {

  private val listener = new ServerSocket(port)
  @volatile private var running = true

  def boundPort: Int = listener.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val client = listener.accept()
        val session = new Thread(() => handle(client)) // one Session thread per client, like the reference
        session.setDaemon(true)
        session.start()
      } catch {
        case _: SocketException => () // listener closed
        case e: Throwable => if (running) System.err.println(s"[ner-server] accept failed: $e")
      }
    }
  })

  def start(): NerServer = {
    acceptor.setDaemon(true)
    acceptor.start()
    this
  }

  def close(): Unit = {
    running = false
    listener.close()
  }

  private def handle(client: Socket): Unit = {
    try {
      val in = new BufferedReader(new InputStreamReader(client.getInputStream, charset))
      val out = new PrintWriter(new OutputStreamWriter(client.getOutputStream, charset))
      val input = in.readLine()
      if (input != null) {
        out.print(NerServer.classifyToString(model, input, format, spacing))
        out.flush()
      }
      in.close(); out.close(); client.close()
    } catch {
      case e: Throwable =>
        System.err.println(s"[ner-server] session failed: $e")
        try client.close() catch { case _: Throwable => () }
    }
  }
}
