package graft.control

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.channels.{Channels, ServerSocketChannel, SocketChannel}
import java.nio.file.{Files, Path}
import scala.util.control.NonFatal

/** The reference's status Unix socket (cerebro.py:369-375, 430-460):
  * line-based verbs over a Unix domain socket so a SECOND process
  * (`status` / `restart <source>` CLI commands, cerebro/__main__.py:101-143)
  * can interrogate and control a running engine:
  *
  *   - `status` → one JSON object line `{"name":true,...}` (query → active)
  *   - `restart <name>` → `true` / `false` (cerebro.py:448-456)
  *   - `exit` → closes the connection (cerebro.py:459-460)
  *
  * Control-plane only (one connection per human/CLI invocation), so
  * blocking I/O with a daemon thread per connection is the right size —
  * no data flows here.
  */
final class StatusServer(engine: Engine, socketPath: Path) {
  @volatile private var running = false
  private var server: ServerSocketChannel = _
  private var acceptThread: Thread = _

  def start(): Unit = {
    Files.deleteIfExists(socketPath)
    server = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
    server.bind(UnixDomainSocketAddress.of(socketPath))
    running = true
    acceptThread = new Thread(() => {
      while (running) {
        try {
          val ch = server.accept()
          val t = new Thread(() => handle(ch), "graft-status-conn")
          t.setDaemon(true)
          t.start()
        } catch {
          case NonFatal(_) => running = false // server closed
        }
      }
    }, "graft-status-server")
    acceptThread.setDaemon(true)
    acceptThread.start()
  }

  private def handle(ch: SocketChannel): Unit = {
    val in = new BufferedReader(new InputStreamReader(Channels.newInputStream(ch), "UTF-8"))
    val out = new OutputStreamWriter(Channels.newOutputStream(ch), "UTF-8")
    try {
      var line = in.readLine()
      var open = true
      while (open && line != null) {
        val cmd = line.trim
        if (cmd == "status") {
          // real JSON writer, not string concat: source names are
          // user-authored (config keys) and may contain quotes/commas/
          // colons — the reply must stay parseable regardless
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val node = mapper.createObjectNode()
          engine.status.toSeq.sortBy(_._1)
            .foreach { case (k, v) => node.put(k, v) }
          out.write(mapper.writeValueAsString(node) + "\n"); out.flush()
        } else if (cmd.startsWith("restart")) {
          val ok = cmd.split("\\s+").lift(1).exists(engine.restart)
          out.write(s"$ok\n"); out.flush()
        } else if (cmd == "exit") {
          open = false
        } else {
          out.write("unknown\n"); out.flush()
        }
        if (open) line = in.readLine()
      }
    } catch {
      case NonFatal(_) => () // client went away
    } finally ch.close()
  }

  def stop(): Unit = {
    running = false
    if (server != null) server.close()
    Files.deleteIfExists(socketPath)
  }
}

object StatusServer {
  /** Client half, used by the CLI verbs from a second process: send one
    * command line, read one reply line (mirrors __main__.py:106-120). */
  def request(socketPath: Path, command: String): String = {
    val ch = SocketChannel.open(UnixDomainSocketAddress.of(socketPath))
    try {
      val out = new OutputStreamWriter(Channels.newOutputStream(ch), "UTF-8")
      out.write(command + "\n"); out.flush()
      val in = new BufferedReader(new InputStreamReader(Channels.newInputStream(ch), "UTF-8"))
      val reply = in.readLine()
      out.write("exit\n"); out.flush()
      if (reply == null) "" else reply
    } finally ch.close()
  }
}
