package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileInputStream, FileOutputStream, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer

/** The load generator: a fake Nomad agent and a stub webhook receiver in one
  * process, so every latency is taken on one clock (this JVM's nanoTime).
  *
  * Four threads: main (agent acceptor), the stream writer, and two HTTP
  * workers that share the receiver socket. Both servers speak just enough
  * HTTP/1.1 for the pipeline's clients and close each exchange themselves.
  *
  * Agent: `GET /<plan>/v1/agent/self` answers the plans' raft index;
  * `GET /<plan>/v1/event/stream` answers a chunked stream that starts with a
  * `{}` heartbeat. A connection whose prefix names a loaded plan replays that
  * plan once `POST /control/go?plan=<plan>` arrives, each write at its due
  * time (open loop); any other prefix (set-up connections) gets the
  * heartbeat only.
  *
  * Receiver: `POST /<plan>/discord|slack` records (nanos since go, body).
  * `/control/status?plan=` answers `done` once every write has gone out and
  * the plan's expected POST count has arrived, or no POST has arrived for
  * [[QuietNs]]. `/control/quit` writes one result file per plan and exits.
  *
  * Usage: LoadGen <outDir> <name>=<plan file> [<name>=<plan file> ...]
  */
object LoadGen {

  val QuietNs: Long = 20_000_000_000L

  final class Write(val dueUs: Long, val validLinesAfter: Int, val bytes: Array[Byte])

  final class Run(val name: String, val writes: Array[Write], val startIndex: Long,
                  val expectedPosts: Long) {
    val conn = new LinkedBlockingQueue[Socket]()
    @volatile var goNs: Long = -1L
    @volatile var writesDone = false
    @volatile var lastPostNs: Long = -1L
    @volatile var lateNsMax: Long = 0L
    val writeLog = ArrayBuffer.empty[(Long, Int)] // (wall ms after write, lines incl. first heartbeat)
    val posts = new ConcurrentLinkedQueue[(Long, Byte, Array[Byte])]()
    val nPosts = new AtomicLong()
    def done: Boolean = writesDone && (nPosts.get >= expectedPosts ||
      (System.nanoTime() - math.max(lastPostNs, goNs)) > QuietNs)
  }

  def readPlan(name: String, path: String): Run = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path), 1 << 20))
    try {
      val n = in.readInt()
      val startIndex = in.readLong()
      val expectedPosts = in.readLong()
      val writes = Array.fill(n) {
        val due = in.readLong(); val valid = in.readInt(); val len = in.readInt()
        val b = new Array[Byte](len); in.readFully(b)
        new Write(due, valid, b)
      }
      new Run(name, writes, startIndex, expectedPosts)
    } finally in.close()
  }

  private val Heartbeat = "{}\n".getBytes(UTF_8)

  private def chunk(out: OutputStream, b: Array[Byte]): Unit = {
    out.write((Integer.toHexString(b.length) + "\r\n").getBytes(UTF_8))
    out.write(b)
    out.write("\r\n".getBytes(UTF_8))
    out.flush()
  }

  /** One request: (path, query, body). */
  private def readRequest(in: InputStream): (String, String, Array[Byte]) = {
    val head = new java.io.ByteArrayOutputStream(512)
    var last4 = 0
    while (last4 != 0x0d0a0d0a) {
      val c = in.read()
      if (c < 0) throw new java.io.EOFException("request ended in its header")
      head.write(c)
      last4 = (last4 << 8) | c
    }
    val lines = head.toString(UTF_8).split("\r\n")
    val target = lines(0).split(" ")(1)
    val length = lines.drop(1).collectFirst {
      case l if l.toLowerCase.startsWith("content-length:") => l.substring(15).trim.toInt
    }.getOrElse(0)
    val body = new Array[Byte](length)
    new DataInputStream(in).readFully(body)
    val q = target.indexOf('?')
    if (q < 0) (target, "", body) else (target.take(q), target.drop(q + 1), body)
  }

  private def respond(s: Socket, body: String, extra: String = ""): Unit = {
    val b = body.getBytes(UTF_8)
    val out = s.getOutputStream
    out.write((s"HTTP/1.1 200 OK\r\nContent-Length: ${b.length}\r\n$extra" +
      "Connection: close\r\n\r\n").getBytes(UTF_8) ++ b)
    out.flush()
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val runs = args.drop(1).map { a =>
      val Array(name, path) = a.split("=", 2); name -> readPlan(name, path)
    }.toMap
    val startIndex = runs.values.head.startIndex
    val held = new ConcurrentLinkedQueue[Socket]()
    val loopback = InetAddress.getLoopbackAddress
    val agent = new ServerSocket(0, 50, loopback)
    val http = new ServerSocket(0, 1024, loopback)

    // Streams are replayed one at a time, in the order their go signals come.
    val goQueue = new LinkedBlockingQueue[Run]()
    val writer = new Thread(() => {
      try while (true) {
        val run = goQueue.take()
        val s = run.conn.take()
        val out = new BufferedOutputStream(s.getOutputStream, 1 << 16)
        var i = 0
        while (i < run.writes.length) {
          val w = run.writes(i)
          val due = run.goNs + w.dueUs * 1000L
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          run.lateNsMax = math.max(run.lateNsMax, now - due)
          chunk(out, w.bytes)
          run.writeLog += ((System.currentTimeMillis(), w.validLinesAfter + 1))
          i += 1
        }
        run.writesDone = true
        held.add(s)
      } catch {
        case _: InterruptedException => ()
        case _: java.io.IOException => ()
      }
    }, "agent-writer")
    writer.setDaemon(true)
    writer.start()

    def serve(): Unit =
      try while (true) {
        val s = http.accept()
        val t = System.nanoTime()
        try {
          s.setSoTimeout(10000)
          val (path, query, body) = readRequest(new BufferedInputStream(s.getInputStream))
          val parts = path.split("/")
          val plan = query.stripPrefix("plan=")
          if (parts.lift(1).contains("control")) parts.lift(2) match {
            case Some("go") =>
              val run = runs(plan)
              run.goNs = System.nanoTime()
              goQueue.put(run)
              respond(s, "")
            case Some("status") => respond(s, if (runs(plan).done) "done" else "running")
            case _ => // quit
              respond(s, "")
              agent.close()
              http.close()
          } else {
            runs.get(parts.lift(1).getOrElse("")).foreach { run =>
              run.posts.add((t - run.goNs, if (parts.lift(2).contains("slack")) 's' else 'd', body))
              run.nPosts.incrementAndGet()
              run.lastPostNs = t
            }
            respond(s, "")
          }
        } catch {
          case e: java.io.IOException => if (!http.isClosed) System.err.println(s"receiver: $e")
        } finally s.close()
      } catch { case _: SocketException => () } // closed by quit
    val workers = Seq.fill(2)(new Thread(() => serve(), "http-worker"))
    workers.foreach(_.start())
    println(s"PORTS agent=${agent.getLocalPort} http=${http.getLocalPort}")
    System.out.flush()

    // main thread: the agent's acceptor, until quit closes its socket
    try while (true) {
      val s = agent.accept()
      s.setTcpNoDelay(true)
      val (path, _, _) = readRequest(new BufferedInputStream(s.getInputStream))
      if (path.endsWith("/v1/agent/self")) {
        respond(s, s"""{"stats":{"raft":{"last_log_index":"$startIndex"}}}""",
          "Content-Type: application/json\r\n")
        s.close()
      } else {
        val out = s.getOutputStream
        out.write(("HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n").getBytes(UTF_8))
        chunk(out, Heartbeat)
        runs.get(path.split("/").lift(1).getOrElse("")) match {
          case Some(run) => run.conn.put(s)
          case None => held.add(s) // set-up connection: heartbeat only
        }
      }
    } catch { case _: SocketException => () }

    workers.foreach(_.join())
    writer.interrupt()
    held.forEach(s => try s.close() catch { case _: java.io.IOException => () })
    runs.values.foreach(writeResult(outDir, _))
  }

  /** `<outDir>/<plan>.posts`: [t_ns:i64][dest:u8][len:i32][body] per POST;
    * `<outDir>/<plan>.gen.json`: schedule facts. */
  private def writeResult(outDir: String, run: Run): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(s"$outDir/${run.name}.posts"), 1 << 20))
    try run.posts.forEach { case (t, d, b) =>
      out.writeLong(t); out.writeByte(d); out.writeInt(b.length); out.write(b)
    } finally out.close()
    val log = run.writeLog.map { case (ms, n) => s"[$ms,$n]" }.mkString("[", ",", "]")
    val json = s"""{"late_ms_max":${run.lateNsMax / 1e6},""" +
      s""""writes_done":${run.writesDone},"write_log":$log}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/${run.name}.gen.json"), json)
  }
}
