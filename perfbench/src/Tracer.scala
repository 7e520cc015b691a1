package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory spans, written out once at the end of a run.
  *
  * A span has a name, start and end (epoch microseconds), the id of the span
  * that caused it, the run id, and numeric attributes. Spans come only from
  * the benchmark's own calls into public functions and from Spark's public
  * listener interfaces; nothing inside the program is instrumented.
  */
final class Tracer(runId: String) {
  private final case class Span(id: Long, name: String, start: Long, end: Long,
                                parent: Long, attrs: Map[String, Double])
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  private val open = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  @volatile private var sc: SparkContext = _

  /** The context whose jobs carry the opening thread's span as a local
    * property, so listener events find their parent whenever they arrive. */
  def attach(context: SparkContext): Unit = sc = context

  /** The innermost span open on the calling thread (0 when none). */
  def current: Long = open.get

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  def newId(): Long = ids.incrementAndGet()

  def record(name: String, start: Long, end: Long, parent: Long,
             attrs: Map[String, Double] = Map.empty, id: Long = newId()): Long = {
    spans.add(Span(id, name, start, end, parent, attrs)); id
  }

  /** Time `body` as a span; it is the calling thread's `current`, and the
    * parent of the Spark jobs that thread submits, while it runs. */
  def span[T](name: String, attrs: Map[String, Double] = Map.empty)(body: => T): T = {
    val id = newId(); val parent = current; val t0 = nowUs
    enter(id)
    try body
    finally { enter(parent); record(name, t0, nowUs, parent, attrs, id) }
  }

  private def enter(id: Long): Unit = {
    open.set(id)
    if (sc != null) sc.setLocalProperty(Tracer.SpanProperty, if (id == 0L) null else id.toString)
  }

  def write(path: String): Unit = {
    def num(v: Double) = if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString else v.toString
    val sb = new StringBuilder("[\n")
    var first = true
    spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      if (!first) sb.append(",\n")
      first = false
      sb.append(s"""{"id":${s.id},"name":"${s.name}","start_us":${s.start},"end_us":${s.end},""")
      sb.append(s""""parent":${s.parent},"run":"$runId","attrs":{""")
      sb.append(s.attrs.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(","))
      sb.append("}}")
    }
    sb.append("\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  /** Spark jobs and stages, with the task metrics each stage reports. */
  val sparkListener: SparkListener = new SparkListener {
    private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = newId()
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      jobSpan.put(e.jobId, (id, e.time * 1000L, parent))
      e.stageIds.foreach(s => stageJob.put(s, id))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (id, start, parent) =>
        record("spark.job", start, e.time * 1000L, parent, id = id)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val attrs = Map[String, Double](
        "tasks" -> i.numTasks,
        "executor_run_ms" -> m.executorRunTime,
        "executor_cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
      record("spark.stage", i.submissionTime.getOrElse(0L) * 1000L,
        i.completionTime.getOrElse(0L) * 1000L,
        Option(stageJob.remove(i.stageId)).getOrElse(0L), attrs)
    }
  }

  /** One span per micro-batch with its phases as children. Progress reports
    * durations only, so the children are laid end to end from the trigger
    * start in the order the micro-batch engine runs them. Progress events
    * carry no local properties, so a trigger span is a root (parent 0). */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    private val phases = Seq(
      "latestOffset" -> "sources.latest_offset", "walCommit" -> "streaming.wal_commit",
      "getBatch" -> "sources.get_batch", "queryPlanning" -> "streaming.planning",
      "addBatch" -> "streaming.add_batch", "commitOffsets" -> "streaming.commit_offsets")

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      if (d.contains("addBatch")) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        val ops = p.stateOperators
        val attrs = Map[String, Double](
          "batch" -> p.batchId, "rows" -> p.numInputRows,
          "end_offset" -> p.sources.headOption.flatMap(s => s.endOffset.toLongOption).getOrElse(-1L).toDouble,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
        val id = record("streaming.trigger", start, start + d.getOrElse("triggerExecution", 0L) * 1000L,
          0L, attrs)
        var t = start
        phases.foreach { case (key, name) =>
          d.get(key).foreach { ms =>
            record(name, t, t + ms * 1000L, id, Map("batch" -> p.batchId.toDouble))
            t += ms * 1000L
          }
        }
      }
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
