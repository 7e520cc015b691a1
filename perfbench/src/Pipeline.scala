package perfbench

import graft.{GraftSession, SparkEntry}
import graft.sources.{NdjsonBuffer, NomadConfig}
import graft.streaming.{HighWatermarkDedup, NomadPipeline, PipelineConfig, WebhookSink}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.{DoubleType, FloatType}

import java.net.{HttpURLConnection, URI}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable.ArrayBuffer

/** The system under test, driven only through public entry points:
  * `nomad-events` source → `NomadPipeline.stream` → `WebhookSink.deliver`,
  * and `SparkEntry.queries` for the batch mix.
  *
  * One run: `setups` set-ups (session, agent boot handshake, query start,
  * first micro-batch), the first followed by an untimed warm-up stream; the
  * last stays up for the stream phase; then
  * the batch mix (an untimed digest run per query, then `reps` timed runs to
  * a noop sink). With trace=1 it also records spans, replays the stream's
  * bytes and lines through the public stage functions, and repeats the
  * stream phase on one core.
  *
  * Arguments are key=value: out, agent, http, sf, mix, reps, setups, trace,
  * plan, wm0.
  */
object Pipeline {

  private var tracer: Tracer = _
  private def traced = tracer != null

  def main(argv: Array[String]): Unit = {
    val a = argv.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    val out = a("out")
    val agent = a("agent")
    val http = a("http")
    val wm0 = a("wm0").toLong
    if (a("trace") == "1") tracer = new Tracer(a("run"))
    val res = new StringBuilder("{")
    def put(k: String, v: String): Unit = res.append(s""""$k":$v,""")

    // -- set-up, repeated; the last one keeps running into the stream phase
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var query: StreamingQuery = null
    val nSetups = a("setups").toInt
    for (i <- 1 to nSetups) {
      val plan = if (i == nSetups) "main" else if (i == 1) "warm" else s"setup$i"
      val t0 = System.nanoTime()
      spark = session(4, out)
      query = startStream(spark, s"$agent/$plan", s"$http/$plan", s"$out/ckpt-$i", wm0)
      awaitFirstBatch(spark, query)
      setups += (System.nanoTime() - t0) / 1e9
      if (i == 1) runStream(http, "warm", query) // untimed: later phases run compiled code
      else if (i < nSetups) query.stop()
      if (i < nSetups) spark.stop()
    }
    put("setup_s", setups.mkString("[", ",", "]"))

    // -- stream phase
    runStream(http, "main", query)

    if (traced) {
      replayNdjson(a("plan"))
      replayStages(spark, a("plan"), wm0)
    }

    // -- batch phase
    put("batch", runBatch(spark, a("sf"), a("mix").split(",").toSeq, a("reps").toInt))
    put("live_mb", liveMb.mkString("[", ",", "]"))

    if (traced) {
      // the same stream on one core: the single-thread baseline
      spark.stop()
      val solo = session(1, out)
      val q = startStream(solo, s"$agent/solo", s"$http/solo", s"$out/ckpt-solo", wm0)
      awaitFirstBatch(solo, q)
      runStream(http, "solo", q)
      solo.stop()
      tracer.write(s"$out/spans.json")
    } else spark.stop()
    res.setLength(res.length - 1)
    res.append("}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/pipeline.json"), res.toString)
  }

  def session(cores: Int, out: String): SparkSession = {
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) {
      tracer.attach(spark.sparkContext)
      spark.sparkContext.addSparkListener(tracer.sparkListener)
      spark.streams.addListener(tracer.streamListener)
    }
    spark
  }

  /** The daemon as a user starts it: boot handshake for the starting index
    * (app.rb:63-70), then source → pipeline → webhook sink. */
  def startStream(spark: SparkSession, agentBase: String, hookBase: String,
                  ckpt: String, wm0: Long): StreamingQuery = {
    val cfg = NomadPipeline.configFromAgent(NomadConfig(agentBase))
    val lines = spark.readStream.format("nomad-events").option("baseUrl", agentBase).load()
    val notifications = NomadPipeline.stream(spark, lines, cfg, initialWatermarkNs = wm0)
    val deliver = WebhookSink.deliver(Some(s"$hookBase/discord"), Some(s"$hookBase/slack")) _
    val sink: (DataFrame, Long) => Unit =
      if (!traced) deliver
      else { (batch, id) =>
        // cache the batch so deliver's time is the POSTs, not the pipeline
        val cached = batch.persist()
        val rows = tracer.span("streaming.batch_compute", Map("batch" -> id.toDouble)) { cached.count() }
        tracer.span("sink.deliver", Map("batch" -> id.toDouble, "rows" -> rows.toDouble)) {
          deliver(cached, id)
        }
        cached.unpersist()
      }
    notifications.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch(sink)
      .start()
  }

  /** Set-up ends when the first micro-batch (the agent's opening `{}`) has
    * been committed. */
  def awaitFirstBatch(spark: SparkSession, q: StreamingQuery): Unit = {
    val latch = new CountDownLatch(1)
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = latch.countDown()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == q.id && e.progress.numInputRows > 0) latch.countDown()
    }
    spark.streams.addListener(l)
    try {
      if (q.recentProgress.exists(_.numInputRows > 0)) latch.countDown()
      if (!latch.await(120, TimeUnit.SECONDS)) sys.error("first micro-batch did not complete")
      q.exception.foreach(e => throw e)
    } finally spark.streams.removeListener(l)
  }

  private def control(http: String, path: String): String = {
    val c = new URI(s"$http/control/$path").toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    try new String(c.getInputStream.readAllBytes(), "UTF-8") finally c.disconnect()
  }

  /** Start the agent's schedule, wait until the load generator has every
    * expected POST (or goes quiet), then stop the query. */
  def runStream(http: String, plan: String, q: StreamingQuery): Unit = {
    def body(): Unit = {
      control(http, s"go?plan=$plan")
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (control(http, s"status?plan=$plan") != "done") {
        q.exception.foreach(e => throw e)
        if (System.nanoTime() > deadline) sys.error(s"stream $plan did not finish")
        Thread.sleep(20)
      }
      q.processAllAvailable() // let the last micro-batch commit
      if (plan == "main") sampleLive()
      q.stop()
    }
    if (traced) tracer.span(s"stream.$plan")(body()) else body()
  }

  // ------------------------------------------------------------ batch mix

  /** Order-insensitive digest of a query's output: row count and the sum of
    * a 64-bit hash of each row's JSON (doubles rounded to 6 places, so the
    * digest does not depend on floating-point summation order). */
  private def withDigest(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c, 6).as(f.name)
        case _ => c
      }
    }
    df.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).cast("decimal(38,0)")).as("digest"))
  }

  def runBatch(spark: SparkSession, sf: String, mix: Seq[String], reps: Int): String = {
    val entries = mix.map { name =>
      val fn = SparkEntry.queries(name)
      val times = ArrayBuffer.empty[Double]
      var rows = -1L
      var digest = ""
      var error = ""
      try {
        val obs = Observation(name)
        withDigest(fn(spark, sf), obs).write.format("noop").mode("overwrite").save()
        val m = obs.get
        rows = m("rows").asInstanceOf[Long]
        digest = String.valueOf(m("digest"))
        GraftSession.releaseMaterialized(spark)
        for (r <- 1 to reps) {
          def once(): Unit = {
            val t0 = System.nanoTime()
            val df = fn(spark, sf)
            if (traced) tracer.span("batch.plan")(df.queryExecution.executedPlan)
            df.write.format("noop").mode("overwrite").save()
            times += (System.nanoTime() - t0) / 1e9
          }
          if (traced) tracer.span(s"batch.query:$name", Map("rep" -> r.toDouble))(once()) else once()
          if (r == reps) sampleLive()
          GraftSession.releaseMaterialized(spark)
        }
      } catch {
        case e: Exception => error = e.toString.replace("\"", "'").replace("\n", " ").take(300)
      }
      s""""$name":{"times":${times.mkString("[", ",", "]")},"rows":$rows,""" +
        s""""digest":"$digest","error":"$error"}"""
    }
    entries.mkString("{", ",", "}")
  }

  // ------------------------------------------------------------ replays

  /** The stream's bytes, in the pieces the agent wrote, through a fresh
    * `NdjsonBuffer` per pass. Span attributes: bytes, lines written, lines
    * the buffer let through. */
  def replayNdjson(planPath: String): Unit = {
    val writes = LoadGen.readPlan("replay", planPath).writes
    val attrs = Map("bytes" -> writes.map(_.bytes.length.toDouble).sum,
      "lines" -> writes.map(_.bytes.count(_ == '\n').toDouble).sum)
    for (_ <- 1 to 5) {
      val buf = new NdjsonBuffer
      val t0 = tracer.nowUs
      val out = writes.map(w => buf.feedBytes(w.bytes, w.bytes.length).size).sum
      tracer.record("sources.ndjson_replay", t0, tracer.nowUs, tracer.current,
        attrs + ("lines_out" -> out.toDouble))
    }
  }

  /** The stream's valid lines as a batch DataFrame through the public stage
    * functions. Each stage runs on the cached output of the one before, so
    * its span (a noop write) is that stage's own time; it carries the
    * stage's output row count. */
  def replayStages(spark: SparkSession, planPath: String, wm0: Long): Unit = {
    import spark.implicits._
    val plan = LoadGen.readPlan("replay", planPath)
    val buf = new NdjsonBuffer
    val lines = ("{}" +: plan.writes.toSeq.flatMap(w => buf.feedBytes(w.bytes, w.bytes.length)))
      .zipWithIndex.map { case (l, i) => (i.toLong, l) }
    val cfg = PipelineConfig(startingIndex = plan.startIndex)
    val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
      "decode" -> NomadPipeline.decode,
      "task_events" -> (NomadPipeline.taskEvents(_, cfg)),
      "dedup" -> (HighWatermarkDedup(wm0, frameCol = Some("frame_index")).apply(spark, _)),
      "notifications" -> (NomadPipeline.notifications(_, cfg)))
    var input = lines.toDF("offset", "value").persist()
    input.count()
    stages.foreach { case (name, stage) =>
      val output = stage(input)
      val rows = output.count().toDouble
      for (_ <- 1 to 3)
        tracer.span(s"streaming.replay.$name", Map("rows" -> rows)) {
          output.write.format("noop").mode("overwrite").save()
        }
      val next = output.persist()
      next.count()
      input.unpersist()
      input = next
    }
    input.unpersist()
  }

  private val liveMb = ArrayBuffer.empty[Double]

  /** Memory the program holds at the end of a phase, in MB: heap in use
    * after a full collection plus non-heap in use (metaspace, code cache).
    * Taken after the stream phase, while its query still holds its state,
    * and after each batch query's last run, before its cached data is
    * released. Untimed. */
  private def sampleLive(): Unit = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    liveMb += (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }
}
