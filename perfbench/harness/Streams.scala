package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, RefPipeline}
import graft.streaming.{Sinks, StreamingDedup, StreamingEngine}
import graft.streaming.StreamingSma.Tick

/** The stream workloads. The program is driven only through its public
  * calls: `StreamingEngine.process` wired by `Sinks.attach` to the
  * `Sinks.logging` and `Sinks.alerts` sinks, and
  * `StreamingDedup.survivorSink` / `survivors`.
  */
object Streams {
  import Main.Ctx

  private val engine = StreamingEngine.EngineConfig()

  /** Set-ups per run; the median is reported and the last one is kept. */
  val SetupReps = 3
  /** Warm-up ticks fed through each set-up, in [[WarmBlocks]] blocks. */
  val WarmTicks = 4000
  val WarmBlocks = 2

  /** ticks_open: one block every interval, the block size fixed by the
    * offered rate. Blocks, not single rows: MemoryStream plans one
    * input partition per `addData`, and per-row appends at this rate
    * collapse the engine into one huge batch. */
  val OpenRate = 4000
  val OpenIntervalMs = 100
  /** ticks_drain: one closed-loop client appending blocks of this size. */
  val DrainBlock = 10000
  /** docs_store: documents per chunk, chunks per measured second, and
    * warm-up chunks folded by each set-up. */
  val DocChunk = 50
  val DocChunksPerSecond = 2
  val DocWarmChunks = 3
  val ServeReps = 5

  private def ms(t0: Double): Double = Clock.nowMs() - t0

  private def sleepUntil(t: Double): Unit = {
    val d = t - Clock.nowMs()
    if (d > 0) Thread.sleep(d.toLong, ((d % 1) * 1e6).toInt)
  }

  /** The logging and alert sinks under test, instrumented from outside:
    * each call is timed under its micro-batch, a throwing sink is
    * counted before `Sinks.fanOut` swallows it, and every alert is
    * stamped with the time the handler received it. */
  final class SinkProbe(ctx: Ctx) {
    val calls = new AtomicLong
    val failed = new AtomicLong
    val delivered = new AtomicLong
    val badLogLines = new AtomicLong
    val alerts = new ConcurrentLinkedQueue[(String, Double)]
    private val LogLine = """.*batch with (\d+) events.*""".r

    def reset(): Unit = { delivered.set(0); alerts.clear() }

    private def wrap(name: String, sink: Sinks.Sink): Sinks.Sink = df => {
      val batch = df.sparkSession.sparkContext.getLocalProperty("streaming.sql.batchId")
      calls.incrementAndGet()
      ctx.timed(name, s"batch#$batch") { _ =>
        try sink(df) catch { case NonFatal(e) => failed.incrementAndGet(); throw e }
      }
    }

    val sinks: Seq[Sinks.Sink] = Seq(
      wrap("sinks.logging", Sinks.logging(engine.sinks, {
        case LogLine(n) => delivered.addAndGet(n.toLong)
        case _ => badLogLines.incrementAndGet()
      })),
      wrap("sinks.alerts", Sinks.alerts(engine.sinks, rows => {
        val t = Clock.nowMs()
        rows.foreach(r => alerts.add((r.getAs[String]("id"), t)))
      })))
  }

  private def startTicks(ctx: Ctx, probe: SinkProbe): (MemoryStream[Tick], StreamingQuery) = {
    import ctx.spark.implicits._
    implicit val sqlCtx: SQLContext = ctx.spark.sqlContext
    val src = MemoryStream[Tick]
    val q = Sinks.attach(StreamingEngine.process(src.toDS(), engine), probe.sinks).start()
    (src, q)
  }

  /** Set the tick pipeline up [[SetupReps]] times (fresh source, query
    * start, warm-up blocks through the engine) and keep the last query.
    * The warm-up belongs to set-up: the first batches pay planning,
    * codegen and JIT, and drain runs about half speed cold. */
  private def setupTicks(ctx: Ctx, ticks: Array[Tick], probe: SinkProbe)
      : (MemoryStream[Tick], StreamingQuery) = {
    val times = ArrayBuffer.empty[Double]
    var kept: (MemoryStream[Tick], StreamingQuery) = null
    for (rep <- 1 to SetupReps) {
      val t0 = Clock.nowMs()
      val (src, q) = startTicks(ctx, probe)
      ticks.take(WarmTicks).grouped(WarmTicks / WarmBlocks).foreach { b =>
        src.addData(b.toSeq)
        q.processAllAvailable()
      }
      times += ms(t0) / 1000
      if (rep < SetupReps) { q.stop(); probe.reset() } else kept = (src, q)
    }
    ctx.record("setup_reps_s") = times.toList
    kept
  }

  private def offsetOf(o: Any): Long = o.toString.trim.toLong

  /** Per-batch progress as the engine reports it. */
  private def progress(q: StreamingQuery): List[Map[String, Any]] =
    q.recentProgress.toList.map { p =>
      val st = p.stateOperators.headOption
      Map(
        "batch" -> p.batchId,
        "ts" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "rows" -> p.numInputRows,
        "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "end_offset" -> p.sources.headOption.flatMap(s => Option(s.endOffset))
          .map(o => try offsetOf(o) catch { case _: NumberFormatException => -1L }).getOrElse(-1L),
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(-1L),
        "state_mem_b" -> st.map(_.memoryUsedBytes).getOrElse(-1L),
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(-1L),
        "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(-1L))
    }

  /** Outside the timed region: streamed alerts equal the batch
    * reference over the same rows, and the logging sink saw every
    * offered tick that survives cleaning. */
  private def checkTicks(ctx: Ctx, offered: Array[Tick], probe: SinkProbe): Unit = {
    import ctx.spark.implicits._
    val rows = ctx.spark.createDataset(offered.toSeq).toDF().filter(col("price") > 0)
    val want = RefPipeline.alerts(RefPipeline.movingAverage(rows, 5), 108.0)
      .select("id").as[String].collect().sorted.toSeq
    val got = probe.alerts.asScala.map(_._1).toSeq.sorted
    ctx.check("alerts_equal_batch_reference", got == want,
      s"${got.size} streamed vs ${want.size} batch alerts")
    val kept = offered.count(_.price > 0).toLong
    ctx.check("logging_rows_equal_offered_minus_cleaned",
      probe.delivered.get == kept && probe.badLogLines.get == 0,
      s"${probe.delivered.get} logged vs $kept kept, ${probe.badLogLines.get} unparsed lines")
  }

  private def finishTicks(ctx: Ctx, q: StreamingQuery, probe: SinkProbe,
                          offered: Array[Tick]): Unit = {
    ctx.record("progress") = progress(q)
    q.stop()
    ctx.op(ok = true, probe.calls.get - probe.failed.get)
    ctx.op(ok = false, probe.failed.get)
    ctx.record("sink_calls") = probe.calls.get
    ctx.record("sink_failed") = probe.failed.get
    ctx.record("rows_delivered") = probe.delivered.get
    ctx.record("alerts") =
      probe.alerts.asScala.toList.map { case (id, t) => List[Any](id.toLong, t) }
    checkTicks(ctx, offered, probe)
  }

  /** Open loop at [[OpenRate]] ticks/s: block k is due at t0 + k·interval
    * whatever the engine is doing, and each tick's latency is measured
    * from its block's due time. */
  def ticksOpen(ctx: Ctx): Unit = {
    val blockRows = OpenRate * OpenIntervalMs / 1000
    val nBlocks = ctx.seconds * 1000 / OpenIntervalMs
    val ticks = Gen.ticks(ctx.seed, WarmTicks + nBlocks * blockRows)
    val probe = new SinkProbe(ctx)
    val (src, q) = setupTicks(ctx, ticks, probe)
    val blocks = ArrayBuffer.empty[List[Any]]
    val t0 = Clock.nowMs() + OpenIntervalMs
    for (k <- 0 until nBlocks) {
      val due = t0 + k * OpenIntervalMs
      sleepUntil(due)
      val first = WarmTicks + k * blockRows
      val off = src.addData(ticks.slice(first, first + blockRows).toSeq)
      blocks += List[Any](offsetOf(off), due, Clock.nowMs(), first, blockRows)
    }
    q.processAllAvailable()
    ctx.record("t0") = t0
    ctx.record("t_end") = Clock.nowMs()
    ctx.record("warm_ticks") = WarmTicks
    ctx.record("timed_ticks") = nBlocks * blockRows
    ctx.record("blocks") = blocks.toList
    finishTicks(ctx, q, probe, ticks)
  }

  /** Closed loop, one client: append a [[DrainBlock]]-tick block, wait
    * for the engine to process everything available, repeat. */
  def ticksDrain(ctx: Ctx): Unit = {
    val ticks = Gen.ticks(ctx.seed, WarmTicks + ctx.seconds * 40000)
    val probe = new SinkProbe(ctx)
    val (src, q) = setupTicks(ctx, ticks, probe)
    val blocks = ArrayBuffer.empty[List[Any]]
    val t0 = Clock.nowMs()
    var first = WarmTicks
    while (ms(t0) < ctx.seconds * 1000.0 && first < ticks.length) {
      val s = Clock.nowMs()
      val block = ticks.slice(first, first + DrainBlock)
      val off = src.addData(block.toSeq)
      q.processAllAvailable()
      blocks += List[Any](offsetOf(off), s, Clock.nowMs(), first, block.length)
      first += block.length
    }
    ctx.record("t0") = t0
    ctx.record("t_end") = Clock.nowMs()
    ctx.record("warm_ticks") = WarmTicks
    ctx.record("timed_ticks") = first - WarmTicks
    ctx.record("blocks") = blocks.toList
    finishTicks(ctx, q, probe, ticks.take(first))
  }

  private def startDocs(ctx: Ctx, store: String, sinkMs: ArrayBuffer[Double], calls: AtomicLong,
                        failed: AtomicLong): (MemoryStream[(Long, String)], StreamingQuery) = {
    import ctx.spark.implicits._
    implicit val sqlCtx: SQLContext = ctx.spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val sink = StreamingDedup.survivorSink(store)
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        calls.incrementAndGet()
        val (_, t) = ctx.timed("store.sink", s"batch#$id") { _ =>
          try sink(df, id) catch { case NonFatal(e) => failed.incrementAndGet(); throw e }
        }
        sinkMs.synchronized { sinkMs += t }
        ()
      }
      .start()
    (src, q)
  }

  /** Files, partitions and bytes of a parquet side-store directory. */
  private def storeStats(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(root).iterator().asScala.toList
      .filter(p => java.nio.file.Files.isRegularFile(p))
    val data = files.filter(_.getFileName.toString.endsWith(".parquet"))
    val partitions = data.map(_.getParent).distinct
      .count(_.getFileName.toString.startsWith("batch_id="))
    Map("files" -> data.size.toLong, "partitions" -> partitions.toLong,
      "bytes" -> data.map(p => java.nio.file.Files.size(p)).sum)
  }

  /** Documents replayed in `doc_id` order, [[DocChunk]] per micro-batch,
    * folded into the survivor store; then the store is served. */
  def docsStore(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    val nChunks = ctx.seconds * DocChunksPerSecond
    val docs = Gen.docs(ctx.seed, (DocWarmChunks + nChunks) * DocChunk)
    val chunks = docs.map(d => (d.doc_id, d.text)).grouped(DocChunk).toArray
    val sinkMs = ArrayBuffer.empty[Double]
    val sinkCalls = new AtomicLong
    val failedSinks = new AtomicLong
    val times = ArrayBuffer.empty[Double]
    var kept: (MemoryStream[(Long, String)], StreamingQuery, String) = null
    for (rep <- 1 to SetupReps) {
      val store = s"${ctx.work}/store-$rep"
      val t0 = Clock.nowMs()
      val (src, q) = startDocs(ctx, store, sinkMs, sinkCalls, failedSinks)
      chunks.take(DocWarmChunks).foreach { c =>
        src.addData(c.toSeq)
        q.processAllAvailable()
      }
      times += ms(t0) / 1000
      if (rep < SetupReps) q.stop() else kept = (src, q, store)
    }
    ctx.record("setup_reps_s") = times.toList
    val (src, q, store) = kept
    sinkMs.synchronized(sinkMs.clear())
    val samples = ArrayBuffer.empty[List[Double]]
    val t0 = Clock.nowMs()
    for (c <- DocWarmChunks until DocWarmChunks + nChunks) {
      val s = Clock.nowMs()
      src.addData(chunks(c).toSeq)
      q.processAllAvailable()
      samples += List(s, Clock.nowMs())
    }
    ctx.record("t0") = t0
    ctx.record("t_end") = Clock.nowMs()
    ctx.record("timed_docs") = nChunks * DocChunk
    ctx.record("chunks") = samples.toList
    ctx.record("progress") = progress(q)
    q.stop()
    ctx.record("sink_ms") = sinkMs.synchronized(sinkMs.toList)
    ctx.op(ok = true, sinkCalls.get - failedSinks.get)
    ctx.op(ok = false, failedSinks.get)
    ctx.record("sink_failed") = failedSinks.get
    val serve = (1 to ServeReps).map { _ =>
      ctx.timed("store.serve") { _ =>
        StreamingDedup.survivors(ctx.spark, store).write.format("noop").mode("overwrite").save()
      }._2
    }
    ctx.op(ok = true, ServeReps)
    ctx.record("serve_ms") = serve.toList
    val (got, readMs) = ctx.timed("store.read") { _ =>
      StreamingDedup.survivors(ctx.spark, store).select("keep_id").as[Long].collect().sorted.toSeq
    }
    ctx.record("store") = storeStats(store) ++ Map("rows" -> got.size.toLong)
    ctx.record("store_read_ms") = readMs
    val corpus = s"${ctx.work}/docs"
    ctx.spark.createDataset(docs.toSeq).toDF().coalesce(1).write.mode("overwrite")
      .parquet(s"$corpus/documents.parquet")
    val want = Dedup.exactDedup(ctx.spark, corpus).select("keep_id").as[Long]
      .collect().sorted.toSeq
    ctx.check("survivors_equal_exact_dedup", got == want,
      s"${got.size} survivors vs ${want.size} exactDedup keep rows of ${docs.length} docs")
  }
}
