package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --cores C --work DIR --out FILE [--expected TSV]`. Everything the run reads or writes
  * lives under DIR. The raw record (samples, progress, spans, jobs,
  * checks) goes to FILE as JSON; run.py turns it into metrics.
  */
object Main {

  /** Shared state of a run: the session, its probes and the raw record. */
  final class Ctx(val spark: SparkSession, val opts: Map[String, String], val trace: Trace) {
    val seed: Long = opts("seed").toLong
    val seconds: Int = opts("seconds").toInt
    val work: String = opts("work")
    val record = mutable.LinkedHashMap.empty[String, Any]
    private val checkList = mutable.ArrayBuffer.empty[Map[String, Any]]
    @volatile var attempted = 0L
    @volatile var failed = 0L

    /** A correctness check, run outside the timed region; a mismatch
      * counts as a failed op. */
    def check(name: String, ok: Boolean, detail: String): Unit = synchronized {
      attempted += 1
      if (!ok) failed += 1
      checkList += Map("name" -> name, "ok" -> ok, "detail" -> detail)
      if (!ok) System.err.println(s"[perfbench] check FAILED $name: $detail")
    }

    def checks: List[Map[String, Any]] = synchronized(checkList.toList)

    def op(ok: Boolean, n: Long = 1): Unit = synchronized {
      attempted += n
      if (!ok) failed += n
    }

    /** Time one call; the span is recorded only when tracing. */
    def timed[T](name: String, parent: String = "")(body: String => T): (T, Double) = {
      val t0 = Clock.nowMs()
      val r = trace.span(name, parent) { id =>
        val sc = spark.sparkContext
        val prev = sc.getLocalProperty("perfbench.span")
        sc.setLocalProperty("perfbench.span", id)
        try body(id) finally sc.setLocalProperty("perfbench.span", prev)
      }
      (r, Clock.nowMs() - t0)
    }
  }

  def session(cores: Int, work: String, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = opts("work")
    val cores = opts("cores").toInt
    Files.createDirectories(Paths.get(work))
    val load1Start = Host.load1()
    val spark = session(cores, work, s"perfbench-$workload")
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    val ctx = new Ctx(spark, opts, new Trace(opts("trace") == "1"))
    ctx.record("workload") = workload
    ctx.record("cores") = cores
    ctx.record("session_s") = (Clock.nowMs() - Host.jvmStartMs()) / 1000.0
    val body: Ctx => Unit = workload match {
      case "ticks_open" => Streams.ticksOpen
      case "ticks_drain" => Streams.ticksDrain
      case "docs_store" => Streams.docsStore
      case "batch_finance" => Batch.finance
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try body(ctx)
    catch { case scala.util.control.NonFatal(e) =>
      e.printStackTrace()
      ctx.record("error") = s"${e.getClass.getName}: ${e.getMessage}"
      ctx.op(ok = false)
    }
    jobs.awaitIdle()
    ctx.record("attempted") = ctx.attempted
    ctx.record("failed") = ctx.failed
    ctx.record("checks") = ctx.checks
    ctx.record("host") = Map("load1_start" -> load1Start, "load1_end" -> Host.load1(),
      "heap_peak_mb" -> Host.heapPeakMb(), "gc_ms" -> Host.gcMs())
    if (ctx.trace.on) {
      ctx.record("jobs") = jobs.records
      ctx.record("spans") = ctx.trace.spans.map(s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start" -> s.start,
          "end" -> s.end))
    }
    Files.writeString(Paths.get(opts("out")), Json.render(ctx.record))
    spark.stop()
  }
}
