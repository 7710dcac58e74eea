package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** A span around one call into a layer; `parent` is the caller's span id. */
final case class Span(id: String, name: String, parent: String, start: Double, end: Double)

/** Spans recorded by the harness around its calls into the program.
  * Kept in memory and written with the run's record at exit; when
  * tracing is off, [[span]] only runs the body.
  */
final class Trace(val on: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val seq = new java.util.concurrent.atomic.AtomicLong

  def add(s: Span): Unit = if (on) synchronized { buf += s }

  def span[T](name: String, parent: String)(body: String => T): T =
    if (!on) body("")
    else {
      val id = s"$name#${seq.incrementAndGet()}"
      val t0 = Clock.nowMs()
      try body(id) finally add(Span(id, name, parent, t0, Clock.nowMs()))
    }

  def spans: List[Span] = synchronized(buf.toList)
}

/** Spark jobs as the scheduler reports them, each tagged with the
  * harness span that was open on the submitting thread (the
  * `perfbench.span` local property), its micro-batch id if any, and
  * its call site (the short form Spark names its stages by).
  */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val start: Double, val span: String, val batch: Long,
                  val site: String) {
    def tablesRead: Boolean = site.contains("Tables.scala")
    var end: Double = -1
    var ok = true
    var tasks = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = new Job(e.jobId, e.time.toDouble, prop("perfbench.span").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      e.stageInfos.headOption.map(_.name).getOrElse(""))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time.toDouble
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait until every started job has been reported ended (events
    * reach listeners asynchronously). */
  def awaitIdle(timeoutMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.valuesIterator.exists(_.end < 0))
    while (open && System.currentTimeMillis() < until) Thread.sleep(20)
  }

  def snapshot: List[Job] = synchronized(jobs.values.toList)

  def records: List[Map[String, Any]] = snapshot.map { j =>
    Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "span" -> j.span,
      "batch" -> j.batch, "site" -> j.site, "tables_read" -> j.tablesRead, "ok" -> j.ok,
      "tasks" -> j.tasks, "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
      "shuffle_write_b" -> j.shuffleWriteB, "spill_b" -> j.spillB)
  }
}

/** Host and JVM readings that explain noise. */
object Host {
  def load1(): Double =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")))
      .split("\\s+")(0).toDouble
    catch { case _: Exception => ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def jvmStartMs(): Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
}
