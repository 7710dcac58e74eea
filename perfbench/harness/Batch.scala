package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Caches, SparkEntry}

/** batch_finance: passes over the financial batch surface, the `ref_*`
  * and `Finance.*` entries of `SparkEntry.queries` (every one reads
  * `events`). Each query is built, run to completion into the `noop`
  * sink and its cached blocks released, as `graft.Bench` does.
  */
object Batch {
  import Main.Ctx

  /** The batch corpus is fixed (its seed is not the run's), so each
    * query's output hash can be committed; the run seed orders the
    * queries within a pass. */
  val CorpusSeed = 42L
  val EventRows = 10000

  /** Order- and column-order-insensitive fingerprint of a result:
    * (rows, sha-256 prefix). Floats are hashed as bit patterns, so
    * -0.0 and 0.0 differ, as in the oracle compare. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = df.collect().map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    (lines.length.toLong, md.digest().take(12).map(b => f"$b%02x").mkString)
  }

  private def cell(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
    case f: Float => java.lang.Float.floatToRawIntBits(f).toString
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  /** name -> (rows, hash), one tab-separated line per query. */
  def readExpected(path: String): Seq[(String, (Long, String))] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2)))

  /** Planning phases of every query execution, as its tracker saw them. */
  final class PlanListener extends QueryExecutionListener {
    val records = ArrayBuffer.empty[Map[String, Any]]
    private def add(qe: QueryExecution, ok: Boolean): Unit = synchronized {
      records += Map("ok" -> ok, "phases" -> qe.tracker.phases.map { case (k, p) =>
        k -> List(p.startTimeMs.toDouble, p.endTimeMs.toDouble) })
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe, ok = false)
  }

  def finance(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val expected = readExpected(ctx.opts("expected"))
    val names = new scala.util.Random(ctx.seed).shuffle(expected.map(_._1).sorted)
    val plans = new PlanListener
    if (ctx.trace.on) spark.listenerManager.register(plans)

    // set-up: load the corpus, then one warm-up pass that also hashes
    // every output (checked after the timed passes)
    val t0 = Clock.nowMs()
    val dir = s"${ctx.work}/corpus"
    spark.createDataset(Gen.events(CorpusSeed, EventRows)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = names.map { n =>
      val fp = try Some(fingerprint(SparkEntry.queries(n)(spark, dir)))
        catch { case NonFatal(e) => System.err.println(s"[perfbench] $n: $e"); None }
      Caches.releaseAll(spark)
      n -> fp
    }.toMap
    ctx.record("setup_reps_s") = List((Clock.nowMs() - t0) / 1000)
    ctx.record("hashes") = got.collect { case (n, Some((r, h))) => n -> List(r, h) }

    val queries = ArrayBuffer.empty[List[Any]]
    val tStart = Clock.nowMs()
    var pass = 0
    while (pass == 0 || Clock.nowMs() - tStart < ctx.seconds * 1000.0) {
      ctx.timed("pass") { passId =>
        names.foreach { n =>
          var ok = true
          val t = Clock.nowMs()
          val (_, wall) = ctx.timed("query", passId) { qid =>
            try {
              val (df, _) = ctx.timed("query.build", qid)(_ => SparkEntry.queries(n)(spark, dir))
              ctx.timed("query.exec", qid)(_ => df.write.format("noop").mode("overwrite").save())
            } catch { case NonFatal(e) =>
              System.err.println(s"[perfbench] $n failed: $e"); ok = false
            } finally ctx.timed("caches.release", qid)(_ => Caches.releaseAll(spark))
          }
          ctx.op(ok)
          queries += List(pass, n, t, wall, ok)
        }
      }
      pass += 1
    }
    ctx.record("t0") = tStart
    ctx.record("t_end") = Clock.nowMs()
    ctx.record("passes") = pass
    ctx.record("queries") = queries.toList
    if (ctx.trace.on) {
      spark.listenerManager.unregister(plans)
      ctx.record("plans") = plans.synchronized(plans.records.toList)
    }
    expected.foreach { case (n, want) =>
      val fp = got.get(n).flatten
      ctx.check(s"hash:$n", fp.contains(want), s"got $fp want $want")
    }
  }
}
