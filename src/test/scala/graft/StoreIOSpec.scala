package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

import graft.streaming.StoreIO

/** The side-store contract every streaming twin relies on: one
  * directory per batch, replay overwrites it, readers discover
  * `batch_id` from the path, a crashed attempt's leftovers never reach
  * a reader, and stores from the earlier dynamic-overwrite writer
  * still read back.
  */
class StoreIOSpec extends SparkSuite {
  import spark.implicits._

  private val Ddl = "k BIGINT, v STRING, batch_id BIGINT"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(Paths.get("target"), prefix).toString

  private def rows(store: String): Seq[(Long, String, Long)] =
    StoreIO.readOrEmpty(spark, store, Ddl).as[(Long, String, Long)]
      .collect().sorted.toSeq

  test("a zero-row batch leaves the store readable with its declared schema") {
    val store = s"${tmp("storeio-empty-")}/s"
    StoreIO.writeBatch(Seq.empty[(Long, String)].toDF("k", "v"), store, 0L)
    val df = StoreIO.readOrEmpty(spark, store, Ddl)
    assert(df.schema == StructType.fromDDL(Ddl))
    assert(df.count() == 0)
    StoreIO.writeBatch(Seq((1L, "a")).toDF("k", "v"), store, 1L)
    assert(rows(store) == Seq((1L, "a", 1L)))
  }

  test("a replayed write removes a crashed attempt's stray part file and its rows") {
    val base = tmp("storeio-stray-")
    val store = s"$base/s"
    StoreIO.writeBatch(Seq((1L, "a")).toDF("k", "v"), store, 0L)
    // a crashed attempt of batch 1 committed one part file, and left a
    // second copy in its task scratch directory
    Seq((9L, "stray")).toDF("k", "v").coalesce(1).write.parquet(s"$base/crashed")
    val part = Files.list(Paths.get(base, "crashed")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dir1 = Paths.get(store, "batch_id=1")
    Files.createDirectories(dir1.resolve("_temporary/0"))
    Files.copy(part, dir1.resolve("part-99999-stray.parquet"))
    Files.copy(part, dir1.resolve("_temporary/0/part-99999-stray.parquet"))
    assert(rows(store) == Seq((1L, "a", 0L), (9L, "stray", 1L)),
      "the committed stray file is visible, the `_temporary` copy is not")
    StoreIO.writeBatch(Seq((2L, "b")).toDF("k", "v"), store, 1L)
    assert(!Files.exists(dir1.resolve("part-99999-stray.parquet")))
    assert(!Files.exists(dir1.resolve("_temporary")))
    assert(rows(store) == Seq((1L, "a", 0L), (2L, "b", 1L)))
  }

  test("a store in the dynamic-overwrite layout reads back identically and takes new batches") {
    val base = tmp("storeio-legacy-")
    val (legacy, current) = (s"$base/legacy", s"$base/current")
    Seq(0L -> Seq((1L, "a"), (2L, "b")), 1L -> Seq((3L, "c"))).foreach { case (id, rs) =>
      // the writer every twin used before StoreIO.writeBatch
      rs.toDF("k", "v").withColumn("batch_id", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(legacy)
      StoreIO.writeBatch(rs.toDF("k", "v"), current, id)
    }
    // the layouts differ: only the per-batch writer commits each
    // batch directory with its own `_SUCCESS` marker
    assert(!Files.exists(Paths.get(legacy, "batch_id=0", "_SUCCESS")))
    assert(Files.exists(Paths.get(current, "batch_id=0", "_SUCCESS")))
    assert(rows(legacy) == rows(current))
    assert(rows(legacy) == Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L)))
    // upgrade in place: replay an old batch, then add a new one
    StoreIO.writeBatch(Seq((4L, "d")).toDF("k", "v"), legacy, 1L)
    StoreIO.writeBatch(Seq((5L, "e")).toDF("k", "v"), legacy, 2L)
    assert(rows(legacy) == Seq((1L, "a", 0L), (2L, "b", 0L), (4L, "d", 1L), (5L, "e", 2L)))
  }
}
