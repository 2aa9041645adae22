package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** `Tables.parquet` resolves a read's schema from one footer on the
  * driver: it must give exactly the schema Spark's inference job gives, on
  * every corpus table at every size, on a multi-file product dir and on a
  * `partitionBy` dir, and constructing the read must run no Spark job. */
class ParquetReaderSpec extends AnyFunSuite {
  import TestSpark.spark

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")
  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  /** Jobs started while `body` runs, counted once the bus has drained. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      TestBus.drain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def assertSameRead(path: String): DataFrame = {
    val (df, jobs) = jobsDuring(Tables.parquet(spark, path))
    assert(jobs === 0, s"constructing the read of $path ran $jobs job(s)")
    val inferred = spark.read.parquet(path).schema
    assert(df.schema === inferred, path)
    assert(df.schema.json === inferred.json, path)
    df
  }

  test("every corpus table at every size: footer schema equals the inferred one, with no job") {
    for (d <- sfDirs; t <- tables) assertSameRead(s"$d/$t.parquet")
  }

  test("events: the ts_us derivation reads its type from the footer schema, with no job") {
    for (d <- sfDirs) {
      val (ev, jobs) = jobsDuring(Tables.events(spark, d))
      assert(jobs === 0, s"Tables.events($d) ran $jobs job(s) while constructed")
      assert(ev.schema("ts_us").dataType === org.apache.spark.sql.types.LongType)
    }
  }

  test("a product dir of several part files reads the same schema and rows") {
    val path = "target/test-scratch/reader_parts"
    Tables.documents(spark, TestSpark.sf).repartition(3)
      .write.mode("overwrite").parquet(path)
    val parts = new java.io.File(path).listFiles().count(_.getName.startsWith("part-"))
    assert(parts === 3)
    val df = assertSameRead(path)
    assert(df.orderBy("doc_id").collect().toSeq ===
      spark.read.parquet(path).orderBy("doc_id").collect().toSeq)
  }

  test("a partitionBy dir: the partition column is still discovered from the dir names") {
    val path = "target/test-scratch/reader_split"
    Tables.documents(spark, TestSpark.sf)
      .withColumn("split", when(col("doc_id") % 5 === 0, "test").otherwise("train"))
      .write.mode("overwrite").partitionBy("split").parquet(path)
    val df = assertSameRead(path)
    assert(df.columns.last === "split")
    val counts = df.groupBy("split").count().orderBy("split").collect().toSeq
    assert(counts === spark.read.parquet(path).groupBy("split").count()
      .orderBy("split").collect().toSeq)
    assert(counts.map(_.getString(0)) === Seq("test", "train"))
  }

  test("a path with no data file fails loudly") {
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("target", "test-scratch", "reader_empty"))
    java.nio.file.Files.writeString(dir.resolve("_SUCCESS"), "")
    intercept[IllegalArgumentException](Tables.parquet(spark, dir.toString))
  }
}
