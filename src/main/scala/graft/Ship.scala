package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Caching.{drop, hold}
import graft.operators.Pipeline
import graft.sources.Tables

/** End-to-end corpus-shipping job — the training-data analog of the
  * reference's report/TSV surface (coordinator.py:123-134): documents in,
  * cleaned + split corpus out as split-partitioned Parquet
  * (`out/split=train/...`), the layout downstream trainers consume and the
  * partition-pruned way to read one split at 100 TB.
  */
object Ship {

  /** Filter to kept documents, attach the split, return the shippable frame
    * (doc_id, text, lang, split). The default keep decision is the NEAR-dup
    * aware one (cluster-survivor ∧ quality ∧ lang): a production pipeline
    * collapses near-duplicate re-crawls before shipping, not just
    * byte-identical copies. `nearDup = false` falls back to exact-only. */
  def shipFrame(spark: SparkSession, sfDir: String,
      nearDup: Boolean = true): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val clean =
      if (nearDup) Pipeline.cleanCorpusNearDup(spark, sfDir)
      else Pipeline.cleanCorpus(spark, sfDir)
    val kept = clean.filter(col("keep") === 1).select("doc_id")
    val split = Pipeline.dataSplit(spark, sfDir).select("doc_id", "split")
    docs.select(col("doc_id"), col("text"), col("lang"))
      .join(kept, "doc_id")
      .join(split, "doc_id")
  }

  /** Write the shipped corpus partitioned by split; return per-split counts. */
  def ship(spark: SparkSession, sfDir: String, outDir: String,
      nearDup: Boolean = true): Map[String, Long] = {
    val frame = shipFrame(spark, sfDir, nearDup)
    frame.write.mode("overwrite").partitionBy("split").parquet(outDir)
    Tables.parquet(spark, outDir)
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Write the shipped corpus with TARGET-SIZED files per split — the
    * small-files compaction every long-running pipeline needs: downstream
    * trainers read a few right-sized Parquet files per split instead of
    * one sliver per task per micro-batch. Each split's file count is
    * ceil(its raw byte mass / targetBytes), realized exactly by
    * `repartition(files)` before the write (files = tasks = output
    * parts). The driver loop is over the SPLIT VALUES — O(splits) driver
    * work, never O(rows) — and the shipped frame is persisted across the
    * sizing aggregate and the per-split writes so the clean/split
    * pipeline runs once. Stale-split protection is SCOPED: only existing
    * `split=<v>` children (and the `_SUCCESS` marker an earlier ship()
    * may have left) are deleted first, so splits from an earlier ship()
    * or an earlier corpus cannot survive into a later read — while a
    * caller who passes a directory that also holds unrelated data loses
    * nothing but the split dirs this writer owns. Returns
    * split → file count, capped at the split's row count (repartition
    * past the row count yields empty partitions that write no part
    * files). targetBytes is the raw-text mass per file (Parquet
    * compresses below it — size the target for the post-encoding files
    * your readers want, e.g. 128 MB row groups at real scale). */
  def shipCompacted(spark: SparkSession, sfDir: String, outDir: String,
      targetBytes: Long = 64L << 20, nearDup: Boolean = true): Map[String, Long] = {
    val frame = hold(shipFrame(spark, sfDir, nearDup))
    try {
      val sizes = frame.groupBy("split")
        .agg(sum(octet_length(col("text"))).as("bytes"), count(lit(1)).as("rows"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val outPath = new org.apache.hadoop.fs.Path(outDir)
      val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(outPath))
        fs.listStatus(outPath)
          .filter(st => st.getPath.getName.startsWith("split=") ||
            st.getPath.getName == "_SUCCESS")
          .foreach(st => fs.delete(st.getPath, true))
      val fileCounts =
        for ((split, bytes, rows) <- sizes) yield {
          val files = math.min(rows,
            math.max(1L, (bytes + targetBytes - 1) / targetBytes))
          frame.filter(col("split") === split).drop("split")
            .repartition(files.toInt)
            .write.mode("overwrite").parquet(s"$outDir/split=$split")
          split -> files
        }
      fileCounts.toMap
    } finally drop(frame)
  }

  def main(args: Array[String]): Unit = {
    val in = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "target/ship_out"
    val spark = graft.sources.Sessions.localFromEnv()
    val t0 = System.nanoTime()
    val counts = ship(spark, in, out)
    println(s"Shipped to $out: " + counts.toSeq.sortBy(_._1)
      .map { case (s, n) => s"$s=$n" }.mkString(", "))
    println(f"Elapsed: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    spark.stop()
  }
}
