package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalytics
import graft.sources.Tables

/** The reference engine's two output surfaces (its entire persistent UX):
  *
  *  - O12, TSV sink (reference coordinator.py:131-134): the full
  *    `word\tcount` frequency table, count-descending. The rebuild imposes
  *    the (count DESC, word ASC) total order — the reference's
  *    `most_common()` tie order is arrival-dependent, which SURVEY §2 O9
  *    flags as nondeterminism, not semantics to reproduce.
  *  - O13, console report (reference coordinator.py:123-129): rank,
  *    width-padded word, thousands-separated count.
  *
  * Plus the raw-text ingest path (O1/O2, coordinator.py:20-60): word count
  * over a directory of text files via Tables.textLines, with
  * `spark.sql.files.maxPartitionBytes` as the 50 MB CHUNK_BYTES analog.
  */
object Report {

  /** O12: write `word\tcount` as a single TSV part file. One exchange to a
    * single partition, then an in-task sort: no range-partitioning sample
    * job and no extra stage, and the counts table is already aggregated, so
    * one writer task is not a bottleneck. `repartition`, not `coalesce`:
    * the exchange keeps an uncomputed `counts`' final aggregate parallel. */
  def writeTsv(counts: DataFrame, outPath: String): Unit =
    counts.repartition(1)
      .sortWithinPartitions(desc("cnt"), asc("word"))
      .select(col("word"), col("cnt").cast("string"))
      .write.mode("overwrite")
      .option("sep", "\t")
      .csv(outPath)

  /** O13: the reference's top-k console block, format-compatible with
    * coordinator.py:123-129 (rank, word padded to longest+1, `%,d` count). */
  def formatTopK(counts: DataFrame, k: Int = 20): String = {
    val top = counts.orderBy(desc("cnt"), asc("word")).limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val longest = if (top.nonEmpty) top.map(_._1.length).max else 5
    // Locale pinned: %,d under a non-English default locale would use that
    // locale's grouping separator and break parity with the reference's
    // Python `:,` comma format.
    val lines = top.zipWithIndex.map { case ((w, c), i) =>
      String.format(java.util.Locale.US, "%2d. %s: %,d",
        Int.box(i + 1), w.padTo(longest + 1, ' '), Long.box(c))
    }
    ("=" * 60) + "\nTOP " + k + " WORDS BY FREQUENCY\n" + ("=" * 60) + "\n\n" +
      lines.mkString("\n")
  }

  /** O1/O2: word counts over a directory of raw UTF-8 text files — the
    * reference's actual ingest surface. Line-aligned splitting inside the
    * text source preserves the chunk-invariance the reference relies on
    * (a token never spans lines; TokenizerSpec asserts the invariant). */
  def wordcountTextDir(spark: SparkSession, path: String): DataFrame =
    TextAnalytics.wordCountsText(Tables.textLines(spark, path), "value")

  /** End-to-end parity job (the coordinator.py __main__ analog): count words
    * in a text directory (or the documents corpus when given an sf dir),
    * print the top-20 block, write the TSV, report unique count + elapsed. */
  def main(args: Array[String]): Unit = {
    val in = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "target/report_out/word_counts.tsv"
    val spark = graft.sources.Sessions.localFromEnv()
    spark.conf.set("spark.sql.files.maxPartitionBytes", "50m") // CHUNK_BYTES analog
    val t0 = System.nanoTime()
    // Hadoop FS, not java.io.File: the corpus dir may live on a DFS — the
    // same posture as the product layer (local paths resolve identically).
    val docsPath = new org.apache.hadoop.fs.Path(s"$in/documents.parquet")
    val docsExist = docsPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(docsPath)
    val counts = graft.functions.Caching.hold(
      if (docsExist) TextAnalytics.wordCounts(Tables.documents(spark, in))
      else wordcountTextDir(spark, in))
    val unique = counts.count()
    println("\n" + formatTopK(counts))
    writeTsv(counts, out)
    println(s"\nSaved: $out (unique=$unique)")
    println(f"Elapsed: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    spark.stop()
  }
}
