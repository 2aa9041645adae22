package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalytics
import graft.sources.Tables

/** O12/O13/O1 parity: raw-text ingest, TSV sink ordering, console format. */
class ReportSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmpDir(name: String) = {
    val p = Paths.get("target", "test-scratch", name)
    Files.createDirectories(p)
    p
  }

  test("raw text directory ingest counts words like the reference pipeline") {
    val dir = tmpDir("textdir")
    // the reference test fixture (test_mapreduce.py:47-50) split over 2 files
    Files.writeString(dir.resolve("a.txt"), "The quick brown fox\njumps over the lazy dog\n")
    Files.writeString(dir.resolve("b.txt"), "the quick brown fox jumps again\n")
    val counts = Report.wordcountTextDir(spark, dir.toString)
      .as[(String, Long)].collect().toMap
    assert(counts("the") === 3L)
    assert(counts("quick") === 2L)
    assert(counts("dog") === 1L)
    assert(counts.values.sum === 15L) // 9 tokens in a.txt + 6 in b.txt
  }

  test("TSV sink: single tab-separated part file, (count desc, word asc) order") {
    val out = tmpDir("tsv").resolve("word_counts.tsv").toString
    val counts = TextAnalytics.wordCounts(Tables.documents(spark, TestSpark.sf))
    Report.writeTsv(counts, out)
    val part = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(p => p.contains("part-") && p.endsWith(".csv"))
    assert(part.length === 1, "writeTsv must yield exactly one part file")
    val lines = scala.io.Source.fromFile(part.head).getLines().toVector
    val parsed = lines.map { l =>
      val Array(w, c) = l.split("\t"); (w, c.toLong)
    }
    // matches the declared wordcount_full query ordering exactly
    val expected = TextAnalytics.wordcountFull(spark, TestSpark.sf)
      .as[(String, Long)].collect().toVector
    assert(parsed === expected)
  }

  test("TextFixture: deterministic, fully tokenizer-visible corpus") {
    // The reference-scale anchor corpus must be (a) reproducible — same
    // args, byte-identical bytes, or the MB/s number is not — and
    // (b) entirely \b[a-z]+\b-visible: a digit-bearing vocab word would
    // silently vanish from the count (the w123 bug this pins).
    val dir = java.nio.file.Files.createTempDirectory("graft-fixture")
    try {
      def gen(sub: String): Array[Byte] = {
        graft.TextFixture.main(Array(dir.resolve(sub).toString, "20000", "2"))
        val fs = new java.io.File(dir.resolve(sub).toString).listFiles.sorted
        fs.flatMap(f => java.nio.file.Files.readAllBytes(f.toPath))
      }
      val a = gen("a"); val b = gen("b")
      assert(a.sameElements(b), "fixture is not deterministic")
      val text = new String(a, "UTF-8")
      val words = text.split("\\s+").filter(_.nonEmpty)
      assert(words.length > 1000)
      val invisible = words.filterNot(_.matches("[a-z]+"))
      assert(invisible.isEmpty,
        s"tokenizer-invisible words: ${invisible.take(3).mkString(", ")}")
    } finally graft.sources.ArtifactCache.rmTree(dir.toString)
  }

  test("console top-k block carries rank, padded word, grouped count") {
    val counts = TextAnalytics.wordCounts(Tables.documents(spark, TestSpark.sf))
    val block = Report.formatTopK(counts, k = 5)
    val lines = block.linesIterator.toVector
    assert(lines.head.startsWith("===="))
    assert(lines(1) === "TOP 5 WORDS BY FREQUENCY")
    val dataLines = lines.drop(4)
    assert(dataLines.length === 5)
    assert(dataLines.head.matches("""\s?1\. \S+\s+: [\d,]+"""), s"bad line: ${dataLines.head}")
  }
}
