package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Fns
import graft.operators.TextAnalytics

/** Tokenizer parity with the reference engine's `\b[a-z]+\b` word regex
  * (reference worker.py:6,13), the two structural invariants the
  * reference's chunked scan relies on (coordinator.py:47-60): chunk
  * invariance at line boundaries and count preservation, and the
  * per-partition word counter's row-for-row agreement with
  * `explode(Fns.tokens)`. */
class TokenizerSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def sparkTokens(text: String): Seq[String] =
    Seq(text).toDF("text")
      .select(Fns.tokens(col("text")).as("t"))
      .as[Seq[String]].head()

  private val jdkRe = java.util.regex.Pattern.compile("\\b[a-z]+\\b")
  private def jdkTokens(text: String): Seq[String] = {
    val m = jdkRe.matcher(text.toLowerCase)
    val out = Seq.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  /** The word count as `explode(Fns.tokens)` → group count: the semantics
    * [[TextAnalytics.wordCountsText]]'s combiner must reproduce. */
  private def explodeCounts(df: DataFrame, c: String): DataFrame =
    df.select(explode(Fns.tokens(col(c))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  private def sortedCounts(df: DataFrame): Seq[(String, Long)] =
    df.as[(String, Long)].collect().toSeq.sorted

  private def assertCombinerMatches(df: DataFrame, c: String): Unit = {
    val got = TextAnalytics.wordCountsText(df, c)
    val want = explodeCounts(df, c)
    assert(got.schema === want.schema)
    assert(sortedCounts(got) === sortedCounts(want))
  }

  private def lines(xs: Seq[String]): DataFrame =
    xs.toDF("text").repartition(3)

  test("Unicode/digit/underscore boundary golden (FIXTURES.md §A4: CPython parity)") {
    // CPython re on this input yields exactly [don, t]: \b is Unicode-aware,
    // so letter-runs adjacent to digits/underscore/accented letters are not
    // word-bounded. Verified against python3 in the survey session.
    assert(sparkTokens("café élan abc123 foo_bar don't x2") === Seq("don", "t"))
  }

  test("reference inline fixture: hello world hello python world (test_mapreduce.py:11)") {
    val counts = Seq("hello world hello python world").toDF("text")
      .select(explode(Fns.tokens(col("text"))).as("word"))
      .groupBy("word").count()
      .as[(String, Long)].collect().toMap
    assert(counts === Map("hello" -> 2L, "world" -> 2L, "python" -> 1L))
  }

  test("Spark regexp_extract_all matches JDK regex on edge fixtures") {
    val fixtures = Seq(
      "", " ", "a", "A B c", "x2 2x x-y a_b _a a_", "don't stop",
      "naïve café über", "tab\there\nnewline", "punct!?.,;:()[]{}",
      "MiXeD CaSe WoRdS", "123 456", "a1b2c3", "hello   world")
    for (f <- fixtures)
      assert(sparkTokens(f) === jdkTokens(f), s"mismatch on fixture: '$f'")
  }

  test("word counter equals explode(tokens) on ASCII edge fixtures") {
    assertCombinerMatches(lines(Seq(
      "abc1", "1abc", "a_b", "_a", "a_", "don't", "x2 2x x-y",
      "MiXeD CaSe WoRdS mixed case", "tab\there\r\nnew\rline\f",
      "punct!?.,;:()[]{}a", "a1b2c3 z", "", " ", "A", "ZZ zz Zz",
      "@at`tick~tilde[x]y^z")).union(Seq(null: String).toDF("text")), "text")
  }

  test("word counter equals explode(tokens) on non-ASCII rows") {
    // Non-ASCII rows take Fns.tokens itself: ICU lowering (Kelvin sign,
    // dotted capital I, sharp s) and the JDK's Unicode \b around accented
    // letters and a non-BMP code point.
    assertCombinerMatches(lines(Seq(
      "café latte", "naïve plan", "İstanbul ISTANBUL", "\u212Aelvin kelvin",
      "Straße STRASSE ß", "smile \uD83D\uDE00 ok \uD83D\uDE00x",
      "ok \u00e9t\u00e9 fin", "Ωmega omega")), "text")
  }

  test("word counter equals explode(tokens) on 200 seeded random lines") {
    val rnd = new scala.util.Random(7)
    val ascii = "abcXYZ019_ '-.\t"
    val other = Seq("é", "ß", "İ", "\u212A", "\uD83D\uDE00", "ω", "中")
    val xs = Seq.fill(200) {
      val unicode = rnd.nextBoolean()
      Seq.fill(rnd.nextInt(40)) {
        if (unicode && rnd.nextInt(6) == 0) other(rnd.nextInt(other.length))
        else ascii(rnd.nextInt(ascii.length)).toString
      }.mkString
    }
    assertCombinerMatches(lines(xs), "text")
  }

  test("word counter equals explode(tokens) on the sf0.01 documents") {
    val sf = java.nio.file.Paths.get(TestSpark.sf).resolveSibling("sf0.01")
    assertCombinerMatches(sources.Tables.documents(spark, sf.toString), "text")
  }

  test("word counter stays exact past its per-partition table bound") {
    // One partition holding more distinct words than the table keeps: the
    // table flushes mid-partition, the same words recur after the flush,
    // and the final sum must still count every occurrence.
    def word(i: Int): String =
      Iterator.iterate(i)(_ / 26).takeWhile(_ > 0).map(k => ('a' + k % 26).toChar)
        .mkString + "q"
    val n = TextAnalytics.CombineBound + 5000
    val ids = (1 to n) ++ (1 to n by 3) ++ (n to 1 by -7)
    val df = ids.grouped(50).map(_.map(word).mkString(" ")).toSeq
      .toDF("text").coalesce(1)
    val got = TextAnalytics.wordCountsText(df, "text")
    assert(got.schema === StructType(Seq(
      StructField("word", StringType, nullable = true),
      StructField("cnt", LongType, nullable = false))))
    val want = ids.groupBy(word).map { case (w, xs) => (w, xs.size.toLong) }
    assert(want.size === n)
    assert(got.as[(String, Long)].collect().toMap === want)
  }

  test("chunk invariance: splitting at any line boundary preserves tokens (O2 invariant)") {
    val rnd = new scala.util.Random(42)
    val words = Seq("the", "quick", "brown", "fox", "x2", "foo_bar", "don't", "a", "")
    for (_ <- 1 to 200) {
      val lines = Vector.fill(rnd.nextInt(8) + 1)(
        Vector.fill(rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" "))
      val full = lines.mkString("\n")
      val k = rnd.nextInt(lines.length + 1)
      val (a, b) = lines.splitAt(k)
      val whole = jdkTokens(full)
      val split = jdkTokens(a.mkString("\n")) ++ jdkTokens(b.mkString("\n"))
      assert(whole === split, s"chunk split changed tokens for: '$full' at $k")
    }
  }

  test("count preservation: sum of per-word counts equals total token count") {
    val docs = sources.Tables.documents(spark, TestSpark.sf)
    val totalTokens = docs.select(size(Fns.tokens(col("text"))).as("n"))
      .agg(sum("n")).as[Long].head()
    val sumCounts = operators.TextAnalytics.wordCounts(docs)
      .agg(sum("cnt")).as[Long].head()
    assert(totalTokens === sumCounts)
  }
}
