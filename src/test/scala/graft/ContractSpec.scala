package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static guards on the driver contract itself: the oracle map must stay a
  * subset of the query map (a typo'd key silently weakens a query from
  * hash-matched to rows-only in the driver gate), every SQL string must be
  * non-trivial, and the declared rows-only set must stay the deliberate
  * R5 escape hatch, not an accident. */
class ContractSpec extends AnyFunSuite {

  test("every oracle key names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
  }

  test("the rows-only set is exactly the declared R5 escape hatch") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly === Set(
      "distinct_words_approx", // HLL registers are engine-specific
      "text_tfidf",            // libm ln (rule R2)
      "agg_quantiles_approx"), // GK summary merge is engine-specific
      s"rows-only set drifted: $rowsOnly")
  }

  test("oracle SQL strings end in a total ORDER BY (rule R1)") {
    for ((name, sql) <- SparkEntry.oracleSql) {
      assert(sql.toUpperCase.contains("ORDER BY"), s"$name has no ORDER BY")
      assert(sql.trim.nonEmpty && sql.length > 40, s"$name oracle looks vestigial")
    }
  }

  test("only Caching persists or unpersists a frame under src/main/scala") {
    // Caching.hold/drop count owners per cache entry; a direct persist or
    // unpersist elsewhere would bypass the count. Checkpoints.scala's
    // unpersist is on a checkpoint's RDD, not on a Dataset.
    val root = java.nio.file.Paths.get("src/main/scala")
    val allowed = Set("graft/functions/Caching.scala",
      "org/apache/spark/sql/graft/Checkpoints.scala")
    val direct = """\.persist\(|\.cache\(\)|\.unpersist\(""".r
    val files = java.nio.file.Files.walk(root)
    val hits = try {
      import scala.jdk.CollectionConverters._
      files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString -> p)
        .filterNot { case (rel, _) => allowed(rel) }
        .flatMap { case (rel, p) =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if direct.findFirstIn(line).nonEmpty => s"$rel:${i + 1}: ${line.trim}"
          }
        }.toList
    } finally files.close()
    assert(hits.isEmpty, s"direct cache calls outside Caching:\n${hits.mkString("\n")}")
  }
}
