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

  /** Every Scala file under src/main/scala: (path relative to it, lines). */
  private lazy val mainSources: Seq[(String, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        java.nio.file.Files.readAllLines(p).asScala.toSeq).toList
    finally files.close()
  }

  test("only Caching persists or unpersists a frame under src/main/scala") {
    // Caching.hold/drop count owners per cache entry; a direct persist or
    // unpersist elsewhere would bypass the count. Checkpoints.scala's
    // unpersist is on a checkpoint's RDD, not on a Dataset.
    val allowed = Set("graft/functions/Caching.scala",
      "org/apache/spark/sql/graft/Checkpoints.scala")
    val direct = """\.persist\(|\.cache\(\)|\.unpersist\(""".r
    val hits = mainSources.filterNot { case (rel, _) => allowed(rel) }
      .flatMap { case (rel, lines) =>
        lines.zipWithIndex.collect {
          case (line, i) if direct.findFirstIn(line).nonEmpty => s"$rel:${i + 1}: ${line.trim}"
        }
      }
    assert(hits.isEmpty, s"direct cache calls outside Caching:\n${hits.mkString("\n")}")
  }

  test("one Parquet reader: no batch Parquet read under src/main/scala outside Tables") {
    // Tables.parquet resolves the schema from one footer on the driver; a
    // direct spark.read...parquet( elsewhere would launch Spark's schema
    // inference job again on every construction.
    val direct = """\.read\b.*\.parquet\(""".r
    val hits = mainSources.filterNot(_._1 == "graft/sources/Tables.scala")
      .flatMap { case (rel, lines) =>
        lines.zipWithIndex.collect {
          case (line, i) if direct.findFirstIn(line).nonEmpty => s"$rel:${i + 1}: ${line.trim}"
        }
      }
    assert(hits.isEmpty, s"Parquet reads outside Tables.parquet:\n${hits.mkString("\n")}")
  }

  test("each build-once product is declared once, and keys come only from declarations") {
    // A product's name, source and params are written in ONE Artifact
    // declaration; every reader and dependent calls its declaring def. A
    // second spelling of a name could key the product differently, and a
    // key, address or path assembled outside graft/sources could drift
    // from the declaration's rendering rule.
    val products = Seq("bpe", "cclabels", "contpairs", "cosupply", "dedupcc",
      "embpairs", "ivfpq", "jacpairs", "kmassign", "knngraph", "lmscore",
      "lpalabels", "navdelta", "navgraph")
    val operators = mainSources.filterNot(_._1.startsWith("graft/sources/"))
      .map { case (rel, lines) => rel -> lines.mkString("\n") }
    val declared = operators.flatMap { case (_, text) =>
      """\bArtifact\(\s*"([^"]*)"""".r.findAllMatchIn(text).map(_.group(1))
    }
    assert(declared.sorted === products, "each product needs exactly one declaration")
    val constructions = operators.map(o => """\bArtifact\(""".r.findAllIn(o._2).size).sum
    assert(constructions === declared.size, "an Artifact built without a literal name")
    for (name <- products) {
      val spellings = mainSources.flatMap { case (rel, lines) =>
        lines.zipWithIndex.collect {
          case (l, i) if l.contains(s"\"$name\"") => s"$rel:${i + 1}"
        }
      }
      assert(spellings.size === 1, s"product name \"$name\" spelled at $spellings")
    }
    val raw = """keyString|fileIdentity|ManifestKey|\w+Params\b|ArtifactCache\.root|MessageDigest|makeQualified""".r
    for ((rel, text) <- operators) {
      assert(raw.findFirstIn(text).isEmpty, s"$rel builds a key by hand: ${raw.findFirstIn(text)}")
      // The low-level publish and manifest check take a key: it must be a
      // declaration's.
      for (call <- """(buildAt|validateManifest)\(""".r.findAllMatchIn(text)) {
        var depth = 1
        val args = text.drop(call.end).takeWhile { c =>
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          depth > 0
        }
        assert(args.contains(".key"), s"$rel: ${call.matched}$args) takes a hand-made key")
      }
    }
  }
}
