package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** The vector tier's one quantizer kernel ([[Similarity.nearest]])
  * against a plain-Scala `minBy((loss, id))` on random centroid sets:
  * exact loss ties, duplicate and scaled centroids, a single centroid and
  * zero vectors, under both losses it serves — the e4-cosine cell loss
  * and the anisotropic PQ loss. */
class QuantizerSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def dot(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }

  /** Spark's round(x · 10⁴) on a double: HALF_UP on the decimal value. */
  private def e4(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 10000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** Small-integer vectors: ties are common, every dot product is exact. */
  private def vec(dim: Int, lo: Int, hi: Int): Gen[Seq[Double]] =
    Gen.listOfN(dim, Gen.choose(lo, hi).map(_.toDouble))

  /** 1..6 centroids over a tiny domain, plus duplicates of earlier ones
    * (and, when `scaled`, 2× copies — equal cosine) under fresh ids. The
    * ids are shuffled so the lower-id tie-break is not the input order. */
  private def centroids(dim: Int, lo: Int, hi: Int, scaled: Boolean,
      base: Gen[Seq[Double]]): Gen[Seq[(Long, Seq[Double])]] = for {
    n <- Gen.choose(1, 6)
    cs <- Gen.listOfN(n, base)
    nDup <- Gen.choose(0, 3)
    dups <- Gen.listOfN(nDup, Gen.choose(0, n - 1))
    twice <- Gen.listOfN(nDup, Gen.oneOf(scaled, false))
    seed <- Gen.long
  } yield {
    val all = cs ++ dups.zip(twice).map { case (i, t) =>
      if (t) cs(i).map(_ * 2) else cs(i)
    }
    val ids = new scala.util.Random(seed).shuffle((0L until all.size).toList)
    ids.zip(all)
  }

  private val params = Test.Parameters.default.withMinSuccessfulTests(30)
    .withInitialSeed(20261020L).withWorkers(1)

  test("the kernel under the e4-cosine cell loss equals minBy((-sim_e4, id))") {
    val dim = 4
    val nonZero = vec(dim, -2, 2).suchThat(_.exists(_ != 0.0))
    val gen = for {
      cents <- centroids(dim, -2, 2, scaled = true, nonZero)
      xs <- Gen.listOfN(8, nonZero)
    } yield (cents, xs)
    val prop = Prop.forAllNoShrink(gen) { case (cents, xs) =>
      val got = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
        .toDF("i", "v")
        .withColumn("nrm", org.apache.spark.sql.functions.sqrt(
          graft.functions.Fns.dotD(col("v"), col("v"))))
        .select(col("i"), Similarity.nearest(cents.map { case (id, cv) =>
          id -> Similarity.cellLoss(col("v"), col("nrm"), cv)
        }).as("mn"))
        .select("i", "mn.loss", "mn.id").as[(Long, Long, Long)]
        .collect().sortBy(_._1).map(r => (r._2, r._3)).toSeq
      val want = xs.map { x =>
        val xn = math.sqrt(dot(x, x))
        cents.map { case (id, cv) =>
          (-e4(dot(x, cv) / (xn * math.sqrt(dot(cv, cv)))), id)
        }.minBy(identity)
      }
      (got == want) :| s"kernel $got != reference $want for $cents"
    }
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("a zero vector has no cosine: the cell assignment fails loudly") {
    val df = Seq((0L, Seq(0.0, 0.0))).toDF("i", "v")
      .withColumn("nrm", org.apache.spark.sql.functions.lit(0.0))
      .select(Similarity.nearest(Seq(0L -> Similarity.cellLoss(col("v"),
        col("nrm"), Seq(1.0, 0.0)))).as("mn"))
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("DIVIDE_BY_ZERO"), e.getMessage)
  }

  test("the kernel under the anisotropic PQ loss equals minBy((loss, j)) per subspace") {
    val (dim, m, eta) = (3, 2, 3)
    val anyVec = vec(dim, -4, 4)
    // Codes: one centroid per (subspace, code), zero vectors allowed.
    val codebook = for {
      k <- Gen.choose(1, 5)
      cs <- Gen.listOfN(k * m, Gen.frequency(4 -> anyVec,
        1 -> Gen.const(Seq.fill(dim)(0.0))))
      dupOf <- Gen.option(Gen.choose(0, k - 1))
    } yield {
      val byCode = cs.grouped(m).toSeq
      // a duplicate code: the same centroids under the next id
      val codes = byCode ++ dupOf.map(byCode(_)).toSeq
      codes.zipWithIndex.flatMap { case (cms, j) =>
        cms.zipWithIndex.map { case (cm, mm) => (mm.toLong, j.toLong, cm) }
      }
    }
    val row = for {
      mm <- Gen.choose(0, m - 1)
      r <- Gen.frequency(4 -> anyVec, 1 -> Gen.const(Seq.fill(dim)(0.0)))
      xq <- Gen.frequency(4 -> anyVec, 1 -> Gen.const(Seq.fill(dim)(0.0)))
    } yield (mm, r, xq)
    val gen = for {
      cb <- codebook
      rows <- Gen.listOfN(8, row)
    } yield (cb, rows)
    def loss(r: Seq[Double], xq: Seq[Double], cm: Seq[Double]): Long = {
      val d2 = (dot(r, r) - 2.0 * dot(r, cm) + dot(cm, cm)).toLong
      val ex = (dot(r, xq) - dot(cm, xq)).toLong
      (eta - 1).toLong * ex * ex + dot(xq, xq).toLong * d2
    }
    val prop = Prop.forAllNoShrink(gen) { case (cb, rows) =>
      val got = rows.zipWithIndex.map { case ((mm, r, xq), i) =>
          (i.toLong, mm, r, xq) }
        .toDF("i", "m", "r", "xq")
        .select(col("i"), Similarity.pqCode(cb, col("m"),
          Similarity.anisoLoss(col("r"), col("xq"), eta)).as("mn"))
        .select("i", "mn.loss", "mn.id").as[(Long, Long, Long)]
        .collect().sortBy(_._1).map(t => (t._2, t._3)).toSeq
      val want = rows.map { case (mm, r, xq) =>
        cb.filter(_._1 == mm).map { case (_, j, cm) => (loss(r, xq, cm), j) }
          .minBy(identity)
      }
      (got == want) :| s"kernel $got != reference $want"
    }
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}
