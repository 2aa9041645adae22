package graft
import org.apache.spark.sql.SparkSession

/** Dev scratch runner (not part of the driver contract). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = graft.sources.Sessions.local("32", logLevel = "ERROR")
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    if (args.length > 1 && args(1) == "time") {
      // Repeat-time one query in a warm JVM: where did the floor go?
      val name = args(2)
      val q = SparkEntry.queries(name)
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        q(spark, d).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        println(f"[scratch] $name rep$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "jobs") {
      // Per-JOB decomposition of one query (or product build) in a warm
      // JVM: which sequential driver actions the wall-clock goes to.
      val name = args(2)
      val q: (SparkSession, String) => org.apache.spark.sql.DataFrame =
        name match {
          case "build_navgraph" => (s, dir) =>
            graft.operators.Similarity.navGraphBuild(s, dir)
          case "build_navdelta" => (s, dir) =>
            graft.operators.Similarity.navInsertDf(
              graft.sources.Tables.embeddings(s, dir))
          case _ => SparkEntry.queries(name)
        }
      // warm pass
      q(spark, d).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      try graft.sources.ArtifactCache.evictDerivedFrom(Seq(d)): Unit
      catch { case _: Throwable => () }
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
          starts.put(j.jobId, (j.time, site)): Unit
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (t0, site) = starts.getOrDefault(j.jobId, (j.time, "?"))
          jobs.add((j.jobId, t0, j.time, site)): Unit
        }
      })
      for (rep <- 1 to 2) {
        jobs.clear()
        val t0 = System.nanoTime()
        q(spark, d).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        val total = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1000)
        import scala.jdk.CollectionConverters._
        val js = jobs.asScala.toSeq.sortBy(_._2)
        val first = if (js.nonEmpty) js.map(_._2).min else 0L
        println(f"[scratch] $name rep$rep total $total%.2f s, ${js.size} jobs")
        for ((id, s0, e0, site) <- js if e0 - s0 >= 100)
          println(f"[scratch]   job $id%3d  +${(s0 - first) / 1000.0}%7.2f s  dur ${(e0 - s0) / 1000.0}%6.2f s  ${site.take(90)}")
        // gap report: driver-side dead time between consecutive jobs
        val sorted = js.sortBy(_._2)
        for (i <- 1 until sorted.size) {
          val gap = sorted(i)._2 - sorted.take(i).map(_._3).max
          if (gap >= 400)
            println(f"[scratch]   GAP ${gap / 1000.0}%6.2f s before job ${sorted(i)._1}%3d (+${(sorted(i)._2 - first) / 1000.0}%7.2f) ${sorted(i)._4.take(80)}")
        }
      }
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "explain-to") {
      // Dump explain("formatted") for many queries into a directory, one
      // <outDir>/<query>.txt each: before/after plan evidence for an
      // optimization, compared outside the repository.
      val outDir = args(2)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      for (name <- args.drop(3)) {
        val df = SparkEntry.queries(name)(spark, d)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          plan.getBytes("UTF-8"))
        spark.catalog.clearCache()
        println(s"[scratch] wrote $outDir/$name.txt")
      }
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "explain") {
      args.drop(2).headOption.flatMap(SparkEntry.queries.get) match {
        case Some(q) => q(spark, d).explain("formatted")
        case None => println(
          s"usage: Scratch <sfDir> explain <query>; known queries: " +
            SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      }
      spark.stop(); return
    }
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("dedup_clusters")
    for (name <- names; rep <- 1 to 3) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      println(f"[scratch] $name rep$rep ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
