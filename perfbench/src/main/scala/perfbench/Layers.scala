package perfbench

/** Per-layer metrics of a traced run, from the spans and the engine
  * listener. Totals are over the run's cycles (a traced run always runs
  * exactly `Main.MinCycles` of them, so counts compare across runs). */
object Layers {
  val OperatorModules: Seq[String] = Seq("TextAnalytics", "Dedup", "Similarity",
    "Graph", "Pipeline", "Relational", "Events", "DataQuality", "Media")

  /** Products whose build seconds are reported one by one. */
  val Products: Seq[String] = Seq("knngraph", "navgraph", "cclabels",
    "cosupply", "jacpairs", "contpairs", "dedupcc")

  private val Mb = 1024.0 * 1024.0

  def metrics(c: Main.Ctx, gcS: Double): Map[String, Double] = {
    val tr = c.tr
    val e = tr.engine
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    out("ArtifactCache.builds") = c.products.size.toDouble
    out("ArtifactCache.build_s") = c.products.values.sum
    Products.foreach(p => out(s"ArtifactCache.build_s.$p") = c.products.getOrElse(p, 0.0))
    out("ArtifactCache.disk_mb") = Main.du(s"${c.work}/products") / Mb

    // Jobs -> the span whose group was set when they started. Inside the
    // Ship call, jobs are split further by the module their call site is in
    // (the eager construction work of the shipped frame) and by whether
    // they are Ship's own Parquet writes.
    val jobs = e.synchronized(e.jobs.values.toVector)
    val attributed = jobs.map(j => j -> tr.spanOf(j.group))
    val jobSecs = (j: JobRec) => math.max(0L, j.end - j.start) / 1e3
    // The first operator-module frame of the job's call site.
    def siteModule(j: JobRec): Option[String] =
      "graft\\.(?:operators|multimodal)\\.(\\w+)\\$".r.findFirstMatchIn(j.callSite).map(_.group(1))
    for (m <- OperatorModules; kind <- Seq("construct", "exec")) {
      val spans = tr.spans.filter(s => s.layer == m && s.kind == kind)
      val viaShip = if (kind != "construct") Vector.empty else attributed.collect {
        case (j, Some(s)) if s.layer == "Ship" && siteModule(j).contains(m) => j
      }
      out(s"$m.${kind}_s") = spans.map(_.seconds).sum + viaShip.map(jobSecs).sum
      out(s"$m.${kind}_jobs") = attributed.count {
        case (_, Some(s)) => s.layer == m && s.kind == kind
        case _ => false
      } + viaShip.size.toDouble
    }
    val shipSpans = tr.spans.filter(_.layer == "Ship")
    val shipWrites = attributed.collect {
      case (j, Some(s)) if s.layer == "Ship" && j.callSite.startsWith("parquet at Ship.scala") => j
    }
    out("Ship.write_s") = shipWrites.map(jobSecs).sum
    out("Ship.frame_s") = shipSpans.map(_.seconds).sum - out("Ship.write_s")
    out("Report.tsv_s") = tr.spans.filter(s => s.layer == "Report" && s.name == "writeTsv")
      .map(_.seconds).sum

    val t = e.total
    out("Tables.input_mb") = t.inputBytes / Mb
    out("Tables.input_records") = t.inputRecords.toDouble
    out("Tables.scan_task_s") = t.scanRunMs / 1e3
    out("shuffle.write_mb") = t.shuffleWrite / Mb
    out("shuffle.read_mb") = t.shuffleRead / Mb
    out("shuffle.fetch_wait_s") = t.fetchWaitMs / 1e3
    out("spill.mb") = t.spillDisk / Mb
    out("gc.s") = gcS
    out("cache.peak_mb") = e.cachedPeak / Mb
    out("cache.unpersists") = e.unpersists.toDouble
    out("spark.task_s") = t.runMs / 1e3
    out("spark.cpu_s") = t.cpuNs / 1e9
    out("spark.task_skew") = e.taskSkew
    out("spark.plan_s") = e.planMs / 1e3
    out("spark.jobs") = jobs.size.toDouble
    out("spark.stages") = e.stages.toDouble
    out("spark.tasks") = t.tasks.toDouble
    out("spark.unattributed_jobs") = attributed.count(_._2.isEmpty).toDouble

    // Scheduler gap: time inside top-level spans with no task running.
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val top = tr.spans.filter(_.parent < 0)
    out("spark.driver_gap_s") = e.idleSeconds(top.map(s =>
      ((s.start / 1e6 + offsetMs).toLong, (s.end / 1e6 + offsetMs).toLong)).toSeq)
    // Cycle wall time the top-level spans do not cover.
    val cycleS = c.cycles.map(_("seconds").asInstanceOf[Double]).sum
    val evictS = c.cycles.map(_.getOrElse("evict_s", 0.0).asInstanceOf[Double]).sum
    out("trace.uncovered_s") = math.max(0.0, cycleS + evictS - top.map(_.seconds).sum)
    out("trace.overhead_s") = tr.overheadSeconds
    out.toMap
  }
}
