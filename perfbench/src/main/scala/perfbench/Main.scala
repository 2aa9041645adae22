package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{Report, Ship, SparkEntry}
import graft.operators.{Pipeline, TextAnalytics}
import graft.sources.{ArtifactCache, Tables}
import graft.streaming.TextStreams

/** The benchmark's JVM side: one session, one workload, one closed loop.
  *
  *   Main <workload> <seconds> <trace 0|1> <inputDir> <warmDir> <workDir> <resultFile>
  *
  * The workload `archive` only sets up and exits (the runner uses it to
  * record a class-data archive).
  * Sets up the session several times (start + warmup), then runs the
  * workload's cycle until `seconds` have passed (at least `MinCycles`
  * cycles; the first one cold). Each cycle writes its outputs under
  * `workDir/out`; the Python runner checks them. The run record (timings,
  * output paths, box record and, when traced, the layer metrics) goes to
  * `resultFile` as JSON. */
object Main {
  val Setups = 3
  /** Cycles every run makes: one cold, one warm (more while time allows).
    * A traced run makes exactly this many, so its counts compare across
    * runs. */
  val MinCycles = 2
  val FilesPerTrigger = 4
  /** Ship's per-file raw-text target: small enough that the train split
    * is written as several files. */
  val ShipTargetBytes: Long = 256L << 10

  /** query_mix: (query, module, band). The driver-paced band builds the
    * nested navgraph -> knngraph products, and the co-supply product whose
    * build overlaps two driver actions on a Par.async thread before the
    * components rounds; the short band is sub-second queries where fixed
    * per-query overhead dominates. */
  val QueryMix: Seq[(String, String, String)] = Seq(
    ("sim_nav_graph", "Similarity", "driver_paced"),
    ("graph_components", "Graph", "driver_paced"),
    ("agg_pricing_summary", "Relational", "short"),
    ("topk_orders", "Relational", "short"),
    ("events_funnel", "Events", "short"),
    ("events_tumbling", "Events", "short"),
    ("data_profile", "DataQuality", "short"),
    ("media_dedup", "Media", "short"),
    ("text_quality", "TextAnalytics", "short"),
    ("corpus_stats", "Pipeline", "short"))

  final class Ctx(val spark: SparkSession, val tr: Tracer, val in: String,
      val work: String) {
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val products = mutable.LinkedHashMap.empty[String, Double]
    def out(parts: String*): String = (work +: "out" +: parts).mkString("/")
    def drainBuilds(): Unit = ArtifactCache.drainBuildTimes().foreach {
      case (dir, s) =>
        val name = dir.replaceAll("-[0-9a-f]{16}$", "")
        products(name) = products.getOrElse(name, 0.0) + s
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg, in, warm, work, resultFile) = args
    val seconds = secondsArg.toDouble
    val tr = new Tracer(traceArg == "1", s"$workload-${System.currentTimeMillis()}")
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val products = s"$work/products"
    System.setProperty("spark.graft.products.dir", products)

    var spark: SparkSession = null
    val setups = (1 to Setups).map { _ =>
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = session(cpus, work, products)
      val t1 = System.nanoTime()
      warmup(spark, warm)
      val t2 = System.nanoTime()
      Map("session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9)
    }
    if (workload == "archive") { stopSession(spark); return }
    tr.attach(spark)
    val ctx = new Ctx(spark, tr, in, work)
    ArtifactCache.drainBuildTimes()
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    val cycle: Int => Map[String, Any] = workload match {
      case "wordcount" => wordcount(ctx, _)
      case "ship" => ship(ctx, _)
      case "query_mix" => queryMix(ctx, _)
      case "stream" => stream(ctx, _)
    }
    var i = 0
    while (i < MinCycles || (!tr.on && (System.nanoTime() - t0) / 1e9 < seconds)) {
      ctx.cycles += cycle(i)
      i += 1
    }
    ctx.drainBuilds()
    val gcS = (gcMillis() - gc0) / 1e3
    val layers =
      if (!tr.on) Map.empty
      else {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        Layers.metrics(ctx, gcS)
      }
    if (workload == "ship") shipReference(ctx)
    val record = Map(
      "workload" -> workload,
      "setups" -> setups,
      "cycles" -> ctx.cycles,
      "extra" -> ctx.extra,
      "rss_peak_mb" -> rssPeakMb(),
      "box" -> box(spark),
      "layers" -> layers,
      "spans" -> (if (tr.on) tr.spans.map(s => Map("id" -> s.id, "layer" -> s.layer,
        "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent, "run" -> s.run,
        "start_ns" -> s.start, "end_ns" -> s.end)) else Nil),
      "jobs" -> (if (tr.on) tr.engine.jobs.values.map(j => Map("id" -> j.id,
        "group" -> j.group, "call_site" -> j.callSite, "start_ms" -> j.start,
        "end_ms" -> j.end)) else Nil))
    Files.writeString(Paths.get(resultFile), Json.render(record))
    stopSession(spark)
  }

  // ---------------------------------------------------------------- setup

  def session(cpus: String, work: String, products: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.products.dir", products)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Codegen/JIT warmup on the fixed tiny input: one scan + tokenize +
    * aggregate + sort query. */
  def warmup(spark: SparkSession, warm: String): Unit =
    TextAnalytics.wordCountsText(Tables.textLines(spark, s"$warm/text"), "value")
      .orderBy(desc("cnt"), asc("word")).limit(20).collect(): Unit

  // ------------------------------------------------------------ workloads

  def wordcount(c: Ctx, i: Int): Map[String, Any] = {
    val out = c.out(s"wc-$i")
    val t0 = System.nanoTime()
    val lines = c.tr.span("Tables", "textLines", "construct") {
      Tables.textLines(c.spark, s"${c.in}/text")
    }
    val counts = c.tr.span("TextAnalytics", "wordCountsText", "construct") {
      TextAnalytics.wordCountsText(lines, "value")
    }.cache()
    val top = c.tr.span("Report", "formatTopK")(Report.formatTopK(counts))
    c.tr.span("Report", "writeTsv")(Report.writeTsv(counts, s"$out/tsv"))
    counts.unpersist(blocking = true)
    val secs = (System.nanoTime() - t0) / 1e9
    Files.writeString(Paths.get(s"$out/top.txt"), top)
    Map("cycle" -> i, "seconds" -> secs, "ops" -> Seq(Map("name" -> "wordcount",
      "seconds" -> secs, "out" -> out)), "written" -> du(out))
  }

  def ship(c: Ctx, i: Int): Map[String, Any] = {
    val evictS = timed(c.tr.span("bench", "evict") {
      ArtifactCache.evictAll(); c.spark.catalog.clearCache()
    })
    val out = c.out(s"ship-$i")
    val t0 = System.nanoTime()
    val files = c.tr.span("Ship", "shipCompacted") {
      Ship.shipCompacted(c.spark, c.in, out, ShipTargetBytes)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    Map("cycle" -> i, "seconds" -> secs, "evict_s" -> evictS,
      "ops" -> Seq(Map("name" -> "ship", "seconds" -> secs, "out" -> out,
        "files" -> files)),
      "written" -> (du(out) + du(s"${c.work}/products")))
  }

  /** The independent reference for ship's first cycle: the near-dup clean
    * gate over the same documents, computed outside the timed region. */
  def shipReference(c: Ctx): Unit = {
    val ref = c.out("ship-reference")
    Pipeline.cleanCorpusNearDupDf(Tables.documents(c.spark, c.in))
      .filter(col("keep") === 1).select("doc_id")
      .write.mode("overwrite").parquet(ref)
    c.extra("ship_reference") = ref
  }

  def queryMix(c: Ctx, pass: Int): Map[String, Any] = {
    val cold = pass == 0
    val evictS =
      if (cold) timed(c.tr.span("bench", "evict") {
        ArtifactCache.evictAll(); c.spark.catalog.clearCache()
      }) else 0.0
    if (cold) c.extra("oracle_sql") = QueryMix.map(_._1)
      .flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    val t0 = System.nanoTime()
    val ops = QueryMix.map { case (q, module, band) =>
      val out = c.out(s"pass-$pass", q)
      val q0 = System.nanoTime()
      val df = c.tr.span(module, q, "construct") {
        SparkEntry.queries(q)(c.spark, c.in)
      }
      val q1 = System.nanoTime()
      c.tr.span(module, q, "exec")(df.write.mode("overwrite").parquet(out))
      val q2 = System.nanoTime()
      c.tr.span("bench", "clearCache")(c.spark.catalog.clearCache())
      val q3 = System.nanoTime()
      Map("name" -> q, "module" -> module, "band" -> band, "out" -> out,
        "construct_s" -> (q1 - q0) / 1e9, "exec_s" -> (q2 - q1) / 1e9,
        "clear_s" -> (q3 - q2) / 1e9, "seconds" -> (q3 - q0) / 1e9)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    Map("cycle" -> pass, "cold" -> cold, "seconds" -> secs, "evict_s" -> evictS,
      "ops" -> ops,
      "written" -> (du(c.out(s"pass-$pass")) +
        (if (cold) du(s"${c.work}/products") else 0L)))
  }

  /** One stream cycle: drain the staged backlog through three twins, then
    * stop the packing twin at a fixed trigger and resume it from its
    * checkpoint. */
  def stream(c: Ctx, i: Int): Map[String, Any] = {
    val stage = s"${c.in}/stage"
    val staged = new File(stage).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val base = s"${c.work}/stream-$i"
    val twins: Seq[(String, String, String => DataFrame)] = Seq(
      ("dedup", "append", p => TextStreams.dedupStream(c.spark, p, FilesPerTrigger)),
      ("neardup", "append", p => TextStreams.nearDupStream(c.spark, p,
        maxFilesPerTrigger = FilesPerTrigger).toDF()),
      ("pack_offsets", "update", p => TextStreams.packOffsetsStream(c.spark, p,
        FilesPerTrigger).toDF()))
    val t0 = System.nanoTime()
    val ops = twins.map { case (twin, mode, mk) =>
      drain(c, twin, mode, mk(stage), s"$base/$twin/ckpt", c.out(s"stream-$i", twin))
    }
    // Stop at a fixed trigger: the first run sees only the first half of
    // the backlog, so AvailableNow ends after that many triggers; the rest
    // arrives while it is down and the resumed run catches up.
    val src = s"$base/resume-src"
    Files.createDirectories(Paths.get(src))
    val (first, rest) = staged.splitAt(staged.length / 2)
    def link(fs: Seq[File]): Unit = fs.foreach(f =>
      Files.createLink(Paths.get(src, f.getName), f.toPath))
    link(first.toSeq)
    val (_, mode, mk) = twins.last
    val ckpt = s"$base/resume-ckpt"
    val before = drain(c, "pack_offsets_before_stop", mode, mk(src), ckpt,
      c.out(s"stream-$i", "pack_offsets_resumed"))
    link(rest.toSeq)
    val resumed = drain(c, "pack_offsets_resume", mode, mk(src), ckpt,
      c.out(s"stream-$i", "pack_offsets_resumed"))
    val secs = (System.nanoTime() - t0) / 1e9
    Map("cycle" -> i, "seconds" -> secs, "ops" -> (ops ++ Seq(before, resumed)),
      "written" -> du(c.out(s"stream-$i")))
  }

  private def drain(c: Ctx, twin: String, mode: String, df: DataFrame,
      ckpt: String, out: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    val q = c.tr.span("TextStreams", twin) {
      val q = df.writeStream.outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/batch=$id")
        }.start()
      c.tr.alias(q.runId.toString)
      q.awaitTermination()
      q
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress.filter(_.numInputRows > 0)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)
    val last = q.recentProgress.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    Map("name" -> twin, "seconds" -> secs, "out" -> out,
      "rows" -> prog.map(_.numInputRows).sum,
      "trigger_ms" -> prog.map(dur(_, "triggerExecution")).toSeq,
      "addBatch_ms" -> prog.map(dur(_, "addBatch")).toSeq,
      "queryPlanning_ms" -> prog.map(dur(_, "queryPlanning")).toSeq,
      "walCommit_ms" -> prog.map(dur(_, "walCommit")).toSeq,
      "state_rows" -> last.map(_.numRowsTotal).sum,
      "state_bytes" -> last.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> prog.map(_.stateOperators.map(_.commitTimeMs).sum).toSeq)
  }

  // -------------------------------------------------------------- helpers

  def timed(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def du(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(x => du(x.getPath)).sum).getOrElse(0L)
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** The JVM's peak resident set (VmHWM) in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Box record: cores, memory, JDK and Spark versions, and a fixed
    * single-thread control loop, so results from different machines can
    * be told apart. */
  def box(spark: SparkSession): Map[String, Any] = {
    val mem = {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemTotal:"))
        .map(_.split("\\s+")(1).toLong / 1024).getOrElse(0L)
      finally src.close()
    }
    Map("nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_mb" -> mem,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "control_s" -> control())
  }

  /** Median of five runs of a fixed integer loop (64-bit LCG, 2^25 steps). */
  def control(): Double = {
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var x = 1L
      var k = 0
      while (k < (1 << 25)) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
      if (x == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(2)
  }
}
