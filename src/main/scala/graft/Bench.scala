package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every declared query at SPARK_GRAFT_SF_DIR and prints
  * one JSON line. Failures are recorded per query (negative time + a "failed"
  * list) — a broken query must not masquerade as a fast one.
  *
  * Methodology (every BENCH number quoted in SCALE.md comes from this):
  *  - Each query executes through a noop-sink WRITE, not `count()` — a count
  *    lets Catalyst's EliminateSorts drop the mandatory final ORDER BY, so
  *    sort-heavy queries would be under-timed.
  *  - Warmup phase runs every query once against a tiny scale factor
  *    (SPARK_GRAFT_WARM_DIR, default sf0.001) before any timing. A fresh JVM
  *    otherwise charges the first execution of each query with Janino
  *    compilation of its generated code plus JIT of the hot loops — measured
  *    at 3-6× the steady-state time, and plan-independent noise at any data
  *    scale. The codegen cache is keyed by generated source (identical
  *    across data dirs), so the warmup compiles exactly the code the timed
  *    run executes while touching ~1% of the data.
  *  - The cache is cleared after every query: operators that persist shared
  *    intermediates (LSH keys, shingle tables) release them, and no query
  *    can reuse another's cached data. The clear is INSIDE the timed region
  *    — freeing its own intermediates is part of a query's cost.
  *  - COLD/WARM pricing (since round 11): the product layer persists
  *    build-once artifacts on disk across passes — and across whole bench
  *    invocations — so a min-over-passes number alone can never show what
  *    a cold pipeline run costs (the round-10 measurement gap: every
  *    product BUILD had vanished from the artifact). The harness therefore
  *    EVICTS the products derived from this run's own corpora ONCE per run
  *    (the isolated parent before its chunk sequence; the dev loop for
  *    itself; never other corpora's products on a shared root), so each build
  *    is paid by exactly one cold pass — the run's first consumer — and
  *    `value_cold` sums to what a single cold pipeline run costs. It
  *    reports THREE things: per-query `queries_cold` (pass A,
  *    build-inclusive), per-query `queries` (min of the two passes — the
  *    warm floor, round-comparable), and `products` (each product
  *    build's own seconds, timed at the getOrBuild/index miss).
  *  - The timed phase runs TWICE and `queries` reports the minimum. The box
  *    is a shared VM with bursty CPU steal — identical code measured 101 s
  *    and 422 s total back to back, with 20-90 s stall blocks landing on
  *    whichever queries were running during a burst. Min-of-2 keeps one
  *    clean sample per query; a query lands in "failed" only if every run
  *    of it failed.
  *  - JVM ISOLATION (default since round 10): the contract outgrew one JVM.
  *    A single process that has already executed 100+ distinct queries
  *    carries JIT code-cache pressure, GC tenuring and listener residue
  *    that the early queries never see — measured as +8 % (r8) then +17 %
  *    (r9) drift on UNTOUCHED queries while fresh-JVM re-runs sat below
  *    their round-7 floors (SCALE.md). The main process therefore forks one
  *    child JVM per [[ChunkSize]]-query family (alphabetical chunks, so
  *    each JVM sees the query-count of the r7-era bench whose numbers were
  *    stable) and merges the children's JSON; each child runs the full
  *    warm + cold + warm protocol for its chunk. Reported times are
  *    therefore ISOLATED FLOORS — comparable across rounds regardless of
  *    how large the contract grows. `SPARK_GRAFT_ONLY=a,b` (the dev loop)
  *    runs in-process. Fork-capability failure (the spawn itself throws,
  *    TWICE — once can be a transient EAGAIN on this shared box) falls
  *    the rest of the run back to the legacy mode; a chunk whose child
  *    CRASHES (nonzero exit, timeout) falls back for that chunk alone —
  *    later chunks still fork.
  */
object Bench {
  /** Queries per child JVM. 12 ≈ the per-JVM query count of the rounds
    * whose in-bench numbers matched isolated re-runs. */
  val ChunkSize = 12

  /** One query's bench outcome: `best` = min over the timed passes
    * (negative when every pass failed), `cold` = the first, post-eviction
    * pass alone (negative when that pass failed). */
  final case class QueryTimes(name: String, best: Double, cold: Double,
    ok: Boolean)

  /** One protocol run's outcome: per-query times plus the product builds
    * the cold pass paid (dir basename → build seconds). The headline
    * totals are defined HERE, once — the full [[jsonLine]] and the
    * compact tail line must agree by construction, not by parallel
    * copies of the success predicates. */
  final case class RunResult(queries: Seq[QueryTimes],
    products: Map[String, Double]) {
    def totalWarm: Double = queries.collect { case q if q.ok => q.best }.sum
    def totalCold: Double = queries.collect { case q if q.cold > 0 => q.cold }.sum
  }

  private def execute(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** One resolution for the warmup corpus: the isolated parent's scoped
    * eviction and the children's warmup must agree on it, or value_cold
    * prices builds against a different corpus than the warmup touched. */
  private def warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

  def main(args: Array[String]): Unit = {
    // Dev-loop subsetting (SPARK_GRAFT_ONLY=q1,q2) and the forked children
    // (SPARK_GRAFT_FORKED=q1,q2) both run the classic in-process protocol;
    // the driver's argument-free invocation takes the isolated path.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val forked = sys.env.get("SPARK_GRAFT_FORKED")
      .map(_.split(",").map(_.trim).toSet)
    if (forked.isEmpty && only.isEmpty) runIsolated()
    else {
      val subset = forked.orElse(only)
      // The dev loop (SPARK_GRAFT_ONLY) owns its whole run, so it evicts
      // for itself; a forked child must NOT — the parent evicted ONCE
      // before the chunk sequence, so each product build is paid exactly
      // once across the run (a family spanning chunks stays warm after
      // its first chunk — the true cold-pipeline semantics).
      val r = runShared(subset, evictFirst = forked.isEmpty)
      println(jsonLine(r))
      // The dev loop gets the compact tail line too; a forked child must
      // NOT print it — the parent parses the child's FIRST {"metric" line
      // and a second one would only add ambiguity.
      if (forked.isEmpty) { println(compactLine(r)); writeSidecar(jsonLine(r)) }
      if (forked.nonEmpty) sys.exit(0) // plain-java child: don't wait on stragglers
    }
  }

  // ---- classic in-process protocol (one JVM, warm + cold + warm) ----

  private def runShared(subset: Option[Set[String]],
      evictFirst: Boolean = true): RunResult = {
    // Default to the box's cores (capped at the contract's local[32]),
    // not a hard-coded "4": forked children inherit the parent env, so a
    // run without SPARK_GRAFT_CPUS used to time every chunk at local[4]
    // — CPU-bound verify stages (dedup_editdist's Levenshtein) measured
    // 4.5× their local[32] floors, silently incomparable across rounds.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    def selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }
    val spark = graft.sources.Sessions.local(cpus)
    // Parquet footers + shuffle machinery for the TARGET dir.
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))
      try graft.sources.Tables.table(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    // Codegen/JIT warmup at the tiny SF (falls back to the target dir if the
    // warm dir is absent — then the warmup is a full untimed pass).
    val warm = if (new java.io.File(warmDir).exists()) warmDir else sfDir
    // In a forked child the parent already evicted, so a target-SF warmup
    // would BUILD the products untimed and pre-warm the cold pass —
    // exactly the accounting gap the cold pass exists to close. Can't
    // self-heal (re-evicting here double-bills families spanning chunks),
    // so say it loudly instead of reporting silently-warm "cold" floors.
    if (warm == sfDir && !evictFirst)
      System.err.println("[bench] WARNING: warm dir absent in a forked " +
        "child — warmup ran at the target SF, cold-pass build pricing " +
        "for this chunk is unreliable")
    for ((name, fn) <- selected) {
      try execute(fn(spark, warm))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    // Cold reset: drop the products derived from THIS run's corpora so
    // pass A prices the builds a cold pipeline run pays. Scoped to the
    // bench's own source dirs — a run pointed at a shared warehouse root
    // must never wipe products other corpora built (the evictAll hazard).
    // Skipped in forked children (the isolated parent evicted once for
    // the whole run). The warmup-era build timings (tiny-SF keys) are
    // discarded unconditionally so only target-SF builds reach the
    // products section.
    if (evictFirst)
      try graft.sources.ArtifactCache.evictDerivedFrom(Seq(sfDir, warm)): Unit
      catch { case e: Throwable =>
        System.err.println(s"[bench] product eviction failed: ${e.getMessage}")
      }
    graft.sources.ArtifactCache.drainBuildTimes(): Unit
    def timedPass(): Seq[(String, Double, Boolean)] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { execute(fn(spark, sfDir)); spark.catalog.clearCache(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            try spark.catalog.clearCache() catch { case _: Throwable => () }
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        (name, if (ok) sec else -sec, ok)
      }
    val passA = timedPass()
    val products = graft.sources.ArtifactCache.drainBuildTimes()
    val passB = timedPass()
    val results = passA.zip(passB).map { case ((name, a, okA), (_, b, okB)) =>
      val okTimes = Seq((a, okA), (b, okB)).collect { case (t, true) => t }
      if (okTimes.nonEmpty) QueryTimes(name, okTimes.min, a, ok = true)
      else QueryTimes(name, math.min(a, b), a, ok = false)
    }
    spark.stop()
    RunResult(results, products)
  }

  private def flatObj(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def jsonLine(r: RunResult, extra: String = ""): String = {
    val qs = flatObj(r.queries.map(q => (q.name, q.best)))
    val colds = flatObj(r.queries.map(q => (q.name, q.cold)))
    val prods = flatObj(r.products.toSeq.sortBy(_._1))
    val failed = r.queries.collect { case q if !q.ok => "\"" + q.name + "\"" }
      .mkString("[", ",", "]")
    s"""{"metric":"total","value":${r.totalWarm},"unit":"sec","value_cold":${r.totalCold},"queries":$qs,"queries_cold":$colds,"products":$prods,"failed":$failed,"sf":"$sfDir"$extra}"""
  }

  /** Sidecar copy of the full JSON line, written to a FILE so no stdout
    * framing can eat it: the round-14 fix (print the compact line last)
    * still parsed null in round 15 — under sbt the captured tail shows
    * the line prefixed `[info] ` and a 2000-char tail cap can cut it
    * mid-line. A file survives any capture. Path:
    * `$SPARK_GRAFT_BENCH_JSON`, default `bench_summary.json` in the
    * working directory; failures are non-fatal (the stdout lines remain
    * the primary channel). */
  private def writeSidecar(full: String): Unit = {
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "bench_summary.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (full + "\n").getBytes("UTF-8")): Unit
    catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed ($path): ${e.getMessage}")
    }
  }

  /** Compact summary printed as the FINAL stdout line (after the full
    * [[jsonLine]]): the full line grew past what a tail-only stdout
    * capture keeps (the driver's round-14 artifact recorded `parsed:
    * null` because the line's HEAD — where "metric" and "value" live —
    * was cut), so the headline totals also go out small and last. A
    * reader that keeps whole stdout still prefers the first, full
    * line; the same line also lands in the [[writeSidecar]] file. */
  private def compactLine(r: RunResult): String = {
    val nFailed = r.queries.count(!_.ok)
    s"""{"metric":"total","value":${r.totalWarm},"unit":"sec","value_cold":${r.totalCold},"n_queries":${r.queries.length},"n_failed":$nFailed,"n_products":${r.products.size},"sf":"$sfDir"}"""
  }

  // ---- isolated mode: fork one child JVM per query chunk, merge ----

  private sealed trait ChildOutcome
  private case class ChildOk(r: RunResult) extends ChildOutcome
  private case object ChildCrashed extends ChildOutcome
  private case object ForkUnavailable extends ChildOutcome

  private def runIsolated(): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val chunkSize = sys.env.get("SPARK_GRAFT_CHUNK").map(_.toInt)
      .getOrElse(ChunkSize).max(1)
    val chunks = names.grouped(chunkSize).toSeq
    // ONE eviction for the whole run: each product build is then paid by
    // exactly one chunk's cold pass (the first consumer in alphabetical
    // order), so value_cold sums to what a single cold pipeline run
    // costs — no double-billing when a family spans chunks. Scoped to
    // this run's own corpora (sf + warm dirs): a shared warehouse root
    // keeps every product other corpora built.
    try graft.sources.ArtifactCache.evictDerivedFrom(Seq(sfDir, warmDir)): Unit
    catch { case e: Throwable =>
      System.err.println(s"[bench] product eviction failed: ${e.getMessage}")
    }
    val merged = scala.collection.mutable.ArrayBuffer.empty[QueryTimes]
    val mergedProducts = scala.collection.mutable.Map.empty[String, Double]
    var forkBroken = false
    var fallbackChunks = 0
    for (chunk <- chunks) {
      // Any first failure gets one retry — a spawn can fail transiently
      // too (EAGAIN under memory pressure on this shared box), so a
      // single ForkUnavailable must not abandon isolation by itself.
      val attempts: Seq[ChildOutcome] =
        if (forkBroken) Seq(ForkUnavailable, ForkUnavailable)
        else runChild(chunk) match {
          case ok: ChildOk => Seq(ok)
          case first =>
            System.err.println(s"[bench] retrying chunk ${chunk.head}..")
            Seq(first, runChild(chunk))
        }
      attempts.last match {
        case ChildOk(r) =>
          merged ++= r.queries
          mergedProducts ++= r.products
        case _ =>
          // Structural fork loss = the spawn itself failed TWICE
          // (ProcessBuilder cannot start a java — poisons every later
          // chunk). A child that started but crashed/hung twice is a
          // chunk-local problem: later chunks still fork.
          if (attempts.forall(_ == ForkUnavailable)) forkBroken = true
          fallbackChunks += 1
          System.err.println(
            s"[bench] fork failed for chunk ${chunk.head}.. — in-process fallback")
          val r = runShared(Some(chunk.toSet), evictFirst = false)
          merged ++= r.queries
          mergedProducts ++= r.products
      }
    }
    // The mode label must not oversell: a run where SOME chunks fell back
    // to the parent JVM is not pure isolated floors — mark it so a
    // round-over-round comparison can see exactly what it is reading.
    val mode =
      if (fallbackChunks == chunks.length) "shared-fallback"
      else if (fallbackChunks > 0) "isolated+fallback"
      else "isolated"
    val result = RunResult(merged.toSeq, mergedProducts.toMap)
    val full = jsonLine(result,
      s""","mode":"$mode","reps":2,"chunk_size":$chunkSize,"fallback_chunks":$fallbackChunks""")
    println(full)
    println(compactLine(result))
    writeSidecar(full)
  }

  /** Fork one child JVM running this main over `chunk` (same classpath and
    * JVM flags as this process), parse its JSON line. Distinguishes the
    * fork being UNAVAILABLE (spawn itself failed) from the child CRASHING
    * (started but died / hung / printed garbage) — the caller treats only
    * the former as structural. */
  private def runChild(chunk: Seq[String]): ChildOutcome = {
    import scala.jdk.CollectionConverters._
    val p =
      try {
        val javaBin = new java.io.File(new java.io.File(
          sys.props("java.home"), "bin"), "java").getAbsolutePath
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala.toSeq
          .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
        val cmd = Seq(javaBin) ++ jvmArgs ++
          Seq("-cp", sys.props("java.class.path"), "graft.Bench")
        val pb = new ProcessBuilder(cmd.asJava)
        pb.environment().put("SPARK_GRAFT_FORKED", chunk.mkString(","))
        pb.redirectErrorStream(false)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        pb.start()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] fork unavailable: ${e.getMessage}")
        return ForkUnavailable
      }
    try {
      // Drain stdout on a side thread so the timeout below still fires if
      // the child hangs with its pipe open.
      val outBuf = new java.io.ByteArrayOutputStream()
      val reader = new Thread(() => {
        try { p.getInputStream.transferTo(outBuf); () }
        catch { case _: Throwable => () }
      })
      reader.setDaemon(true)
      reader.start()
      val finished = p.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) { p.destroyForcibly(); p.waitFor(); return ChildCrashed }
      reader.join(10000)
      val out = outBuf.toString("UTF-8")
      if (p.exitValue() != 0) return ChildCrashed
      out.linesIterator.find(_.startsWith("{\"metric\""))
        .flatMap(parseChildJson)
        .filter(r => chunk.toSet.subsetOf(r.queries.map(_.name).toSet))
        .map(ChildOk(_): ChildOutcome)
        .getOrElse(ChildCrashed)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] fork error: ${e.getMessage}")
      ChildCrashed
    }
  }

  /** Pull the flat string→number object named `key` out of `line`.
    * Minimal by design: keys are [a-z0-9_-]+ (query names and product dir
    * basenames), values plain doubles — no escaping exists. */
  private def flatSection(line: String, key: String): Seq[(String, Double)] = {
    val marker = "\"" + key + "\":{"
    val at = line.indexOf(marker)
    if (at < 0) return Seq.empty
    val body = line.substring(at + marker.length, line.indexOf("}", at))
    "\"([a-z0-9_.-]+)\":(-?[0-9.eE+-]+)".r.findAllMatchIn(body)
      .map(m => (m.group(1), m.group(2).toDouble)).toSeq
  }

  /** Minimal parser for the child's own [[jsonLine]] output.
    * private[graft] for the BenchHarnessSpec round-trip test. */
  private[graft] def parseChildJson(line: String): Option[RunResult] =
    try {
      val fStart = line.indexOf("\"failed\":[") + 10
      val fBody = line.substring(fStart, line.indexOf("]", fStart))
      val failed = "\"([a-z0-9_]+)\"".r.findAllMatchIn(fBody)
        .map(_.group(1)).toSet
      val entries = flatSection(line, "queries")
      val colds = flatSection(line, "queries_cold").toMap
      val products = flatSection(line, "products").toMap
      if (entries.isEmpty) None
      else Some(RunResult(
        entries.map { case (n, v) =>
          QueryTimes(n, v, colds.getOrElse(n, v), !failed.contains(n))
        },
        products))
    } catch { case _: Throwable => None }
}
