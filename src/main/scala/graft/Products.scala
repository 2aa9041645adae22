package graft

import graft.sources.ArtifactCache

/** Product-layer ops CLI — the registry view of the
  * build-once/consume-many cache ([[ArtifactCache.registry]]), its
  * eviction knob, and the eviction POLICY, as a job:
  *
  *   runMain graft.Products                 # list published products
  *   runMain graft.Products evict <name>    # drop every key of <name>
  *   runMain graft.Products gc [--max-bytes N] [--max-age-days D]
  *                             [--min-age-hours H] [--tmp-age-hours T]
  *                                          # age/size policy over the cache
  *                                          # (grace floor default 1 h);
  *                                          # --tmp-age-hours also reaps
  *                                          # crashed builds' .tmp-* dirs
  *   runMain graft.Products verify          # manifest sweep: per product,
  *                                          # ok / ok_swap / no_manifest /
  *                                          # name_mismatch / hash_mismatch,
  *                                          # plus any orphaned tmp dirs
  *
  * Companion to [[IndexBuild]] (build the big one on a schedule) and the
  * in-library consumers (every family's first consumer builds on miss):
  * this is what an operator runs to see what is materialized, how big,
  * and how stale — and to force a rebuild after a policy change that the
  * content-addressed key does not capture (e.g. reclaiming scratch
  * space). `gc` is the daily-corpus-loop guard: every corpus drop mints
  * fresh content-addressed keys, so without a policy the stale ones
  * accumulate forever; age eviction drops them, size eviction keeps the
  * cache under a byte budget oldest-first. Eviction can never break
  * correctness; the next consumer rebuilds.
  */
object Products {

  def main(args: Array[String]): Unit = {
    val spark = graft.sources.Sessions.localFromEnv(logLevel = "ERROR")
    args.toList match {
      case "evict" :: name :: Nil =>
        val n = ArtifactCache.evict(name)
        println(s"evicted $n director${if (n == 1) "y" else "ies"} of product '$name'")
      case "gc" :: rest =>
        def opt(flag: String): Option[Long] = rest.dropWhile(_ != flag) match {
          case `flag` :: v :: _ => v.toLongOption // None on garbage → caught below
          case _ => None
        }
        // Shape AND value check: flags must pair with parseable numbers —
        // a typo'd `--max-bytes 10GB` gets the usage line, not a stack
        // trace.
        val known = rest.grouped(2).forall {
          case Seq("--max-bytes" | "--max-age-days" | "--min-age-hours" |
            "--tmp-age-hours", v) => v.toLongOption.isDefined
          case _ => false
        }
        if (!known) {
          System.err.println(
            s"usage: Products gc [--max-bytes N] [--max-age-days D] " +
              s"[--min-age-hours H] [--tmp-age-hours T] (got: ${rest.mkString(" ")})")
          sys.exit(2)
        }
        // run the registry policy only when an eviction bound is present:
        // a tmp-only invocation must not pay a full content-summary walk
        // of every product for a guaranteed-empty eviction
        val evicted =
          if (opt("--max-bytes").isEmpty && opt("--max-age-days").isEmpty)
            Seq.empty[String]
          else ArtifactCache.gc(
            maxBytes = opt("--max-bytes"),
            maxAgeMs = opt("--max-age-days").map(_ * 86400000L),
            // grace floor override (default 1 h): products younger than
            // this are never victims, whatever the budget says
            minAgeMs = opt("--min-age-hours").map(_ * 3600000L)
              .getOrElse(ArtifactCache.DefaultGcMinAgeMs))
        evicted.foreach(d => println(s"evicted $d"))
        // crashed builds' tmp dirs: reaped only on explicit opt-in (age
        // must exceed the longest legitimate build, which only the
        // operator knows)
        val tmps = opt("--tmp-age-hours").map(h =>
          ArtifactCache.gcTmp(h * 3600000L)).getOrElse(Seq.empty)
        tmps.foreach(d => println(s"reaped stale tmp $d"))
        println(s"gc evicted ${evicted.size} director${if (evicted.size == 1) "y" else "ies"}" +
          (if (tmps.nonEmpty) s", reaped ${tmps.size} stale tmp build(s)" else ""))
      case "verify" :: Nil =>
        val statuses = ArtifactCache.verifyProducts()
        if (statuses.isEmpty) println("no published products")
        statuses.foreach { case (dir, status) => println(f"$status%-28s $dir") }
        // ok_swap = healthy swap-managed index dir (versioned manifest
        // under CURRENT) — not a problem
        val bad = statuses.count(s => s._2 != "ok" && s._2 != "ok_swap")
        // report (never touch) in-flight tmp dirs so an operator sees
        // crashed builds before they accumulate; 0-age = list them all
        val tmps = ArtifactCache.staleTmpDirs(0L)
        tmps.foreach(d => println(s"tmp-in-flight                $d"))
        println(s"${statuses.size} product(s), $bad problem(s), ${tmps.size} tmp dir(s)")
        if (bad > 0) sys.exit(1)
      case Nil =>
        val rows = ArtifactCache.registry(spark).collect()
        if (rows.isEmpty) println("no published products")
        else {
          println(f"${"product"}%-12s ${"key"}%-18s ${"MB"}%8s ${"files"}%6s  dir")
          rows.foreach { r =>
            println(f"${r.getString(0)}%-12s ${r.getString(1)}%-18s " +
              f"${r.getLong(3) / 1048576.0}%8.2f ${r.getLong(4)}%6d  ${r.getString(2)}")
          }
        }
      case other =>
        System.err.println(
          s"usage: Products [evict <name> | verify | gc [--max-bytes N] " +
            s"[--max-age-days D] [--min-age-hours H] [--tmp-age-hours T]] " +
            s"(got: ${other.mkString(" ")})")
        sys.exit(2)
    }
    spark.stop()
  }
}
