package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ArtifactCache

/** Trust tests for the measurement/caching plumbing itself: the isolated
  * bench's child-JSON round trip (a silent parse gap would drop queries
  * from the merged artifact), the ArtifactCache publish protocol (a race
  * mishandled here corrupts every build-once consumer at once), the
  * manifest gate (a planted or mislabeled directory must refuse to
  * serve), and the gc policy (age + size eviction over the registry). */
class BenchHarnessSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Run `body` with the products root pointed at a fresh temp dir, so
    * these tests can never disturb (or be disturbed by) the real cache. */
  private def withTempRoot[A](body: java.io.File => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-acroot").toFile
    spark.conf.set("spark.graft.products.dir", tmp.getAbsolutePath)
    try body(tmp)
    finally {
      spark.conf.unset("spark.graft.products.dir")
      ArtifactCache.rmTree(tmp.getAbsolutePath)
    }
  }

  test("child JSON round trip: every value shape the child can print parses back") {
    // Negative times mark failed queries; tiny values print in scientific
    // notation with negative exponents; both must survive the round trip —
    // as must the round-11 cold-pass and product-build sections.
    val line = """{"metric":"total","value":3.5,"unit":"sec","value_cold":9.5,""" +
      """"queries":{"q_ok":1.25,"q_failed":-0.75,"q_tiny":1.4E-5,"q_big":1.0E2},""" +
      """"queries_cold":{"q_ok":7.25,"q_failed":-0.8,"q_tiny":2.4E-5,"q_big":1.2E2},""" +
      """"products":{"jacpairs-0123456789abcdef":3.25,"bpe-fedcba9876543210":1.5},""" +
      """"failed":["q_failed"],"sf":"/x"}"""
    val parsed = Bench.parseChildJson(line)
    assert(parsed.isDefined, "parser rejected a well-formed child line")
    val byName = parsed.get.queries.map(t => t.name -> t).toMap
    assert(byName("q_ok").best === 1.25)
    assert(byName("q_ok").cold === 7.25)
    assert(byName("q_ok").ok)
    assert(byName("q_failed").best === -0.75)
    assert(!byName("q_failed").ok)
    assert(byName("q_tiny").best === 1.4e-5)
    assert(byName("q_big").best === 100.0)
    assert(parsed.get.products === Map(
      "jacpairs-0123456789abcdef" -> 3.25, "bpe-fedcba9876543210" -> 1.5))
    // a pre-cold-pass line (no queries_cold/products) still parses: cold
    // falls back to best, products empty
    val legacy = """{"metric":"total","value":3.5,"unit":"sec","queries":""" +
      """{"q_ok":1.25},"failed":[],"sf":"/x"}"""
    val lp = Bench.parseChildJson(legacy)
    assert(lp.isDefined && lp.get.queries.head.cold === 1.25)
    assert(lp.get.products.isEmpty)
    // garbage and empty-queries lines must return None, not a partial parse
    assert(Bench.parseChildJson("""{"metric":"total","queries":{},"failed":[]}""").isEmpty)
    assert(Bench.parseChildJson("not json at all").isEmpty)
  }

  test("ArtifactCache: builds once, rereads without rebuilding, key includes params") {
    withTempRoot { root =>
      val f = java.nio.file.Files.createTempFile("graft-ac-key", ".parquet").toFile
      var builds = 0
      def build() = { builds += 1; Seq((1L, 2L), (3L, 4L)).toDF("a", "b") }
      val first = ArtifactCache.getOrBuild(spark, "acspec", f.getAbsolutePath, Seq(1))(build()).count()
      val second = ArtifactCache.getOrBuild(spark, "acspec", f.getAbsolutePath, Seq(1))(build()).count()
      assert(first === 2L && second === 2L)
      assert(builds === 1, "second consumer rebuilt a published product")
      // the product landed under the configured root, nowhere else
      assert(ArtifactCache.path("acspec", f.getAbsolutePath, Seq(1))
        .startsWith(root.getAbsolutePath), "location knob was ignored")
      // params and the key-file identity both move the content address
      val p1 = ArtifactCache.path("t", f.getAbsolutePath, Seq(1))
      val p2 = ArtifactCache.path("t", f.getAbsolutePath, Seq(2))
      assert(p1 != p2, "param change did not move the cache key")
      assert(ArtifactCache.path("t", f.getAbsolutePath, Seq(1)) === p1, "path is not a pure function")
      // the miss was timed for the bench's products section; the hit was not
      val times = ArtifactCache.drainBuildTimes()
      assert(times.keys.exists(_.startsWith("acspec-")),
        s"build timing not recorded: ${times.keys}")
      assert(ArtifactCache.drainBuildTimes().isEmpty, "drain must clear")
    }
  }

  test("ArtifactCache: manifest gate refuses planted and mislabeled directories") {
    withTempRoot { _ =>
      val f = java.nio.file.Files.createTempFile("graft-ac-man", ".parquet").toFile
      def build() = Seq((1L, 2L)).toDF("a", "b")
      // A directory PLANTED at the expected path without a manifest must
      // refuse to serve (the shared-host attack: pre-created dir with
      // attacker parquet inside).
      val dir = new java.io.File(ArtifactCache.path("planted", f.getAbsolutePath, Seq(1)))
      build().write.parquet(dir.getAbsolutePath) // no manifest
      val e = intercept[java.io.IOException] {
        ArtifactCache.getOrBuild(spark, "planted", f.getAbsolutePath, Seq(1))(build()).count()
      }
      assert(e.getMessage.contains("no manifest"))
      // A dir whose manifest names a DIFFERENT key (mislabeled/stale) also
      // refuses.
      val dir2 = new java.io.File(ArtifactCache.path("mislabel", f.getAbsolutePath, Seq(1)))
      build().write.parquet(dir2.getAbsolutePath)
      ArtifactCache.writeManifest(dir2.getAbsolutePath, "some-other-key")
      val e2 = intercept[java.io.IOException] {
        ArtifactCache.getOrBuild(spark, "mislabel", f.getAbsolutePath, Seq(1))(build()).count()
      }
      assert(e2.getMessage.contains("does not match"))
      // evicting the bad dir heals: the next consumer rebuilds cleanly
      assert(ArtifactCache.evict("mislabel") === 1)
      assert(ArtifactCache.getOrBuild(spark, "mislabel", f.getAbsolutePath, Seq(1))(build())
        .count() === 1L)
    }
  }

  test("ArtifactCache: losing the publish race discards quietly, keeps the winner") {
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-ac-race")
    val dir = new java.io.File(tmpRoot.toFile, "product")
    // winner publishes first
    val w = ArtifactCache.newTmpDir(dir.toString)
    Seq((1L, 10L)).toDF("a", "b").write.parquet(w)
    ArtifactCache.publish(w, dir.toString)
    // loser built a complete private copy concurrently, publishes second
    val l = ArtifactCache.newTmpDir(dir.toString)
    assert(l != w, "tmp dirs must be private")
    Seq((2L, 20L)).toDF("a", "b").write.parquet(l)
    ArtifactCache.publish(l, dir.toString) // must not throw, must not delete the winner
    assert(!new java.io.File(l).exists(), "loser's tmp copy was not cleaned up")
    val rows = spark.read.parquet(dir.getAbsolutePath)
      .as[(Long, Long)].collect().toSeq
    assert(rows === Seq((1L, 10L)), "the winner's published product was disturbed")
    ArtifactCache.rmTree(tmpRoot.toString)
  }

  test("ArtifactCache: registry lists published products, evict forces a rebuild") {
    withTempRoot { _ =>
      val f = java.nio.file.Files.createTempFile("graft-reg-key", ".parquet").toFile
      var builds = 0
      def build() = { builds += 1; Seq((1L, 2L), (3L, 4L)).toDF("a", "b") }
      assert(ArtifactCache.getOrBuild(spark, "regtest", f.getAbsolutePath, Seq(1))(build()).count() === 2L)
      val dir = ArtifactCache.path("regtest", f.getAbsolutePath, Seq(1))
      val row = ArtifactCache.registry(spark).collect()
        .find(_.getString(0) == "regtest")
      assert(row.isDefined, "published product missing from the registry")
      assert(row.get.getString(2) === dir, "registry dir drifted from the key path")
      assert(row.get.getLong(3) > 0L && row.get.getLong(4) > 0L,
        "registry must report real bytes and file counts")
      // a product name CONTAINING hyphens parses whole (last-hyphen split)
      assert(ArtifactCache.getOrBuild(spark, "two-part", f.getAbsolutePath, Seq(1))(build()).count() === 2L)
      assert(ArtifactCache.registry(spark).collect()
        .exists(_.getString(0) == "two-part"), "hyphenated name mis-split")
      // ...and eviction matches names EXACTLY: evicting a hyphen-prefix
      // of it must not collect it as collateral
      assert(ArtifactCache.evict("two") === 0,
        "evict matched a product whose name merely starts with the target")
      assert(ArtifactCache.registry(spark).collect()
        .exists(_.getString(0) == "two-part"), "collateral eviction")
      // in-flight tmp builds never appear
      val tmp = ArtifactCache.newTmpDir(dir)
      ArtifactCache.mkdirs(tmp)
      assert(!ArtifactCache.registry(spark).collect()
        .exists(_.getString(2).contains(".tmp-")), "in-flight build leaked into the registry")
      ArtifactCache.rmTree(tmp)
      // evict removes every key of the product; the next consumer rebuilds
      assert(ArtifactCache.evict("regtest") >= 1)
      assert(!ArtifactCache.registry(spark).collect().exists(_.getString(0) == "regtest"))
      assert(ArtifactCache.getOrBuild(spark, "regtest", f.getAbsolutePath, Seq(1))(build()).count() === 2L)
      assert(builds === 3, "eviction must force exactly one rebuild")
    }
  }

  test("ArtifactCache: a file:// URI root works end-to-end (Hadoop FS path)") {
    // The cluster deployment story: the products root is any Hadoop
    // FileSystem URI, not a driver-local java.io path. No DFS runs in
    // this container, so the Hadoop path is proven through the scheme'd
    // local FS — same API surface (qualify/list/rename/delete all go
    // through FileSystem), different concrete FS on a cluster.
    val tmp = java.nio.file.Files.createTempDirectory("graft-uriroot")
    spark.conf.set("spark.graft.products.dir", "file:" + tmp.toString)
    try {
      val f = java.nio.file.Files.createTempFile("graft-uri-key", ".parquet").toFile
      var builds = 0
      def build() = { builds += 1; Seq((7L, 8L)).toDF("a", "b") }
      val got = ArtifactCache.getOrBuild(spark, "urispec", f.getAbsolutePath,
        Seq(1))(build()).as[(Long, Long)].collect().toSeq
      assert(got === Seq((7L, 8L)))
      assert(ArtifactCache.getOrBuild(spark, "urispec", f.getAbsolutePath,
        Seq(1))(build()).count() === 1L)
      assert(builds === 1, "URI-rooted product was rebuilt on a hit")
      // the product physically landed under the local dir the URI names
      val kids = Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
      assert(kids.exists(_.getName.startsWith("urispec-")),
        s"no product dir under $tmp: ${kids.map(_.getName).toSeq}")
      // registry and eviction resolve the same URI root
      val row = ArtifactCache.registry(spark).collect()
        .find(_.getString(0) == "urispec")
      assert(row.isDefined, "URI-rooted product missing from the registry")
      assert(row.get.getString(2).startsWith("file:"),
        "registry dir lost the root's scheme")
      assert(ArtifactCache.evict("urispec") === 1)
      assert(!Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
        .exists(_.getName.startsWith("urispec-")), "evict missed the URI root")
    } finally {
      spark.conf.unset("spark.graft.products.dir")
      ArtifactCache.rmTree(tmp.toString)
    }
  }

  test("ArtifactCache: auto-gc conf trims stale products before a miss builds") {
    withTempRoot { _ =>
      val f = java.nio.file.Files.createTempFile("graft-agc-key", ".parquet").toFile
      def build(n: Long) = Seq((n, n)).toDF("a", "b")
      spark.conf.set("spark.graft.products.gc.maxBytes", "0")
      // grace floor off: this test exercises the sweep mechanics with
      // just-published products (the floor itself is tested below)
      spark.conf.set("spark.graft.products.gc.minAgeMs", "0")
      try {
        // first build: cache is empty pre-build, so nothing to trim
        ArtifactCache.getOrBuild(spark, "agcA", f.getAbsolutePath, Seq(1))(
          build(1)).count(): Unit
        assert(ArtifactCache.registry(spark).collect()
          .exists(_.getString(0) == "agcA"))
        // second build's PRE-BUILD sweep evicts A (budget 0); B itself
        // publishes after the sweep and survives
        ArtifactCache.getOrBuild(spark, "agcB", f.getAbsolutePath, Seq(1))(
          build(2)).count(): Unit
        val names = ArtifactCache.registry(spark).collect()
          .map(_.getString(0)).toSet
        assert(!names.contains("agcA"), "auto-gc did not trim the stale product")
        assert(names.contains("agcB"), "auto-gc evicted the product being built")
        // a HIT never triggers the sweep: B re-reads fine under budget 0
        assert(ArtifactCache.getOrBuild(spark, "agcB", f.getAbsolutePath,
          Seq(1))(build(3)).count() === 1L)
      } finally {
        spark.conf.unset("spark.graft.products.gc.maxBytes")
        spark.conf.unset("spark.graft.products.gc.minAgeMs")
      }
    }
  }

  test("ArtifactCache.gc: age then size, oldest-first, tmp dirs untouched") {
    withTempRoot { root =>
      val f = java.nio.file.Files.createTempFile("graft-gc-key", ".parquet").toFile
      def build(n: Long) = Seq((n, n)).toDF("a", "b")
      // three products, with distinct publish times planted via mtime
      for ((name, age) <- Seq(("old", 10L), ("mid", 5L), ("new", 1L))) {
        ArtifactCache.getOrBuild(spark, name, f.getAbsolutePath, Seq(1))(build(1)).count(): Unit
        val d = new java.io.File(ArtifactCache.path(name, f.getAbsolutePath, Seq(1)))
        assert(d.setLastModified(System.currentTimeMillis() - age * 86400000L))
      }
      // an in-flight build must survive every gc
      val tmp = ArtifactCache.newTmpDir(new java.io.File(root, "wip").toString)
      ArtifactCache.mkdirs(tmp)
      // age policy alone: only `old` (10 d) exceeds 7 d
      val byAge = ArtifactCache.gc(maxAgeMs = Some(7L * 86400000L))
      assert(byAge.size === 1 && byAge.head.contains("old-"), s"got $byAge")
      // size policy: budget 0 evicts the remaining published products,
      // oldest first
      val bySize = ArtifactCache.gc(maxBytes = Some(0L))
      assert(bySize.size === 2, s"got $bySize")
      assert(bySize.head.contains("mid-") && bySize.last.contains("new-"),
        "size eviction must run oldest-first")
      assert(new java.io.File(tmp).exists(), "gc touched an in-flight build")
      assert(ArtifactCache.registry(spark).collect().isEmpty)
      // no-op policies evict nothing
      assert(ArtifactCache.gc() === Seq.empty)
    }
  }

  test("ArtifactCache.gc: grace floor — products younger than minAge are never victims") {
    withTempRoot { _ =>
      val f = java.nio.file.Files.createTempFile("graft-grace-key", ".parquet").toFile
      def build(n: Long) = Seq((n, n)).toDF("a", "b")
      for (name <- Seq("aged", "young")) {
        ArtifactCache.getOrBuild(spark, name, f.getAbsolutePath, Seq(1))(build(1)).count(): Unit
      }
      val agedDir = new java.io.File(ArtifactCache.path("aged", f.getAbsolutePath, Seq(1)))
      assert(agedDir.setLastModified(System.currentTimeMillis() - 2L * 3600000L))
      // default 1 h floor: budget 0 may evict only the 2 h-old product —
      // the just-published one is graced even though the budget says evict
      val victims = ArtifactCache.gc(maxBytes = Some(0L))
      assert(victims.size === 1 && victims.head.contains("aged-"), s"got $victims")
      assert(ArtifactCache.registry(spark).collect().map(_.getString(0)).toSeq === Seq("young"))
      // age policy respects the floor too: a fresh product never ages out
      assert(ArtifactCache.gc(maxAgeMs = Some(0L)) === Seq.empty)
      // explicit minAgeMs = 0 restores unconditional policy
      assert(ArtifactCache.gc(maxBytes = Some(0L), minAgeMs = 0L).size === 1)
    }
  }

  test("ArtifactCache.evictDerivedFrom: only products keyed from the given dirs fall") {
    withTempRoot { _ =>
      val dirA = java.nio.file.Files.createTempDirectory("graft-srcA").toFile
      val dirB = java.nio.file.Files.createTempDirectory("graft-srcB").toFile
      val fA = java.io.File.createTempFile("corpus", ".parquet", dirA)
      val fB = java.io.File.createTempFile("corpus", ".parquet", dirB)
      def build(n: Long) = Seq((n, n)).toDF("a", "b")
      ArtifactCache.getOrBuild(spark, "prodA", fA.getAbsolutePath, Seq(1))(build(1)).count(): Unit
      ArtifactCache.getOrBuild(spark, "prodB", fB.getAbsolutePath, Seq(1))(build(2)).count(): Unit
      // a product whose keyFile IS the source dir itself (no trailing
      // component) must fall under the same scope — exact-dir match
      ArtifactCache.getOrBuild(spark, "prodDir", dirA.getAbsolutePath, Seq(1))(build(3)).count(): Unit
      // a manifest-less foreign dir under the root must survive too
      val foreign = new java.io.File(ArtifactCache.root, "foreign-0123456789abcdef")
      assert(foreign.mkdirs())
      assert(ArtifactCache.evictDerivedFrom(Seq(dirA.getAbsolutePath)) === 2)
      val left = ArtifactCache.registry(spark).collect().map(_.getString(0)).toSet
      assert(!left.contains("prodA"), "the bench-scoped product survived its eviction")
      assert(!left.contains("prodDir"),
        "a product keyed by the source dir ITSELF escaped scoped eviction")
      assert(left.contains("prodB"), "another corpus' product was wiped (the shared-root hazard)")
      assert(foreign.exists(), "a manifest-less foreign dir was deleted")
      ArtifactCache.rmTree(dirA.getAbsolutePath)
      ArtifactCache.rmTree(dirB.getAbsolutePath)
    }
  }

  test("getOrBuild: a vanished product rebuilds; a mismatched dir still fails loudly") {
    withTempRoot { _ =>
      val f = java.nio.file.Files.createTempFile("graft-rr-key", ".parquet").toFile
      var builds = 0
      def build() = { builds += 1; Seq((1L, 2L)).toDF("a", "b") }
      ArtifactCache.getOrBuild(spark, "rrtest", f.getAbsolutePath, Seq(1))(build()).count(): Unit
      assert(builds === 1)
      val dir = ArtifactCache.path("rrtest", f.getAbsolutePath, Seq(1))
      // eviction (concurrent gc's effect) ⇒ the next consumer rebuilds
      ArtifactCache.rmTree(dir)
      assert(ArtifactCache.getOrBuild(spark, "rrtest", f.getAbsolutePath,
        Seq(1))(build()).count() === 1L)
      assert(builds === 2, "a vanished product must rebuild, not fail")
      // but a PRESENT dir with the wrong manifest is never auto-rebuilt:
      // that is a stale/planted product, and silence would mask it
      ArtifactCache.writeManifest(dir, "not|the|right|key")
      val e = intercept[java.io.IOException] {
        ArtifactCache.getOrBuild(spark, "rrtest", f.getAbsolutePath,
          Seq(1))(build()).count()
      }
      assert(e.getMessage.contains("does not match"))
      assert(builds === 2, "a mismatched manifest must not trigger a silent rebuild")
    }
  }

  test("verifyProducts + gcTmp: manifest sweep statuses and crashed-build reaping") {
    withTempRoot { root =>
      val f = java.nio.file.Files.createTempFile("graft-vrfy-key", ".parquet").toFile
      def build() = Seq((1L, 2L)).toDF("a", "b")
      // a healthy product → ok
      ArtifactCache.getOrBuild(spark, "healthy", f.getAbsolutePath, Seq(1))(build()).count(): Unit
      // a manifest-less foreign dir → no_manifest
      assert(new java.io.File(root, "foreign-0123456789abcdef").mkdirs())
      // a planted dir whose manifest names another product → name_mismatch
      val planted = new java.io.File(root, "planted-fedcba9876543210")
      build().write.parquet(planted.getAbsolutePath)
      ArtifactCache.writeManifest(planted.getAbsolutePath,
        "other|/x/y.parquet|1|2|3")
      // a dir whose manifest key no longer hashes to its name → hash_mismatch
      val rotten = new java.io.File(root, "rotten-0000000000000000")
      build().write.parquet(rotten.getAbsolutePath)
      ArtifactCache.writeManifest(rotten.getAbsolutePath,
        "rotten|/x/y.parquet|1|2|3")
      // a SWAP-MANAGED index dir: no top-level manifest by design —
      // CURRENT resolves to a versioned subdir carrying its own manifest
      // whose name matches the product prefix (key hash deliberately
      // uncompared: refresh crons rebuild newer corpus keys in place)
      val swap = new java.io.File(root, "swapidx-1111111111111111")
      val vdir = new java.io.File(swap, "v-test-1")
      build().write.parquet(vdir.getAbsolutePath)
      ArtifactCache.writeManifest(vdir.getAbsolutePath,
        "swapidx|/x/emb.parquet|1|2|3")
      ArtifactCache.writeFileAtomic(swap.getAbsolutePath, "CURRENT", "v-test-1")
      val byDir = ArtifactCache.verifyProducts().toMap
        .map { case (d, s) => ArtifactCache.baseName(d) -> s }
      assert(byDir.exists { case (d, s) => d.startsWith("healthy-") && s == "ok" },
        s"healthy product not ok: $byDir")
      assert(byDir("foreign-0123456789abcdef") === "no_manifest")
      assert(byDir("planted-fedcba9876543210").startsWith("name_mismatch"))
      assert(byDir("rotten-0000000000000000") === "hash_mismatch")
      assert(byDir("swapidx-1111111111111111") === "ok_swap",
        "a healthy swap-managed dir must not read as a problem")
      // tmp reaping: an old crashed build falls, a fresh in-flight one survives
      val oldTmp = ArtifactCache.newTmpDir(new java.io.File(root, "dead-key").toString)
      val newTmp = ArtifactCache.newTmpDir(new java.io.File(root, "live-key").toString)
      ArtifactCache.mkdirs(oldTmp); ArtifactCache.mkdirs(newTmp)
      assert(new java.io.File(oldTmp).setLastModified(
        System.currentTimeMillis() - 48L * 3600000L))
      val reaped = ArtifactCache.gcTmp(24L * 3600000L)
      assert(reaped.map(ArtifactCache.baseName) ===
        Seq(ArtifactCache.baseName(oldTmp)), s"wrong tmp reaped: $reaped")
      assert(!new java.io.File(oldTmp).exists())
      assert(new java.io.File(newTmp).exists(),
        "a live in-flight build was reaped")
      // gc itself still never touches tmp dirs, stale or not
      assert(ArtifactCache.gc(maxBytes = Some(0L), minAgeMs = 0L)
        .forall(!_.contains(".tmp-")))
      assert(new java.io.File(newTmp).exists())
    }
  }

  test("getOrBuild: a second session publishing the same missing key first — loser converges") {
    // Two SESSIONS miss the same key concurrently: both build complete
    // private copies and race on publish-by-rename. The interleave is
    // reproduced exactly by nesting a full getOrBuild (the "other
    // session") inside this session's build thunk — i.e. in the window
    // between this session's existence check and its publish. The loser
    // must converge on the winner's published product: discard its copy,
    // validate the winner's manifest, read the winner's rows — never
    // corrupt the dir or fail a reader.
    withTempRoot { root =>
      val f = java.nio.file.Files.createTempFile("graft-xrace-key", ".parquet").toFile
      var innerBuilds = 0
      val out = ArtifactCache.getOrBuild(spark, "xrace", f.getAbsolutePath, Seq(1)) {
        // the other session wins the race while we are "still building"
        ArtifactCache.getOrBuild(spark, "xrace", f.getAbsolutePath, Seq(1)) {
          innerBuilds += 1; Seq((1L, 10L)).toDF("a", "b")
        }.count(): Unit
        Seq((2L, 20L)).toDF("a", "b") // our complete copy — loses the publish
      }
      assert(innerBuilds === 1)
      assert(out.as[(Long, Long)].collect().toSeq === Seq((1L, 10L)),
        "the losing session must read the WINNER's product, not its own")
      // the loser's tmp copy was discarded — no .tmp-* litter under the root
      assert(!root.listFiles().exists(_.getName.contains(".tmp-")),
        "losing publish left its tmp build behind")
      // a later consumer reads the winner's copy with zero rebuilds
      assert(ArtifactCache.getOrBuild(spark, "xrace", f.getAbsolutePath, Seq(1)) {
        fail("the converged product must serve without a rebuild")
      }.as[(Long, Long)].collect().toSeq === Seq((1L, 10L)))
    }
  }

  test("getOrBuild: two threads missing the same key at once publish one product") {
    // The same-JVM form of the first-wins contract: both threads pass the
    // existence check, each builds a private copy (the latch holds each
    // build until the other is in flight too) and they race on the
    // atomic publish. Exactly one product dir may appear, no tmp build may
    // be left behind, and both callers must read the winner's rows.
    withTempRoot { root =>
      val f = java.nio.file.Files.createTempFile("graft-thr-key", ".parquet").toFile
      val inFlight = new java.util.concurrent.CountDownLatch(2)
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      def caller(tag: Long) = graft.functions.Par.async {
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        ArtifactCache.getOrBuild(spark, "thrrace", f.getAbsolutePath, Seq(1)) {
          builds.incrementAndGet(): Unit
          inFlight.countDown()
          inFlight.await(30, java.util.concurrent.TimeUnit.SECONDS): Unit
          Seq((tag, tag * 10L)).toDF("a", "b")
        }.as[(Long, Long)].collect().toSeq
      }
      val (a, b) = (caller(1L), caller(2L))
      val (rowsA, rowsB) = (a(), b())
      assert(builds.get === 2, "the two callers did not race on the build")
      assert(rowsA === rowsB, "the callers read different products")
      assert(rowsA === Seq((1L, 10L)) || rowsA === Seq((2L, 20L)))
      val kids = root.listFiles().map(_.getName).toSeq
      assert(kids.count(_.startsWith("thrrace-")) === 1,
        s"expected exactly one published product dir: $kids")
      assert(!kids.exists(_.contains(".tmp-")), s"a tmp build was left behind: $kids")
    }
  }

  test("dependent products key on their dependency's current content address") {
    // dedupcc is built from jacpairs, cclabels and lpalabels from
    // cosupply, navgraph from knngraph: each dependent's manifest must
    // carry the address (`<name>-<16hex>`) of the dependency dir it was
    // built from, so any change to the dependency moves its key.
    withTempRoot { _ =>
      val d = TestSpark.sf
      graft.operators.Dedup.clusterAssignmentsShared(spark, d).count(): Unit
      graft.operators.Graph.componentLabelsShared(spark, d).count(): Unit
      graft.operators.Graph.lpaLabelsShared(spark, d).count(): Unit
      graft.operators.Similarity.navGraphShared(spark, d).count(): Unit
      val dirs = ArtifactCache.registry(spark).collect()
        .map(r => r.getString(0) -> r.getString(2)).toSeq
      def only(name: String): String = {
        val ds = dirs.filter(_._1 == name).map(_._2)
        assert(ds.size === 1, s"expected one $name product: $dirs")
        ds.head
      }
      for ((dependent, dependency) <- Seq("dedupcc" -> "jacpairs",
          "cclabels" -> "cosupply", "lpalabels" -> "cosupply",
          "navgraph" -> "knngraph")) {
        val fields = ArtifactCache.readManifest(only(dependent)).get.split('|')
        val addr = ArtifactCache.baseName(only(dependency))
        assert(fields.contains(addr),
          s"$dependent's key lacks $dependency's address $addr: ${fields.toSeq}")
      }
      spark.catalog.clearCache()
    }
  }
}
