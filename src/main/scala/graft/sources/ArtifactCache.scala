package graft.sources

import java.io.IOException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content-addressed cache for derived BUILD PRODUCTS — the
  * build-once/consume-many split expensive derivations need (the trained
  * IVF-PQ serving index, the thresholded co-supply edge product): several
  * queries consume the same product, and rebuilding it inside each
  * consumer's plan repeats the dominant cost.
  *
  * The cache key is the identity of the SOURCE file the product derives
  * from (qualified path, byte size, mtime) plus every build parameter plus
  * a layout version — so a changed corpus, changed knobs, or changed code
  * can never silently serve a stale product; invalidation is structural,
  * not scheduled. Each published product carries a MANIFEST recording its
  * full (unhashed) key; consumers validate it at read time and fail
  * loudly on mismatch, so a hash collision, a mislabeled directory, or a
  * foreign dir planted at the expected path can never be served as query
  * results.
  *
  * LOCATION: products live under a single dedicated root, resolved (in
  * order) from the session conf `spark.graft.products.dir`, the env var
  * `SPARK_GRAFT_PRODUCTS_DIR` — the cluster deployment story — and
  * falling back to a PER-USER 0700 directory under the JVM temp dir
  * (scratch, like Spark's own local dirs). The per-user name plus the
  * ownership check in [[root]] means another local user on a shared host
  * can neither pre-create nor read this user's cache. Listing and
  * eviction only ever touch entries under this root, never sibling dirs.
  *
  * FILESYSTEM: every path here goes through the Hadoop `FileSystem` API
  * resolved from the active session's Hadoop configuration, so the root
  * may be a local path, a `file://` URI, or any DFS the cluster mounts
  * (`hdfs://nn/warehouse/graft`): executors read products through the
  * same qualified paths the driver published them under — the layer is
  * not tied to driver-local disk. A scheme-less root resolves against
  * `fs.defaultFS`, which on a real cluster is exactly the warehouse
  * filesystem. Crash-safe publication relies on atomic directory rename,
  * which local disk, HDFS, and POSIX-complete DFS provide; raw object
  * stores without atomic rename need an HDFS-semantics layer in front
  * (their usual deployment) for the first-wins guarantee to hold.
  *
  * Publication is crash-safe: the build lands in a PRIVATE `<dir>.tmp-*`
  * and an atomic rename publishes it, so a killed build never leaves a
  * half-product a reader could mistake for complete.
  */
object ArtifactCache {

  /** Bump to invalidate every cached product at once (layout changes).
    * 2: dedicated per-user root + per-product manifests (round 11).
    * 3: Hadoop-FileSystem product layer — keys carry the QUALIFIED
    *    source path (round 11). */
  private val CacheVersion = 3

  /** The Hadoop configuration FS operations resolve against: the active
    * session's (carries cluster `fs.defaultFS`, credentials); a plain
    * `Configuration()` for session-less callers (the isolated bench
    * parent evicting before any SparkSession exists — local FS there). */
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  /** The products root (see class doc for the resolution order), as the
    * raw configured string — every product path is `<root>/<name>-<key>`,
    * so callers can compose and compare paths textually. Created on
    * first use with owner-only permissions; if it already exists its
    * OWNER must be this user — a root planted by someone else is
    * refused, not trusted (shared-host hardening; filesystems that do
    * not report ownership skip the check). */
  def root: String = {
    // System property included so a session-less caller (the isolated
    // bench PARENT evicting before any SparkSession exists) resolves the
    // same root a -Dspark.graft.products.dir-configured child will.
    val configured = SparkSession.getActiveSession
      .flatMap(s => s.conf.getOption("spark.graft.products.dir"))
      .orElse(sys.props.get("spark.graft.products.dir"))
      .orElse(sys.env.get("SPARK_GRAFT_PRODUCTS_DIR"))
    val raw = configured.getOrElse(
      new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-cache-${sys.props.getOrElse("user.name", "anon")}")
        .getAbsolutePath)
    // Memoized per configured value: on HDFS every exists/mkdirs/status
    // call below is a NameNode RPC, and root() runs per path()/listing
    // row — verify once, re-verify only when the configuration changes.
    if (verifiedRoot == raw) return raw
    val p = new Path(raw)
    val fs = fsOf(p)
    if (!fs.exists(p)) {
      fs.mkdirs(p): Unit
      try fs.setPermission(p,
        new FsPermission(Integer.parseInt("700", 8).toShort))
      catch { case _: UnsupportedOperationException => () } // object stores
    }
    try {
      val owner = fs.getFileStatus(p).getOwner
      val me =
        try org.apache.hadoop.security.UserGroupInformation
          .getCurrentUser.getShortUserName
        catch { case _: IOException => sys.props.getOrElse("user.name", owner) }
      if (owner.nonEmpty && owner != me) throw new IOException(
        s"products root $raw is owned by '$owner', not '$me' — refusing " +
          "to serve a cache this user does not own")
    } catch { case _: UnsupportedOperationException => () } // no ownership
    verifiedRoot = raw
    raw
  }

  /** The last create-and-ownership-verified root string (benign race:
    * re-verification is idempotent). */
  @volatile private var verifiedRoot: String = null

  /** Drop the memoized root verification — called when an FS operation
    * under the root FAILS, so the next [[root]] call re-runs the
    * create-and-ownership check instead of serving a root that may have
    * been externally deleted or re-owned for the process lifetime. */
  private def invalidateRoot(): Unit = verifiedRoot = null

  private def rootPath(): Path = new Path(root)

  /** Full, UNHASHED content key for product `name` — what the manifest
    * records and read-time validation compares. The source's identity is
    * its FS-qualified path plus size and mtime (both 0 for a path that
    * does not exist yet, matching the pre-FS semantics — the build
    * itself will fail loudly on a truly absent corpus). */
  def keyString(name: String, keyFile: String, params: Seq[Any]): String = {
    // The manifest key is '|'-joined and consumers ([[evictDerivedFrom]])
    // parse the source path back out of field 1 — a '|' in the product
    // name would shift every field. No current name contains one; keep it
    // that way loudly rather than silently mis-scope a future eviction.
    require(!name.contains('|'), s"product name must not contain '|': $name")
    val p = new Path(keyFile)
    val fs = fsOf(p)
    val (len, mtime) =
      if (fs.exists(p)) {
        val st = fs.getFileStatus(p); (st.getLen, st.getModificationTime)
      } else (0L, 0L)
    (Seq(name, fs.makeQualified(p).toString, len, mtime) ++
      params :+ CacheVersion).mkString("|")
  }

  /** Identity token (qualified path + size + mtime) for an AUXILIARY
    * input file, to be passed as an extra `params` entry when a build
    * reads more than one source: `keyFile` carries only the primary
    * source's identity, so a second input changing underneath would
    * otherwise serve a stale product silently — against the layer's
    * "never serve stale" standard. '#'-joined (not '|') so it stays one
    * param field in the manifest key. Absent files key as 0/0, matching
    * [[keyString]]'s pre-FS semantics. */
  def fileIdentity(file: String): String = {
    val p = new Path(file)
    val fs = fsOf(p)
    val (len, mtime) =
      if (fs.exists(p)) {
        val st = fs.getFileStatus(p); (st.getLen, st.getModificationTime)
      } else (0L, 0L)
    s"${fs.makeQualified(p)}#$len#$mtime"
  }

  private def sha8(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  /** The CONTENT ADDRESS `<name>-<16-hex-key>` (the product dir's
    * basename). A product built FROM another product puts its
    * dependency's address in its own `params`, so any change to the
    * dependency moves the dependent's key too. */
  def address(name: String, keyFile: String, params: Seq[Any]): String =
    s"$name-${sha8(keyString(name, keyFile, params))}"

  /** Content-addressed directory for product `name` derived from
    * `keyFile` under `params`: `<root>/<address>`. Touches the
    * filesystem only to read the key file's metadata and ensure the
    * root. */
  def path(name: String, keyFile: String, params: Seq[Any]): String =
    new Path(root, address(name, keyFile, params)).toString

  // ---- small FS helpers (shared with the persisted-index machinery,
  //      which manages versioned directories outside getOrBuild) ----

  def exists(p: String): Boolean = {
    val pp = new Path(p); fsOf(pp).exists(pp)
  }

  def isFile(p: String): Boolean = {
    val pp = new Path(p); val fs = fsOf(pp)
    fs.exists(pp) && fs.getFileStatus(pp).isFile
  }

  def mkdirs(p: String): Unit = {
    val pp = new Path(p); fsOf(pp).mkdirs(pp): Unit
  }

  /** Basename of a product/path string (the registry's product-dir
    * name), FS-scheme agnostic. */
  def baseName(p: String): String = new Path(p).getName

  /** Modification time of `p` in epoch ms (0 if absent) — the
    * age signal retire/gc grace windows key on. */
  def modTimeMs(p: String): Long = {
    val pp = new Path(p); val fs = fsOf(pp)
    if (fs.exists(pp)) fs.getFileStatus(pp).getModificationTime else 0L
  }

  /** Read a SMALL control file (a manifest, a version pointer) fully. */
  def readSmall(p: String): String = {
    val pp = new Path(p); val fs = fsOf(pp)
    val len = fs.getFileStatus(pp).getLen.toInt
    val in = fs.open(pp)
    try {
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      new String(buf, "UTF-8")
    } finally in.close()
  }

  /** Atomically (re)place the small control file `dir/name` with
    * `content`: write-then-rename-with-overwrite, so a reader never sees
    * a partial file — the version-pointer flip primitive. Atomic
    * overwrite-rename is a `FileContext` operation (plain
    * `FileSystem.rename` refuses an existing destination). */
  def writeFileAtomic(dir: String, name: String, content: String): Unit = {
    val d = new Path(dir)
    val fs = fsOf(d)
    fs.mkdirs(d): Unit
    val qd = fs.makeQualified(d)
    val tmp = new Path(qd,
      name + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val fc = FileContext.getFileContext(qd.toUri, hadoopConf)
    fc.rename(tmp, new Path(qd, name), Options.Rename.OVERWRITE)
  }

  /** Names of the immediate subdirectories of `dir` (empty if absent). */
  def listSubdirNames(dir: String): Seq[String] = {
    val d = new Path(dir); val fs = fsOf(d)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  // ---- manifest: the read-time proof a directory IS the product ----

  private val ManifestName = "_GRAFT_MANIFEST"

  /** Record `key` as the manifest of the (still-private) build dir —
    * [[buildAt]] calls it after the tables land, before publish.
    * The leading underscore keeps it out of Spark's input listing. */
  def writeManifest(buildDir: String, key: String): Unit = {
    val d = new Path(buildDir); val fs = fsOf(d)
    fs.mkdirs(d): Unit
    val out = fs.create(new Path(d, ManifestName), true)
    try out.write(key.getBytes("UTF-8")) finally out.close()
  }

  /** The published manifest of `dir`, if one exists. */
  def readManifest(dir: String): Option[String] = {
    val f = new Path(dir, ManifestName)
    if (isFile(f.toString)) Some(readSmall(f.toString)) else None
  }

  /** Remove `dir`'s manifest (no-op if absent) — the in-place→swap
    * layout conversion's cleanup, so a retired in-place index can never
    * re-validate. */
  def removeManifest(dir: String): Unit =
    rmTree(new Path(dir, ManifestName).toString)

  /** Fail-loudly validation: `dir` must carry a manifest exactly equal to
    * `key`. A missing manifest (pre-manifest layout, foreign dir) or a
    * mismatched one (hash collision, mislabeled/planted dir, stale
    * explicit location) refuses to serve — the caller's error, surfaced
    * at the first read instead of as silently wrong query results. */
  def validateManifest(dir: String, key: String): Unit =
    readManifest(dir) match {
      case Some(k) if k == key => ()
      case Some(k) => throw new IOException(
        s"product at $dir does not match the requested key\n  expected: " +
          s"$key\n  found:    $k\n(stale or mismatched product — evict or " +
          "rebuild it)")
      case None => throw new IOException(
        s"product at $dir carries no manifest — refusing to serve an " +
          "unverified directory (evict it to rebuild)")
    }

  /** Recursively delete `p` (no-op if absent). */
  def rmTree(p: String): Unit = {
    val pp = new Path(p); val fs = fsOf(pp)
    if (fs.exists(pp)) fs.delete(pp, true): Unit
  }

  /** A build directory PRIVATE to this builder: the unique suffix means
    * concurrent builders of the same key never write into each other's
    * in-flight part files (they each build a complete product and race
    * only on the atomic publish, where losing is harmless). */
  def newTmpDir(dir: String): String =
    dir + ".tmp-" + java.lang.ProcessHandle.current().pid() +
      "-" + java.util.UUID.randomUUID().toString.take(8)

  /** Atomically publish `tmp` as `dir`. If another builder won the race
    * (`dir` appeared first), this builder's copy is discarded — the
    * published product is complete either way, and a live `dir` is NEVER
    * deleted out from under a concurrent reader. A GENUINE rename failure
    * with no winner present (cross-filesystem path, permissions) keeps
    * the built tmp copy on disk and names it in the error, so a
    * minutes-long build is recoverable rather than destroyed. */
  def publish(tmp: String, dir: String): Unit = {
    val t = new Path(tmp); val d = new Path(dir); val fs = fsOf(d)
    val renamed = !fs.exists(d) &&
      (try fs.rename(t, d) catch { case _: IOException => false })
    if (renamed) return
    if (fs.exists(d)) rmTree(tmp) // lost the race: keep the winner's copy
    else {
      invalidateRoot() // a no-winner rename failure smells like root
      // trouble (deleted/re-owned) — re-verify on the next call
      throw new IOException(
        s"could not publish artifact at $dir (completed build kept at $tmp)")
    }
  }

  /** Build seconds recorded by [[buildAt]], keyed by the product
    * directory's basename — the bench drains this after its cold pass so
    * one-time build costs are PRICED in the artifact instead of hidden by
    * min-of-2 over a persistent cache (the round-10 measurement gap). */
  private val buildSecs =
    scala.collection.concurrent.TrieMap.empty[String, Double]

  /** Drain (return and clear) the recorded build timings. */
  def drainBuildTimes(): Map[String, Double] = {
    val snap = buildSecs.readOnlySnapshot().toMap
    snap.keys.foreach(buildSecs.remove)
    snap
  }

  /** THE publish protocol, written only here: `write` fills a PRIVATE
    * build dir with the product's tables, the manifest `key` lands next
    * to them, and an atomic rename publishes the dir as `dir` (first
    * wins, see [[publish]]; `replace` first deletes a live `dir` — the
    * explicit index rebuild only). A write that THROWS cleans its tmp
    * dir and drops the root memo (a failed write may mean a vanished or
    * re-owned root, so the next [[root]] re-verifies). */
  def buildAt(dir: String, key: String, replace: Boolean)(
      write: String => Unit): Unit = {
    val t0 = System.nanoTime()
    val tmp = newTmpDir(dir)
    try {
      write(tmp)
      writeManifest(tmp, key)
    } catch { case e: Throwable =>
      invalidateRoot(); rmTree(tmp); throw e
    }
    // OUTSIDE the cleanup catch: a genuine publish failure keeps the
    // completed tmp build on disk and names it in the error — deleting
    // it here would destroy the recoverable copy the message points at.
    if (replace) rmTree(dir)
    publish(tmp, dir)
    buildSecs.put(baseName(dir), (System.nanoTime() - t0) / 1e9): Unit
  }

  /** The directory of product `name` keyed by (`keyFile`, `params`),
    * built first through [[buildAt]] if absent (`write` may lay down
    * any number of tables). Concurrent builders race only on the atomic
    * publish; every reader sees one complete product. Every hit
    * validates the manifest (see [[validateManifest]]). */
  def getOrBuildDir(s: SparkSession, name: String, keyFile: String,
      params: Seq[Any])(write: String => Unit): String = {
    val key = keyString(name, keyFile, params)
    val dir = path(name, keyFile, params)
    def buildIfAbsent(): Unit = if (!exists(dir)) {
      autoGc(s)
      buildAt(dir, key, replace = false)(write)
    }
    buildIfAbsent()
    try validateManifest(dir, key)
    catch {
      // The product VANISHED between the existence check and the read —
      // a concurrent gc/evict got it. Eviction must never break
      // correctness ("a consumer whose product vanished rebuilds"), so
      // rebuild exactly once; a manifest MISMATCH on a dir that still
      // exists stays a loud failure (stale/planted dir, never auto-fixed).
      case _: IOException if !exists(dir) =>
        buildIfAbsent()
        validateManifest(dir, key)
    }
    dir
  }

  /** Read the one-table product `name` ([[getOrBuildDir]] with `build`
    * as its table). */
  def getOrBuild(s: SparkSession, name: String, keyFile: String,
      params: Seq[Any])(build: => DataFrame): DataFrame =
    s.read.parquet(getOrBuildDir(s, name, keyFile, params)(tmp =>
      build.write.mode("overwrite").parquet(tmp)))

  /** AUTOMATIC retention, run BEFORE each miss-path build when the
    * session opts in: `spark.graft.products.gc.maxBytes` and/or
    * `spark.graft.products.gc.maxAgeDays` apply the [[gc]] policy
    * without a cron — the daily-corpus loop's unattended guard (every
    * drop mints fresh keys; without retention the stale ones accumulate
    * forever). Unset (the default) means no automatic eviction, same as
    * before. Running pre-build means the product about to be published
    * can never be its own gc victim; the cache may overshoot the byte
    * budget by the newest build until the next miss (size the budget
    * well above one build, as with any cache). As with manual [[gc]],
    * eviction never breaks correctness — a consumer whose product
    * vanished rebuilds. */
  private def autoGc(s: SparkSession): Unit = {
    val bytes = s.conf.getOption("spark.graft.products.gc.maxBytes")
      .flatMap(_.toLongOption)
    val ageDays = s.conf.getOption("spark.graft.products.gc.maxAgeDays")
      .flatMap(_.toLongOption)
    // `spark.graft.products.gc.minAgeMs` overrides the grace floor
    // (default 1 h) — products younger than this are never auto-evicted,
    // so a concurrent consumer's just-published product cannot vanish
    // between its publish and its first read.
    val minAge = s.conf.getOption("spark.graft.products.gc.minAgeMs")
      .flatMap(_.toLongOption).getOrElse(DefaultGcMinAgeMs)
    if (bytes.isDefined || ageDays.isDefined)
      gc(maxBytes = bytes, maxAgeMs = ageDays.map(_ * 86400000L),
        minAgeMs = minAge): Unit
  }

  private def treeStats(fs: FileSystem, st: FileStatus): (Long, Long) = {
    val cs = fs.getContentSummary(st.getPath)
    (cs.getLength, cs.getFileCount)
  }

  /** Published product dirs under [[root]] (in-flight `.tmp-*` excluded),
    * oldest-first — the raw listing [[registry]] and [[gc]] share. */
  private def published(): Seq[FileStatus] = {
    val r = rootPath(); val fs = fsOf(r)
    if (!fs.exists(r)) Seq.empty
    else fs.listStatus(r)
      .filter(st => st.isDirectory && !st.getPath.getName.contains(".tmp-"))
      .sortBy(st => (st.getModificationTime, st.getPath.getName)).toSeq
  }

  /** The product dir string for a listed entry: `<root>/<basename>`, the
    * same textual form [[path]] produces, so registry rows compare equal
    * to key paths. */
  private def dirString(st: FileStatus): String =
    new Path(root, st.getPath.getName).toString

  /** Parse a product directory basename `<name>-<16-hex-key>` into
    * (name, keyHash) at the LAST hyphen (so hyphenated product names
    * parse whole) — the ONE split rule [[registry]], [[evict]] and
    * [[verifyProducts]] share. */
  private def parseProductDir(base: String): (String, String) = {
    val cut = base.lastIndexOf('-')
    if (cut > 0) (base.substring(0, cut), base.substring(cut + 1))
    else (base, "")
  }

  /** The PRODUCT REGISTRY — what the build-once/consume-many layer has
    * materialized: one row per published product directory (name, key
    * hash, bytes, file count, publish mtime), in-flight `.tmp-*` builds
    * excluded. The ops view a production deployment watches (which
    * indexes exist, how big, how stale) and the input to [[gc]].
    * Driver-side listing bounded by product COUNT, never data size.
    * Listing is confined to [[root]], so it can never see (and [[evict]]/
    * [[gc]] can never delete) unrelated directories. */
  def registry(s: SparkSession): DataFrame = {
    import s.implicits._
    val r = rootPath(); val fs = fsOf(r)
    val rows = published().map { st =>
      val (name, key) = parseProductDir(st.getPath.getName)
      val (bytes, files) = treeStats(fs, st)
      (name, key, dirString(st), bytes, files, st.getModificationTime)
    }.sortBy(r => (r._1, r._2))
    rows.toDF("product", "key", "dir", "bytes", "files", "modified_ms")
  }

  /** Evict every published product whose name is EXACTLY `product` (all
    * keys — a corpus change leaves stale keys behind; this is the
    * cleanup). The name is parsed off the `<name>-<key>` directory the
    * same way [[registry]] parses it (split at the LAST hyphen), so a
    * product whose name is a hyphen-prefix of another ("two" vs
    * "two-part") can never suffer collateral eviction. In-flight
    * `.tmp-*` builds are never touched (their owner cleans or publishes
    * them), and the next consumer simply rebuilds: eviction can never
    * break correctness, only re-pay a build. Returns the number of
    * directories removed. */
  def evict(product: String): Int = {
    val victims = published().filter { st =>
      val base = st.getPath.getName
      base == product || parseProductDir(base)._1 == product
    }
    victims.foreach(st => rmTree(dirString(st)))
    victims.length
  }

  /** Evict EVERY published product. A deliberately blunt operator action
    * (`Products` CLI territory) — automated callers like the bench use
    * [[evictDerivedFrom]] so a run pointed at a shared warehouse root
    * can never wipe products other corpora built. */
  def evictAll(): Int = {
    val victims = published()
    victims.foreach(st => rmTree(dirString(st)))
    victims.length
  }

  /** Evict only products DERIVED FROM the given source directories: a
    * product's manifest records the FS-qualified path of the file its
    * key was computed from (see [[keyString]]); a product whose manifest
    * source sits under one of `sourceDirs` is evicted, everything else —
    * other corpora's products, manifest-less foreign dirs — is left
    * alone. This is the bench's cold-pass reset: it must re-price ITS
    * OWN corpus' builds without destroying a shared warehouse
    * (`spark.graft.products.dir` may point at production). Works
    * session-less (the isolated bench parent) — manifests are plain
    * files. Returns the number of directories removed. */
  def evictDerivedFrom(sourceDirs: Seq[String]): Int = {
    val qualified = sourceDirs.map { d =>
      val p = new Path(d); val fs = fsOf(p)
      fs.makeQualified(p).toString.stripSuffix("/")
    }
    val victims = published().filter { st =>
      readManifest(dirString(st)).exists { m =>
        // key format: name|<qualified source path>|len|mtime|params…
        // ([[keyString]] rejects '|' in names, so field 1 IS the path).
        // Match the dir itself OR anything under it — a product whose
        // keyFile is the source dir (no trailing component) must not
        // escape the bench's cold reset.
        m.split('|') match {
          case parts if parts.length >= 2 =>
            qualified.exists(q => parts(1) == q || parts(1).startsWith(q + "/"))
          case _ => false
        }
      }
    }
    victims.foreach(st => rmTree(dirString(st)))
    victims.length
  }

  /** MANIFEST SWEEP over every published product — the ops health check
    * (`Products verify`). Per directory, one status:
    *
    *  - `ok`: manifest present, its recorded product name matches the
    *    directory prefix AND its key re-hashes to the directory's key
    *    suffix — the dir IS what its name claims;
    *  - `ok_swap`: a SWAP-MANAGED dir (IndexBuild --swap): no top-level
    *    manifest BY DESIGN — a `CURRENT` pointer resolves to a versioned
    *    subdir carrying its own manifest, whose product name matches the
    *    directory prefix. The key hash is deliberately NOT compared: a
    *    refresh cron legitimately rebuilds newer corpus keys inside the
    *    same base dir;
    *  - `no_manifest`: a pre-manifest or foreign directory — consumers
    *    will refuse it ([[validateManifest]]); evict to rebuild;
    *  - `name_mismatch` / `hash_mismatch`: the manifest belongs to a
    *    DIFFERENT product/key than the directory name claims (renamed or
    *    planted dir, or bit-rot in the manifest) — the loud-failure case
    *    surfaced proactively instead of at some consumer's first read.
    *
    * Listing-bounded driver work, read-only. */
  def verifyProducts(): Seq[(String, String)] =
    published().map { st =>
      val dir = dirString(st)
      val (name, keyHash) = parseProductDir(st.getPath.getName)
      def manifestName(m: String) = m.split('|').headOption.getOrElse("")
      val status = readManifest(dir) match {
        case None =>
          val cur = new Path(dir, "CURRENT").toString
          if (!isFile(cur)) "no_manifest"
          else {
            val v = new Path(dir, readSmall(cur).trim).toString
            readManifest(v) match {
              case Some(m) if manifestName(m) == name => "ok_swap"
              case Some(m) => s"name_mismatch(current=${manifestName(m)})"
              case None => "no_manifest(current)"
            }
          }
        case Some(m) =>
          if (manifestName(m) != name) s"name_mismatch(manifest=${manifestName(m)})"
          else if (sha8(m) != keyHash) "hash_mismatch"
          else "ok"
      }
      (dir, status)
    }

  /** In-flight `.tmp-*` build dirs under [[root]] older than `ageMs` —
    * the leftovers of KILLED builds. A live builder cleans its tmp on
    * failure and publish discards it on a lost race, but a kill between
    * tmp creation and either path orphans the dir forever: [[gc]] and
    * [[evict]] deliberately never touch tmp dirs ("their owner cleans
    * them"), so without this sweep crashed builds grow the root
    * unboundedly. Age is the liveness proxy (the standard cross-host
    * rule — the embedded pid is only meaningful on the builder's own
    * host); pick an age well above the longest legitimate build. */
  def staleTmpDirs(ageMs: Long,
      now: Long = System.currentTimeMillis()): Seq[String] = {
    val r = rootPath(); val fs = fsOf(r)
    if (!fs.exists(r)) Seq.empty
    else fs.listStatus(r)
      .filter(st => st.isDirectory && st.getPath.getName.contains(".tmp-") &&
        now - st.getModificationTime > ageMs)
      .map(st => new Path(root, st.getPath.getName).toString).toSeq
  }

  /** Remove every stale tmp dir ([[staleTmpDirs]]); returns the removed
    * paths. Safe: a dir old enough to qualify has no live owner to
    * publish it, and a published product never has `.tmp-` in its
    * name. */
  def gcTmp(ageMs: Long,
      now: Long = System.currentTimeMillis()): Seq[String] = {
    val victims = staleTmpDirs(ageMs, now)
    victims.foreach(rmTree)
    victims
  }

  /** Products younger than this are NEVER gc victims by default (1 h) —
    * the grace floor that keeps retention from deleting a product out
    * from under the consumer that just built it or is still mid-scan on
    * it (gc-during-read fails that reader's tasks — never wrong results,
    * but a crashed query; the floor makes the window "older than an
    * hour AND still being read", rebuild-period territory). */
  val DefaultGcMinAgeMs: Long = 3600000L

  /** The eviction POLICY over the registry — what a daily-corpus loop
    * runs so stale keys (every corpus drop mints new ones) cannot grow
    * the cache unboundedly:
    *
    *  - products younger than `minAgeMs` are exempt (the grace floor —
    *    see [[DefaultGcMinAgeMs]]), regardless of the byte budget;
    *  - every remaining product older than `maxAgeMs` is evicted;
    *  - then, oldest-first, products are evicted until the whole cache
    *    (graced products included — they hold real bytes) fits
    *    `maxBytes`.
    *
    * In-flight `.tmp-*` builds are never touched. Returns the evicted
    * directories (for the CLI report). Safe by the same argument as
    * [[evict]]: a consumer whose product vanished rebuilds. */
  def gc(maxBytes: Option[Long] = None, maxAgeMs: Option[Long] = None,
      now: Long = System.currentTimeMillis(),
      minAgeMs: Long = DefaultGcMinAgeMs): Seq[String] = {
    val r = rootPath(); val fs = fsOf(r)
    val all = published().map(st => (st, treeStats(fs, st)._1))
    val (graced, eligible) = all.partition { case (st, _) =>
      now - st.getModificationTime < minAgeMs
    }
    val (tooOld, fresh) = eligible.partition { case (st, _) =>
      maxAgeMs.exists(a => now - st.getModificationTime > a)
    }
    val overBudget = maxBytes match {
      case None => Seq.empty
      case Some(budget) =>
        // fresh is oldest-first; keep the newest products that fit.
        // Graced bytes count against the budget but cannot be evicted,
        // so the cache may exceed the budget by at most the graced set.
        var excess = graced.map(_._2).sum + fresh.map(_._2).sum - budget
        fresh.takeWhile { case (_, b) =>
          val victim = excess > 0; if (victim) excess -= b; victim
        }
    }
    val victims = tooOld ++ overBudget
    victims.foreach { case (st, _) => rmTree(dirString(st)) }
    victims.map { case (st, _) => dirString(st) }
  }
}
