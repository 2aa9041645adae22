package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A second input file a product's build reads besides its
  * [[Artifact.source]]. As an [[Artifact]] param it renders as the file's
  * identity, so a change to that file moves the product's key too. */
final case class InputFile(path: String)

/** THE declaration of one build-once product: its `name`, its primary
  * input file `source` and its ordered build `params`. The manifest
  * [[key]], the content [[address]], the directory [[dir]] and the
  * read-or-build entry points all derive from this one value (params
  * render by the rule in the [[ArtifactCache]] class doc). Each product
  * is declared by exactly one `def` in its operator module; every reader
  * and every dependent's key goes through that def. */
final case class Artifact(name: String, source: String, params: Seq[Any]) {
  // The manifest key is '|'-joined and [[ArtifactCache.evictDerivedFrom]]
  // parses the source path back out of field 1: a '|' in the name would
  // shift every field.
  require(!name.contains('|'), s"product name must not contain '|': $name")

  /** Full, UNHASHED content key: what the manifest records and read-time
    * validation compares. */
  def key: String =
    ((name +: ArtifactCache.identity(source)) ++ params.map {
      case a: Artifact => a.address
      case f: InputFile => ArtifactCache.identity(f.path).mkString("#")
      case v => v
    } :+ ArtifactCache.CacheVersion).mkString("|")

  /** The content address `<name>-<16-hex key hash>`: the dir's basename. */
  def address: String = addressOf(key)

  private def addressOf(k: String): String = s"$name-${ArtifactCache.sha8(k)}"

  /** `<root>/<address>`. Touches the filesystem only to read the input
    * files' metadata and ensure the root. */
  def dir: String = new Path(ArtifactCache.root, address).toString

  def exists: Boolean = ArtifactCache.exists(dir)

  /** The product's directory, built first through
    * [[ArtifactCache.buildAt]] if absent (`write` may lay down any number
    * of tables). Concurrent builders race only on the atomic publish;
    * every reader sees one complete product. Every hit validates the
    * manifest (see [[ArtifactCache.validateManifest]]). */
  def getOrBuildDir(s: SparkSession)(write: String => Unit): String = {
    val k = key
    val d = new Path(ArtifactCache.root, addressOf(k)).toString
    def buildIfAbsent(): Unit = if (!ArtifactCache.exists(d)) {
      ArtifactCache.autoGc(s)
      ArtifactCache.buildAt(d, k, replace = false)(write)
    }
    buildIfAbsent()
    try ArtifactCache.validateManifest(d, k)
    catch {
      // The product VANISHED between the existence check and the read —
      // a concurrent gc/evict got it. Eviction must never break
      // correctness ("a consumer whose product vanished rebuilds"), so
      // rebuild exactly once; a manifest MISMATCH on a dir that still
      // exists stays a loud failure (stale/planted dir, never auto-fixed).
      case _: java.io.IOException if !ArtifactCache.exists(d) =>
        buildIfAbsent()
        ArtifactCache.validateManifest(d, k)
    }
    d
  }

  /** Read the one-table product ([[getOrBuildDir]] with `build` as its
    * table). */
  def getOrBuild(s: SparkSession)(build: => DataFrame): DataFrame =
    Tables.parquet(s, getOrBuildDir(s)(tmp =>
      build.write.mode("overwrite").parquet(tmp)))
}
