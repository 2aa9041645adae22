package graft

import graft.operators.Similarity

/** Offline ANN index build as a job — the vector-corpus sibling of
  * [[Ship]]'s corpus-shipping surface: embeddings in, the persisted
  * trained IVF-PQ index out (`index/` bucketable by cell, `centroids/`,
  * `codebook/` — see [[Similarity.ivfPqWriteIndex]]). Run it on the
  * rebuild schedule; [[Similarity.ivfPqServedTopK]] and
  * [[graft.streaming.VectorStreams.ivfPqIngestStreamServed]] then serve
  * batch queries and online ingest from the SAME versioned artifacts.
  *
  *   runMain graft.IndexBuild [corpusDir] [indexDir]         # build in place
  *   runMain graft.IndexBuild --swap <corpusDir> <baseDir>   # rebuild + flip
  *   runMain graft.IndexBuild --swap-if-stale <corpusDir> <baseDir>
  *                                       # rebuild + flip only on corpus change
  *
  * `--swap` is the REBUILD-UNDER-READERS mode (the drift monitor's
  * rebuild trigger): it builds a fresh version under `baseDir` and
  * atomically flips `baseDir/CURRENT` to it
  * ([[Similarity.ivfPqSwapIndex]]); readers that pass `baseDir` as their
  * `indexDir` resolve the pointer once per query, so in-flight queries
  * finish on the old version while new ones pick up the fresh index.
  * `--swap-if-stale` is the same flip gated on the live version's
  * manifest ([[Similarity.ivfPqSwapIfStale]]) — the cron job a daily
  * corpus drop schedules: training is paid only when the corpus file
  * actually changed.
  */
object IndexBuild {

  def main(args: Array[String]): Unit = {
    val mode = args.headOption match {
      case Some("--swap") => "swap"
      case Some("--swap-if-stale") => "swap-if-stale"
      case _ => "build"
    }
    val rest = if (mode == "build") args else args.drop(1)
    val in = if (rest.nonEmpty) rest(0) else "/root/testdata/sf0.001"
    val out = if (rest.length > 1) rest(1) else Similarity.ivfPqArtifact(in).dir
    val spark = graft.sources.Sessions.localFromEnv()
    val t0 = System.nanoTime()
    val servedDir = mode match {
      case "swap" =>
        val vdir = Similarity.ivfPqSwapIndex(spark, in, out)
        println(s"CURRENT at $out now points to $vdir")
        vdir
      case "swap-if-stale" =>
        Similarity.ivfPqSwapIfStale(spark, in, out) match {
          case Some(vdir) =>
            println(s"stale: CURRENT at $out now points to $vdir")
            vdir
          case None =>
            println(s"fresh: index at $out already matches the corpus - no rebuild")
            Similarity.ivfPqResolveDir(out)
        }
      case _ => Similarity.ivfPqWriteIndex(spark, in, out); out
    }
    val idx = graft.sources.Tables.parquet(spark, s"$servedDir/index")
    val nVecs = idx.count()
    val nCells = idx.select("cell_id").distinct().count()
    println(s"Index built at $servedDir: $nVecs vectors across $nCells cells " +
      s"(${Similarity.PqM} codes/vector)")
    println(f"Elapsed: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    spark.stop()
  }
}
