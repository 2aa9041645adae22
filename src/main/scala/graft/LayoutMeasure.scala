package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Caching.{drop, hold}

/** MEASURED layout comparison on REAL written files — the end-to-end
  * companion to the modeled bucket audits (`layout_zorder` /
  * `layout_hilbert` / `eval_layout_*`): writes the events table under
  * four physical layouts (time-linear, 2-D z-order, 3-D z-order with
  * the event-type code as the third dimension, 2-D Hilbert), reads each
  * directory back, derives per-FILE min/max from `input_file_name()`, and prices
  * both query shapes (user-point, time-range) plus a type-point probe
  * against the ACTUAL files — file sizing, row-group boundaries and the
  * range partitioner's sampling included. The bucket audits model the
  * curve; this measures the artifact, which is what a pruner sees.
  *
  *   runMain graft.LayoutMeasure <sfDir> <outDir> [nFiles]
  *
  * Prints one JSON line: per layout, the file count and the measured
  * e4 scan fractions per probe shape. Not a declared contract query —
  * the range partitioner SAMPLES boundaries, so file-level numbers are
  * honest measurements rather than hash-stable values (the spec
  * `EventsSpec."file-level audit"` pins the invariants; this main
  * produces the quoted SCALE.md numbers).
  */
object LayoutMeasure {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val nFiles = if (args.length > 2) args(2).toInt else 32
    val spark = graft.sources.Sessions.localFromEnv(logLevel = "ERROR")

    // One source frame for all writers (the builder LayoutRowGroups
    // shares, so the two tools' numbers stay comparable).
    val events = hold(graft.operators.Events
      .layoutMeasureSource(graft.sources.Tables.events(spark, sfDir)))
    events.count(): Unit

    // Hadoop FS, not java.io.File: the out dir may live on a DFS — the
    // same posture as the product layer (local paths resolve identically).
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .mkdirs(outPath): Unit
    def write(sub: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$sub")
    write("linear",
      events.repartitionByRange(nFiles, col("ts_us"))
        .sortWithinPartitions("ts_us"))
    write("zorder2",
      graft.operators.Events.zorderClusteredN(
        events, Seq("user_id", "ts_us"), nFiles))
    write("zorder3",
      graft.operators.Events.zorderClusteredN(
        events, Seq("user_id", "ts_us", "c"), nFiles))
    // The Hilbert writer clusters the same 2-D (user, time) pair on the
    // stronger curve — its claimed edge (key-adjacency → tighter per-file
    // time spans for range scans) is exactly what the measured time-range
    // probe tests, so it gets a measured row, not just the modeled audit.
    write("hilbert",
      graft.operators.Events.hilbertClustered(events, nFiles))

    // Probe sets: the skip eval's deterministic shapes (shared builders).
    val userProbes = graft.operators.Events.layoutUserProbes(events)
    val typeProbes = events.select(col("c").as("pv")).distinct()
    val timeProbes = graft.operators.Events.layoutTimeProbes(events)

    def fracs(sub: String): (Long, Long, Long, Long) = {
      val audit = hold(graft.operators.Events.fileLayoutAuditDf(
        graft.sources.Tables.parquet(spark, s"$outDir/$sub"),
        Seq("user_id", "ts_us", "c")))
      val files = audit.count()
      def e4(df: DataFrame) = df.collect().head.getAs[Long]("scan_e4")
      val up = e4(graft.operators.Events
        .fileSkipFractionDf(audit, userProbes, "user_id"))
      val tp = e4(graft.operators.Events
        .fileSkipFractionDf(audit, typeProbes, "c"))
      val tr = e4(graft.operators.Events
        .fileRangeScanFractionDf(audit, timeProbes, "ts_us"))
      drop(audit)
      (files, up, tr, tp)
    }
    val out = Seq("linear", "zorder2", "zorder3", "hilbert").map { sub =>
      val (files, up, tr, tp) = fracs(sub)
      s""""$sub":{"files":$files,"user_point_e4":$up,"time_range_e4":$tr,"type_point_e4":$tp}"""
    }
    println(s"""{"metric":"layout_measured","sf":"$sfDir","n_files":$nFiles,${out.mkString(",")}}""")
    spark.stop()
  }
}
