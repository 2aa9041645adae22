package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.functions.Caching.{drop, hold}

/** ROW-GROUP-level skip measurement — the last link in the layout
  * family's evidence chain. `graft.LayoutMeasure` prices pruning at FILE
  * granularity, which is honest at 64 small files but understates what a
  * production deployment sees: there, files are ~1 GB with many row
  * groups, and parquet's pruner consults ROW-GROUP statistics from the
  * footer, not just file-level min/max. This tool writes the events
  * table as a FEW big files (clustered and linear) with a small
  * `parquet.block.size` so each file holds many row groups, reads the
  * real footers back (`ParquetFileReader`, the same metadata a pruner
  * reads), and prices the user-point and time-range probes at BOTH
  * granularities. The claim under test: row-group stats recover the
  * fine-grained skipping that coarse file boundaries lose — i.e. the
  * clustering win survives big files.
  *
  *   runMain graft.LayoutRowGroups <sfDir> <outDir> [nFiles] [blockBytes]
  *
  * Footer reads are DRIVER-side over file-count-bounded metadata — the
  * measurement-tool shape (a production audit would mapPartitions the
  * file list; the statistics read per file is identical). Not a
  * contract query: file sizes and the range sampler make these honest
  * measurements, not hash-stable values.
  */
object LayoutRowGroups {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val nFiles = if (args.length > 2) args(2).toInt else 4
    val blockBytes = if (args.length > 3) args(3).toInt else 64 * 1024
    val spark = graft.sources.Sessions.localFromEnv(logLevel = "ERROR")
    val conf = spark.sparkContext.hadoopConfiguration

    // Source frame: the SAME builder LayoutMeasure uses.
    val events = hold(graft.operators.Events
      .layoutMeasureSource(graft.sources.Tables.events(spark, sfDir)))
    events.count(): Unit

    val outPath = new Path(outDir)
    outPath.getFileSystem(conf).mkdirs(outPath): Unit
    def write(sub: String, df: DataFrame): Unit =
      df.write.mode("overwrite")
        .option("parquet.block.size", blockBytes)
        .parquet(s"$outDir/$sub")
    write("linear",
      events.repartitionByRange(nFiles, col("ts_us"))
        .sortWithinPartitions("ts_us"))
    write("zorder2",
      graft.operators.Events.zorderClusteredN(
        events, Seq("user_id", "ts_us"), nFiles))
    write("zorder3",
      graft.operators.Events.zorderClusteredN(
        events, Seq("user_id", "ts_us", "c"), nFiles))
    write("hilbert",
      graft.operators.Events.hilbertClustered(events, nFiles))

    val dims = Seq("user_id", "ts_us")

    /** Per-ROW-GROUP stats from the actual parquet footers, shaped like
      * [[graft.operators.Events.fileLayoutAuditDf]]'s output with the
      * unit renamed to `file#rg` — so the same measured-fraction
      * reducers price both granularities. */
    def rowGroupAudit(sub: String): DataFrame = {
      val dir = new Path(s"$outDir/$sub")
      val fs = dir.getFileSystem(conf)
      val files = fs.listStatus(dir)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
      val rows = files.flatMap { st =>
        val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try rdr.getFooter.getBlocks.asScala.zipWithIndex.map { case (bg, i) =>
          val stats = dims.map { d =>
            val cc = bg.getColumns.asScala
              .find(_.getPath.toDotString == d)
              .getOrElse(sys.error(s"column $d missing in ${st.getPath}"))
            val s = cc.getStatistics
            require(s != null && s.hasNonNullValue,
              s"no statistics for $d in ${st.getPath} rg $i")
            (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
              s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
          }
          Row.fromSeq(
            (s"${st.getPath.getName}#$i" +: bg.getRowCount +: Nil) ++
              stats.flatMap { case (mn, mx) => Seq(mn, mx, mx - mn) })
        }.toSeq
        finally rdr.close()
      }
      val schema = StructType(
        StructField("file", StringType, nullable = false) +:
          StructField("n", LongType, nullable = false) +:
          dims.flatMap(d => Seq(
            StructField(s"min_$d", LongType, nullable = false),
            StructField(s"max_$d", LongType, nullable = false),
            StructField(s"span_$d", LongType, nullable = false))))
      spark.createDataFrame(rows.toSeq.asJava, schema)
    }

    // Probes: LayoutMeasure's shapes by construction — shared builders.
    val userProbes = graft.operators.Events.layoutUserProbes(events)
    val timeProbes = graft.operators.Events.layoutTimeProbes(events)

    def fracs(audit: DataFrame): (Long, Long, Long) = {
      val a = hold(audit)
      val units = a.count()
      def e4(df: DataFrame) = df.collect().head.getAs[Long]("scan_e4")
      val up = e4(graft.operators.Events
        .fileSkipFractionDf(a, userProbes, "user_id"))
      val tr = e4(graft.operators.Events
        .fileRangeScanFractionDf(a, timeProbes, "ts_us"))
      drop(a)
      (units, up, tr)
    }
    val out = Seq("linear", "zorder2", "zorder3", "hilbert").map { sub =>
      val (nf, fUp, fTr) = fracs(graft.operators.Events.fileLayoutAuditDf(
        graft.sources.Tables.parquet(spark, s"$outDir/$sub"), dims))
      val (nrg, rgUp, rgTr) = fracs(rowGroupAudit(sub))
      s""""$sub":{"files":$nf,"file_user_point_e4":$fUp,"file_time_range_e4":$fTr,""" +
        s""""row_groups":$nrg,"rg_user_point_e4":$rgUp,"rg_time_range_e4":$rgTr}"""
    }
    println(s"""{"metric":"layout_rowgroups","sf":"$sfDir","n_files":$nFiles,""" +
      s""""block_bytes":$blockBytes,${out.mkString(",")}}""")
    spark.stop()
  }
}
