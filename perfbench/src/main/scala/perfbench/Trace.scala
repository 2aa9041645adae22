package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `kind` is "construct" for a call that
  * returns a lazy DataFrame (its jobs are eager driver-side work) and
  * "exec" for a call that runs the terminal action. */
final case class Span(id: Int, layer: String, name: String, kind: String,
    parent: Int, run: String, start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans around every call the harness makes into graft, plus the
  * engine-level counters of a traced run.
  *
  * With tracing off, `span` only runs its body: no job groups, no
  * listeners. With tracing on, each span sets a Spark job group
  * `pb<id>`, so the listener attributes every job to the innermost span
  * that was open when the job started. Jobs started outside any span's
  * group are counted as unattributed. Spans stay in memory and are
  * written out when the run ends. */
final class Tracer(val on: Boolean, val run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var sc: SparkContext = _
  private var bookkeepingNs = 0L
  val engine = new EngineListener

  /** Attach to a (new) session's context and register the listeners. */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(engine)
    spark.listenerManager.register(engine.planListener)
  }

  def span[T](layer: String, name: String, kind: String = "exec")(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      val id = spans.size
      // No job description: SQL executions then keep their call site
      // ("parquet at Ship.scala:87") as their description.
      sc.setJobGroup(s"pb$id", null, interruptOnCancel = false)
      val s = Span(id, layer, name, kind, stack.headOption.getOrElse(-1), run,
        System.nanoTime())
      spans += s
      stack = id :: stack
      bookkeepingNs += s.start - t0
      try body
      finally {
        val t1 = System.nanoTime()
        s.end = t1
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb$p", null, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        bookkeepingNs += System.nanoTime() - t1
      }
    }

  /** Seconds the trace itself spent: span bookkeeping on the driver plus
    * the time the listeners spent handling events. */
  def overheadSeconds: Double = (bookkeepingNs + engine.handlerNs.get()) / 1e9

  /** Job groups set by Spark itself (a streaming query runs its batches
    * under its run id) -> the span that started them. */
  private val aliases = mutable.HashMap.empty[String, Int]

  /** Attribute jobs of `group` to the innermost open span. */
  def alias(group: String): Unit = if (on) stack.headOption.foreach(aliases(group) = _)

  def spanOf(group: String): Option[Span] =
    if (group == null) None
    else if (group.startsWith("pb")) group.drop(2).toIntOption.filter(_ < spans.size).map(spans(_))
    else aliases.get(group).map(spans(_))
}

/** Per-job facts kept by the listener. */
final case class JobRec(id: Int, group: String, callSite: String,
    start: Long, var end: Long = 0L)

/** Task-level totals of a run. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var scanRunMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spillDisk = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    inputBytes += m.inputMetrics.bytesRead
    inputRecords += m.inputMetrics.recordsRead
    if (m.inputMetrics.bytesRead > 0) scanRunMs += m.executorRunTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spillDisk += m.diskBytesSpilled
  }
}

/** SparkListener + QueryExecutionListener owned by the benchmark. */
final class EngineListener extends SparkListener {
  val handlerNs = new java.util.concurrent.atomic.AtomicLong
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val total = new TaskTotals
  /** (launch, finish) wall-clock ms of every task, for the scheduler gap. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Per stage: task durations, for the skew ratio. */
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  var stages = 0L
  var unpersists = 0L
  private val cachedBlocks = mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L
  var cachedPeak = 0L
  var planMs = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally handlerNs.addAndGet(System.nanoTime() - t0)
  }

  /** SQL execution id -> the call site of the action that started it
    * (short form, then the graft frames of the long form). Jobs of one
    * execution may be submitted from other threads, so their own stage
    * names do not say which code asked for them. */
  private val executionSite = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        val frames = x.details.split("\n").filter(_.startsWith("graft.")).mkString("\n")
        synchronized { executionSite(x.executionId) = x.description + "\n" + frames }
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
    val execution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val site = synchronized(execution.flatMap(executionSite.get)).getOrElse(
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    val rec = JobRec(e.jobId, group, site, e.time)
    synchronized { jobs(e.jobId) = rec }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    synchronized { stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) synchronized {
      total.add(m)
      taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = timed {
    synchronized { unpersists += 1 }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedNow += size - cachedBlocks.getOrElse(key, 0L)
      if (size == 0L) cachedBlocks.remove(key) else cachedBlocks(key) = size
      cachedPeak = math.max(cachedPeak, cachedNow)
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      EngineListener.this.synchronized { planMs += ms }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  /** Median over stages with at least two tasks of (max / median task
    * time); 1.0 when no stage qualifies. */
  def taskSkew: Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.toSeq.sorted
    if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
  }

  /** Seconds inside the given [start, end) wall-clock ms intervals during
    * which no task was running. */
  def idleSeconds(windows: Seq[(Long, Long)]): Double = synchronized {
    val busy = taskIntervals.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
    windows.map { case (ws, we) =>
      val covered = busy.map { case (s, e) =>
        math.max(0L, math.min(e, we) - math.max(s, ws))
      }.sum
      (we - ws - covered) / 1e3
    }.sum
  }
}
