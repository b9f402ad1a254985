package graftbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Pure rules that charge a Spark job to a layer. Kept free of Spark state
  * so the self-test can check them on literal strings.
  */
object Attribution {

  /** `graft.<module>.<Class>...` stack frame; the benchmark's own package
    * (`graftbench`) never matches because `graft` must be followed by a dot.
    */
  private val GraftFrame = """graft\.([a-z][a-z0-9_]*)\.[A-Za-z]\S*""".r

  /** Innermost `graft.<module>` frame of a call-site long form (one frame
    * per line, innermost first, as in `StageInfo.details`), as
    * (module, frame text).
    */
  def innermostFrame(callSite: String): Option[(String, String)] =
    if (callSite == null) None
    else callSite.linesIterator.map(_.trim)
      .flatMap(l => GraftFrame.findPrefixMatchOf(l).map(m => (m.group(1), m.matched)))
      .nextOption()

  /** Table written by a SQL execution, parsed from the output path of the
    * write command in its physical plan: SnapshotStore writes every batch
    * under `<root>/<table>/data/batch=<id>`. The formatted plan lists the
    * path on the `Arguments:` line of the write node's detail block; the
    * one-line plan form puts it right after the node name.
    */
  private val WritePath =
    ("""InsertIntoHadoopFsRelationCommand(?:\n(?:(?!Arguments:)[^\n]*\n)*Arguments:)?""" +
      """\s+[^,\n]*?/([A-Za-z0-9_]+)/data/batch=""").r

  def writtenTable(plan: String): Option[String] =
    if (plan == null) None else WritePath.findFirstMatchIn(plan).map(_.group(1))

  /** The staged `extractions` write is where per-page extraction runs, so it
    * is charged to `extract`; every other write is `commit.<table>`.
    */
  def commitUnit(table: String): String =
    if (table == "extractions") "extract" else s"commit.$table"

  def isCommit(unit: String): Boolean = unit == "extract" || unit.startsWith("commit.")
}

/** Median and interval helpers shared by the workloads and the self-test. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Intervals clipped to a window; those outside it are dropped. */
  def clip(intervals: Seq[(Long, Long)], from: Long, to: Long): Seq[(Long, Long)] =
    intervals.flatMap { case (s, e) =>
      val cs = math.max(s, from)
      val ce = math.min(e, to)
      if (ce > cs) Some((cs, ce)) else None
    }
}

/** Per-job record kept by [[LayerListener]]. Times are epoch ms. */
final case class JobRec(id: Int, unit: String, frame: String, exec: Long, start: Long,
    var end: Long)

/** Per-task record kept by [[LayerListener]]. */
final case class TaskRec(stage: Int, runMs: Long, durMs: Long, shuffleWrite: Long,
    spill: Long, outBytes: Long, failed: Boolean)

/** Charges every job, stage and task to a layer ("unit"):
  *   1. a SQL execution that writes a snapshot table → `commit.<table>`
  *      (`extract` for the staged extractions write);
  *   2. else the innermost `graft.<module>` frame of the execution's or the
  *      job's call site → `<module>`;
  *   3. else the label the benchmark set on the calling thread (local
  *      property [[LayerListener.LabelKey]]) → that label;
  *   4. else `other`.
  * Lazy plans are therefore charged to whoever materialises them.
  */
final class LayerListener extends SparkListener {
  private val execUnit = mutable.Map.empty[Long, (Option[String], String)]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stagesRun = mutable.Set.empty[Int]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      val inherited = e.rootExecutionId.filter(_ != e.executionId)
        .flatMap(execUnit.get).flatMap(_._1)
      val commit = Attribution.writtenTable(e.physicalPlanDescription).map(Attribution.commitUnit)
      val frame = Attribution.innermostFrame(e.details)
      execUnit(e.executionId) =
        (commit.orElse(inherited).orElse(frame.map(_._1)), frame.map(_._2).getOrElse(""))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val exec = execId.flatMap(execUnit.get)
    val stageFrame = e.stageInfos.sortBy(-_.stageId).iterator
      .flatMap(s => Attribution.innermostFrame(s.details)).nextOption()
    val label = props.flatMap(p => Option(p.getProperty(LayerListener.LabelKey)))
    val unit = exec.flatMap(_._1)
      .orElse(stageFrame.map(_._1))
      .orElse(label)
      .getOrElse("other")
    val frame = exec.map(_._2).filter(_.nonEmpty).orElse(stageFrame.map(_._2)).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, unit, frame, execId.getOrElse(-1L), e.time, -1L)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesRun += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = e.reason != Success
    tasks += TaskRec(e.stageId,
      if (m == null) 0L else m.executorRunTime,
      e.taskInfo.duration,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      failed)
  }

  /** Snapshot of what was seen, for jobs that started inside [from, to]. */
  def window(from: Long, to: Long): TraceWindow = synchronized {
    val js = jobs.values.filter(j => j.start >= from && j.start <= to && j.end >= 0).toVector
    val jobIds = js.map(_.id).toSet
    val owner = stageJob.filter { case (_, j) => jobIds(j) }.toMap
    val ts = tasks.filter(t => owner.contains(t.stage)).toVector
    TraceWindow(js, owner, stagesRun.filter(owner.contains).toSet, ts)
  }
}

object LayerListener {
  /** Thread-local Spark property the benchmark sets around its own calls. */
  val LabelKey = "graftbench.label"
}

/** The jobs, stages and tasks of one time window, with per-unit sums. */
final case class TraceWindow(jobs: Vector[JobRec], stageJob: Map[Int, Int],
    stagesRun: Set[Int], tasks: Vector[TaskRec]) {

  val stageUnit: Map[Int, String] = {
    val unitOf = jobs.map(j => j.id -> j.unit).toMap
    stageJob.map { case (s, j) => s -> unitOf(j) }
  }

  def units: Seq[String] = jobs.map(_.unit).distinct.sorted

  /** Union of job intervals, optionally only for one unit and clipped to
    * a set of spans; seconds.
    */
  def wallS(unit: Option[String] = None, within: Seq[(Long, Long)] = Nil): Double = {
    val iv = jobs.filter(j => unit.forall(_ == j.unit)).map(j => (j.start, j.end))
    val clipped = if (within.isEmpty) iv else within.flatMap { case (f, t) => Stats.clip(iv, f, t) }
    Stats.unionLength(clipped) / 1000.0
  }

  def jobsIn(spans: Seq[(Long, Long)]): Vector[JobRec] =
    jobs.filter(j => spans.exists { case (f, t) => j.start >= f && j.start <= t })

  /** jobs, stages, tasks, wall_s, busy_s, shuffle_write_bytes, spill_bytes,
    * failed_tasks of one unit.
    */
  def unitStats(unit: String): Seq[(String, Double)] = {
    val ts = tasks.filter(t => stageUnit.get(t.stage).contains(unit))
    Seq(
      "jobs" -> jobs.count(_.unit == unit).toDouble,
      "stages" -> stagesRun.count(s => stageUnit.get(s).contains(unit)).toDouble,
      "tasks" -> ts.size.toDouble,
      "wall_s" -> wallS(Some(unit)),
      "busy_s" -> ts.map(_.runMs).sum / 1000.0,
      "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "failed_tasks" -> ts.count(_.failed).toDouble)
  }

  /** Bytes written by all `commit.*`/`extract` writes. */
  def commitBytes: Long =
    tasks.filter(t => stageUnit.get(t.stage).exists(Attribution.isCommit)).map(_.outBytes).sum

  /** max / median task time of the heaviest stage charged to `unit`. */
  def taskSkew(unit: String): Double = {
    val byStage = tasks.filter(t => stageUnit.get(t.stage).contains(unit) && !t.failed)
      .groupBy(_.stage)
    if (byStage.isEmpty) 0.0
    else {
      val heavy = byStage.values.maxBy(_.map(_.durMs).sum).map(_.durMs.toDouble)
      val med = Stats.median(heavy)
      if (med <= 0) 0.0 else heavy.max / med
    }
  }
}
