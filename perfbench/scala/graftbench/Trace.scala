package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer's public function.  `buildEnd` marks when
  * the call returned (eager work ends, materialization starts); group spans
  * have no materialization and keep `buildEnd = end`. */
final class Span(val id: Long, val layer: String, val call: String,
    val parent: Option[Span], val pass: Int, val start: Long) {
  var buildEnd: Long = -1L
  var end: Long = -1L
  val children = mutable.ArrayBuffer.empty[Span]
  def contains(t: Long): Boolean = t >= start && (end < 0 || t <= end)
}

final case class JobRec(id: Int, tag: String, start: Long, schemaInference: Boolean) {
  var end: Long = -1L
}

final case class TaskRec(stage: Int, cpuNs: Long, waitMs: Long,
    shuffleBytes: Long, spillBytes: Long)

final case class PlanRec(start: Long, planMs: Long, scannedRows: Long, outRows: Long)

/** Collects spans (recorded by the benchmark around each call) and the Spark
  * events of a traced pass.  Everything stays in memory until the run ends.
  * Jobs carry the innermost open span's id as a local property; a job whose
  * tag is missing or names a span that is not open (a pool thread that kept
  * a stale copy of the properties) is counted as unattributed and charged to
  * the innermost span whose time window holds its start. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val TagKey = "graftbench.span"
  private val sc = spark.sparkContext
  private var nextId = 0L
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobOfStage = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]

  def install(): Unit = {
    sc.addSparkListener(this); spark.listenerManager.register(this)
  }
  def uninstall(): Unit = {
    org.apache.spark.BenchAccess.drainListeners(sc)
    sc.removeSparkListener(this); spark.listenerManager.unregister(this)
    sc.setLocalProperty(TagKey, null)
  }

  def open(layer: String, call: String, pass: Int): Span = synchronized {
    nextId += 1
    val s = new Span(nextId, layer, call, stack.headOption, pass, System.currentTimeMillis())
    s.parent.foreach(_.children += s)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(TagKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = synchronized {
    s.end = System.currentTimeMillis()
    if (s.buildEnd < 0) s.buildEnd = s.end
    stack = stack.tail
    sc.setLocalProperty(TagKey, stack.headOption.map(_.id.toString).orNull)
  }

  /** Record planning time and file-scan rows of a query the benchmark
    * materialized itself with `toRdd.count` (those never reach the
    * QueryExecutionListener); `rows` is the count it returned. */
  def recordQuery(qe: QueryExecution, rows: Long): Unit =
    synchronized { plans += planOf(qe).copy(outRows = rows) }

  /** Planning time, file-scan rows and written rows of one executed query. */
  private def planOf(qe: QueryExecution): PlanRec = {
    val ph = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    val scanned = collect(qe.executedPlan) { case f: FileSourceScanExec => f }
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    val written = collect(qe.executedPlan) { case w: DataWritingCommandExec => w }
      .flatMap(_.cmd.metrics.get("numOutputRows")).map(_.value).sum
    PlanRec(start, planMs, scanned, written)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans += planOf(qe) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // schema inference runs while a read is analyzed, outside any SQL
    // execution; a parquet write has the same call-site name but runs inside one
    val schema = e.stageInfos.headOption.exists(_.name.startsWith("parquet at")) &&
      prop(SQLExecution.EXECUTION_ID_KEY).isEmpty
    jobs += JobRec(e.jobId, prop(TagKey).orNull, e.time, schema)
    e.stageIds.foreach(jobOfStage(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val wait = math.max(0L, e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime))
      tasks += TaskRec(e.stageId, m.executorCpuTime, wait,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }
  }

  /** Per-layer sums for one pass, the pass-level trace counters, and per
    * call (`call:<layer>.<call>.jobs` / `.self_ms`) the detail the layer
    * sums hide. */
  def summarize(pass: Int): Map[String, Double] = synchronized {
    val ps = spans.filter(_.pass == pass)
    val byId = ps.map(s => s.id -> s).toMap
    def innermostAt(t: Long): Option[Span] =
      ps.filter(s => s.contains(t)).sortBy(s => -s.start).headOption
    val out = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val passStart = ps.map(_.start).minOption.getOrElse(0L)
    val passEnd = ps.map(_.end).maxOption.getOrElse(0L)
    val pjobs = jobs.filter(j => j.start >= passStart && j.start <= passEnd)
    var unattributed = 0
    val jobSpan = mutable.HashMap.empty[Int, Span]
    pjobs.foreach { j =>
      val tagged = Option(j.tag).flatMap(t => byId.get(t.toLong)).filter(_.contains(j.start))
      tagged match {
        case Some(s) if s.layer != "pass" => jobSpan(j.id) = s
        case _ =>
          unattributed += 1
          innermostAt(j.start).foreach(jobSpan(j.id) = _)
      }
    }
    val stageSpan = jobOfStage.iterator.flatMap { case (st, j) => jobSpan.get(j).map(st -> _) }.toMap
    tasks.foreach { t =>
      stageSpan.get(t.stage).foreach { s =>
        out(s"${s.layer}.task_cpu_ms") += t.cpuNs / 1e6
        out(s"${s.layer}.sched_wait_ms") += t.waitMs
        out(s"${s.layer}.shuffle_mb") += t.shuffleBytes / 1e6
        out(s"${s.layer}.spill_mb") += t.spillBytes / 1e6
      }
    }
    pjobs.foreach { j =>
      jobSpan.get(j.id).foreach { s =>
        out(s"${s.layer}.jobs") += 1
        out(s"call:${s.layer}.${s.call}.jobs") += 1
        if (j.start <= s.buildEnd) out(s"${s.layer}.build_jobs") += 1
      }
      if (j.schemaInference) out("sources.schema_jobs") += 1
    }
    ps.foreach { s =>
      val self = (s.end - s.start) - union(s.children.map(c => (c.start, c.end)).toSeq)
      val buildSelf = (s.buildEnd - s.start) -
        overlap(s.children.map(c => (c.start, c.end)).toSeq, s.start, s.buildEnd)
      out(s"${s.layer}.build_ms") += buildSelf
      out(s"${s.layer}.exec_ms") += (s.end - s.buildEnd)
      out(s"call:${s.layer}.${s.call}.self_ms") += self
      val busy = union(pjobs.filter(j => jobSpan.get(j.id).contains(s))
        .map(j => (math.max(j.start, s.start), math.min(if (j.end < 0) s.end else j.end, s.end))).toSeq)
      out(s"${s.layer}.job_gap_ms") += math.max(0L, self - busy)
      if (s.call == "maintenance") out("streaming.compact_ms") += s.end - s.start
    }
    plans.filter(p => p.start >= passStart && p.start <= passEnd).foreach { p =>
      innermostAt(p.start).foreach(s => out(s"${s.layer}.plan_ms") += p.planMs)
      out("sources.scanned_rows") += p.scannedRows
      out("sources.out_rows") += p.outRows
    }
    out("trace.unattributed_jobs") = unattributed
    out("trace.jobs") = pjobs.size
    out.toMap
  }

  private def overlap(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    union(iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1))

  /** Total length covered by a set of intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Spans as JSON lines (written once, at the end of the run). */
  def spanLines: Seq[String] = synchronized {
    spans.map { s =>
      s"""{"id":${s.id},"name":"${s.layer}.${s.call}","pass":${s.pass},""" +
        s""""parent":${s.parent.map(_.id).getOrElse(0L)},"start":${s.start},""" +
        s""""build_end":${s.buildEnd},"end":${s.end}}"""
    }.toSeq
  }
}
