package graftbench

import graft.core._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in fractional epoch milliseconds, steady within a run. Spark
  * stamps its events with epoch milliseconds, so spans of both kinds share
  * one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span of the traced run. `layer` names the module or engine part:
  * `op` (the whole operation), `sources` (a version-tracker call), `sql` (a
  * query planning phase) or `spark` (a job). */
final case class Span(op: Int, layer: String, name: String, start: Double, end: Double)

/** Collects the spans of the traced run in memory; written out at the end. */
final class Tracer {
  @volatile private var active = -1
  private val tracker = new ConcurrentLinkedQueue[Span]()

  def begin(op: Int): Unit = active = op
  def end(): Unit = active = -1

  /** Time `body` as a child span of the active operation, if any. */
  def around[A](layer: String, name: String)(body: => A): A = {
    val op = active
    if (op < 0) body
    else {
      val t0 = Clock.nowMs
      try body finally tracker.add(Span(op, layer, name, t0, Clock.nowMs))
    }
  }

  def takeTrackerSpans(): Seq[Span] = Iterator.continually(tracker.poll()).takeWhile(_ != null).toSeq
}

/** The version tracker the traced run hands to graft: every call is
  * delegated to `inner` and timed as a `sources` span. Timed runs use the
  * bare tracker. */
final class TracingTracker(inner: VersionTracker with GroupCommitTracker, t: Tracer)
    extends VersionTracker with GroupCommitTracker {
  private def rec[A](name: String)(body: => A): A = t.around("sources", name)(body)

  override def commitGroup(commits: List[(TableName, TableUpdate, CommitId)]): Unit =
    rec("commitGroup")(inner.commitGroup(commits))
  override def initTable(table: TableName, isSnapshot: Boolean, userId: UserId, message: String,
      timestamp: Instant): Unit =
    rec("initTable")(inner.initTable(table, isSnapshot, userId, message, timestamp))
  override def tables(): List[TableName] = rec("tables")(inner.tables())
  override def commit(table: TableName, update: TableUpdate): Unit =
    rec("commit")(inner.commit(table, update))
  override def commitIf(table: TableName, update: TableUpdate, expectedHead: CommitId): Unit =
    rec("commitIf")(inner.commitIf(table, update, expectedHead))
  override def setCurrentVersion(table: TableName, id: CommitId): Unit =
    rec("setCurrentVersion")(inner.setCurrentVersion(table, id))
  override def tags(table: TableName): List[(String, CommitId)] = rec("tags")(inner.tags(table))
  override def createTag(table: TableName, name: String, at: CommitId): Unit =
    rec("createTag")(inner.createTag(table, name, at))
  override def deleteTag(table: TableName, name: String): Unit =
    rec("deleteTag")(inner.deleteTag(table, name))
  override def tagCommit(table: TableName, name: String): CommitId =
    rec("tagCommit")(inner.tagCommit(table, name))
  override def tableState(table: TableName): TableState = rec("tableState")(inner.tableState(table))
  override def currentRef(table: TableName): CommitId = rec("currentRef")(inner.currentRef(table))
  override def currentVersion(table: TableName): TableVersion =
    rec("currentVersion")(inner.currentVersion(table))
  override def versionAt(table: TableName, id: CommitId): TableVersion =
    rec("versionAt")(inner.versionAt(table, id))
  override def headState(table: TableName): HeadState = rec("headState")(inner.headState(table))
  override def updates(table: TableName): List[TableUpdateMetadata] =
    rec("updates")(inner.updates(table))
  override def updates(table: TableName, limit: Int, offset: Int): List[TableUpdateMetadata] =
    rec("updates")(inner.updates(table, limit, offset))
  override def updatesPage(table: TableName, limit: Int, after: Option[String])
      : (List[TableUpdateMetadata], Option[String]) =
    rec("updatesPage")(inner.updatesPage(table, limit, after))
  override def commitsPageAsc(table: TableName, limit: Int, after: Option[String])
      : (List[TableUpdate], Option[String]) =
    rec("commitsPageAsc")(inner.commitsPageAsc(table, limit, after))
  override def commitIdAsOf(table: TableName, instant: Instant): Option[CommitId] =
    rec("commitIdAsOf")(inner.commitIdAsOf(table, instant))
  override def parentCommit(table: TableName, id: CommitId): Option[CommitId] =
    rec("parentCommit")(inner.parentCommit(table, id))
  override def isSnapshotTable(table: TableName): Boolean =
    rec("isSnapshotTable")(inner.isSnapshotTable(table))
}

object TracingTracker {
  val StateCalls = Set("headState", "tableState", "currentVersion", "versionAt")
  val CommitCalls = Set("commit", "commitIf", "commitGroup")
}

/** Spark-side recorder of the traced run: jobs with their task totals from
  * a `SparkListener`, and each query's planning phases from a
  * `QueryExecutionListener`. Events carry Spark's own timestamps and are
  * matched to operations by time once the listener bus is drained. */
final class SparkRecorder(spark: SparkSession) {
  final class Job(val id: Int, val start: Double) {
    var end = Double.NaN
    var tasks = 0L; var inputB = 0L; var shuffleB = 0L; var outputB = 0L
  }
  /** One query execution: its phases as (name, start, end). */
  final case class Query(phases: Seq[(String, Double, Double)], at: Double)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job] // guarded by this
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val queries = new ConcurrentLinkedQueue[Query]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkRecorder.this.synchronized {
      jobs(e.jobId) = new Job(e.jobId, e.time.toDouble)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkRecorder.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkRecorder.this.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.inputB += m.inputMetrics.bytesRead
          j.shuffleB += m.shuffleReadMetrics.totalBytesRead
          j.outputB += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  private val queryListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.toSeq.map { case (n, s) =>
        (n, s.startTimeMs.toDouble, s.endTimeMs.toDouble) }
      queries.add(Query(ph, if (ph.isEmpty) Clock.nowMs else ph.map(_._2).min)); ()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Wait for the bus, then hand over every finished job and every query
    * recorded so far. */
  def drain(): (Seq[Job], Seq[Query]) = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val done = synchronized {
      val d = jobs.values.filter(!_.end.isNaN).toSeq
      d.foreach(j => jobs.remove(j.id))
      d
    }
    (done, Iterator.continually(queries.poll()).takeWhile(_ != null).toSeq)
  }
}

object Intervals {
  /** Length of the union of `xs`, each clipped to [lo, hi]. */
  def unionLength(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = xs.map { case (s, e) => (s.max(lo), e.min(hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    c.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE.max(e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

object Layers {
  val Classes = Seq("write", "read", "travel", "meta")
  /** Per-layer metric stems, each reported per operation of every class. */
  val Stems: Seq[(String, String)] = Seq(
    "sources.calls" -> "count", "sources.state_calls" -> "count", "sources.ms" -> "ms",
    "sql.queries" -> "count", "sql.analysis_ms" -> "ms", "sql.optimization_ms" -> "ms",
    "sql.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.busy_ms" -> "ms",
    "spark.input_mb" -> "MB", "spark.shuffle_mb" -> "MB", "spark.output_mb" -> "MB",
    "driver.gap_ms" -> "ms", "operators.self_ms" -> "ms",
    "fs.files" -> "count", "fs.data_kb" -> "KB", "fs.log_kb" -> "KB",
    "jvm.gc_ms" -> "ms", "jvm.alloc_mb" -> "MB")
  /** The one class-specific metric: time in commit calls per write. */
  val Extra: Seq[(String, String)] = Seq("sources.commit_ms.write" -> "ms")

  val all: Seq[(String, String)] =
    (for ((s, u) <- Stems; c <- Classes) yield (s"$s.$c", u)) ++ Extra

  private val MB = 1024.0 * 1024.0

  /** Derive one operation's layer figures from its spans and counters. */
  def of(cls: String, op: Span, tracker: Seq[Span], jobs: Seq[SparkRecorder#Job],
      queries: Seq[SparkRecorder#Query], fs: (Long, Long, Long), gcMs: Double,
      allocB: Double): Map[String, Double] = {
    val (lo, hi) = (op.start, op.end)
    val wall = hi - lo
    val jobIv = jobs.map(j => (j.start, j.end))
    val trackIv = tracker.map(s => (s.start, s.end))
    val phases = queries.flatMap(_.phases)
    val phaseIv = phases.filter(_._1 != "parsing").map(p => (p._2, p._3))
    def phaseMs(n: String) = phases.filter(_._1 == n).map(p => p._3 - p._2).sum
    val m = Map(
      "sources.calls" -> tracker.size.toDouble,
      "sources.state_calls" -> tracker.count(s => TracingTracker.StateCalls(s.name)).toDouble,
      "sources.ms" -> Intervals.unionLength(trackIv, lo, hi),
      "sql.queries" -> queries.size.toDouble,
      "sql.analysis_ms" -> phaseMs("analysis"),
      "sql.optimization_ms" -> phaseMs("optimization"),
      "sql.planning_ms" -> phaseMs("planning"),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.busy_ms" -> Intervals.unionLength(jobIv, lo, hi),
      "spark.input_mb" -> jobs.map(_.inputB).sum / MB,
      "spark.shuffle_mb" -> jobs.map(_.shuffleB).sum / MB,
      "spark.output_mb" -> jobs.map(_.outputB).sum / MB,
      "driver.gap_ms" -> (wall - Intervals.unionLength(jobIv, lo, hi)),
      "operators.self_ms" -> (wall - Intervals.unionLength(jobIv ++ trackIv ++ phaseIv, lo, hi)),
      "fs.files" -> fs._1.toDouble,
      "fs.data_kb" -> fs._2 / 1024.0,
      "fs.log_kb" -> fs._3 / 1024.0,
      "jvm.gc_ms" -> gcMs,
      "jvm.alloc_mb" -> allocB / MB)
    val commitMs =
      tracker.filter(s => TracingTracker.CommitCalls(s.name)).map(s => s.end - s.start).sum
    m.map { case (k, v) => s"$k.$cls" -> v } ++
      (if (cls == "write") Map("sources.commit_ms.write" -> commitMs) else Map.empty)
  }
}
