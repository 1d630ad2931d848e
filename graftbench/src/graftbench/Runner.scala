package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Files under the table and its version store: counts, bytes, and the set
  * of `_version=` directories. */
final case class FsState(files: Long, tableBytes: Long, storeBytes: Long, versionDirs: Set[String]) {
  def bytes: Long = tableBytes + storeBytes
}

object Fs {
  private def walk(root: Path, dirs: mutable.Set[String]): (Long, Long) = {
    var files = 0L; var bytes = 0L
    if (Files.exists(root)) Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult = {
        if (d.getFileName.toString.startsWith("_version=")) dirs += root.relativize(d).toString
        FileVisitResult.CONTINUE
      }
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        files += 1; bytes += a.size(); FileVisitResult.CONTINUE
      }
    })
    (files, bytes)
  }

  def walk(table: Path, store: Path): FsState = {
    val dirs = mutable.Set.empty[String]
    val (tf, tb) = walk(table, dirs)
    val (sf, sb) = walk(store, dirs)
    FsState(tf + sf, tb, sb, dirs.toSet)
  }
}

object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  def gcMs: Double = gcs.map(_.getCollectionTime.max(0L)).sum.toDouble
  def allocBytes: Double = threads.getTotalThreadAllocatedBytes.toDouble
  private val os =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process since it started (s), at the kernel's
    * 10 ms accounting granularity: every thread, GC and JIT included. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  /** CPU time of every live Java thread (ns), as parallel arrays of thread
    * ids and times. The clock is the scheduler's per-thread run time, which
    * leaves out time spent waiting to run and time the host took the CPU
    * away from the VM (steal). */
  def cpuByThread(): (Array[Long], Array[Long]) = {
    val ids = threads.getAllThreadIds
    (ids, threads.getThreadCpuTime(ids))
  }

  /** CPU time (ms) all Java threads ran since `before`; a thread started
    * since counts from zero, one that ended since is lost. GC and
    * JIT-compiler threads are not Java threads and are left out. */
  def cpuMsSince(before: (Array[Long], Array[Long])): Double = {
    val (ids0, ns0) = before
    val was = new mutable.LongMap[Long](ids0.length)
    for (i <- ids0.indices if ns0(i) >= 0) was(ids0(i)) = ns0(i)
    val (ids, ns) = cpuByThread()
    var sum = 0L
    for (i <- ids.indices if ns(i) >= 0) sum += ns(i) - was.getOrElse(ids(i), 0L)
    sum / 1e6
  }
}

/**
 * Times and checks operations. An operation is the call into graft (`act`,
 * timed) and the check of its answer against the model (`check`, untimed).
 * A call that throws, or whose check fails, counts as failed; a failed
 * check also marks the run incorrect. Latencies are kept per operation
 * class only while `timing` is on. In a traced run every operation is also
 * a span with child spans for tracker calls, Spark jobs and planning
 * phases, and its per-layer figures are accumulated per class.
 */
final class Runner(tracer: Option[Tracer], recorder: Option[SparkRecorder]) {
  var attempted = 0L
  var failed = 0L
  val wrongByClass: mutable.Map[String, Int] = mutable.Map.empty[String, Int].withDefaultValue(0)
  val messages = mutable.ArrayBuffer.empty[String]
  var timing = false
  /** Where the traced run walks the file system (set per workload instance). */
  var fsProbe: () => FsState = () => FsState(0, 0, 0, Set.empty)

  /** Wall time (ms) of each timed operation, per class. */
  val latencies: Map[String, mutable.ArrayBuffer[Double]] =
    Layers.Classes.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
  /** CPU time (ms) of the same operations, per class. */
  val cpu: Map[String, mutable.ArrayBuffer[Double]] =
    Layers.Classes.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
  /** The CPU samples keyed by `<class>/<operation name>`. */
  val byName = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val layerSums: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val tracedOps: mutable.Map[String, Int] = mutable.Map.empty[String, Int].withDefaultValue(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var seq = 0
  private var lastFs: Option[FsState] = None

  def wrong: Int = wrongByClass.values.sum

  private def fail(cls: String, name: String, e: Throwable, isWrong: Boolean): Unit = {
    failed += 1
    if (isWrong) wrongByClass(cls) += 1
    if (messages.size < 20) messages += s"$cls/$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
    if (!isWrong) e.printStackTrace()
  }

  def op[A](cls: String, name: String)(act: => A)(check: A => Unit): Unit = {
    attempted += 1
    seq += 1
    val traced = tracer.isDefined && timing
    val fs0 = if (traced) lastFs.getOrElse(fsProbe()) else null
    val (gc0, al0) = if (traced) (Jvm.gcMs, Jvm.allocBytes) else (0.0, 0.0)
    if (traced) tracer.get.begin(seq)
    val c0 = if (timing) Jvm.cpuByThread() else null
    val s0 = Clock.nowMs
    val t0 = System.nanoTime()
    val res = try Right(act) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = if (timing) Jvm.cpuMsSince(c0) else 0.0
    val s1 = Clock.nowMs
    if (traced) {
      tracer.get.end()
      val (gc1, al1) = (Jvm.gcMs, Jvm.allocBytes)
      val (jobs, queries) = recorder.get.drain()
      val lo = math.floor(s0)
      val opJobs = jobs.filter(j => j.start >= lo && j.start <= s1)
      val opQueries = queries.filter(q => q.at >= lo && q.at <= s1)
      val trackerSpans = tracer.get.takeTrackerSpans()
      val fs1 = fsProbe()
      lastFs = Some(fs1)
      val opSpan = Span(seq, "op", s"$cls/$name", s0, s1)
      spans += opSpan
      spans ++= trackerSpans
      spans ++= opJobs.map(j => Span(seq, "spark", s"job ${j.id}", j.start, j.end))
      spans ++= opQueries.flatMap(_.phases.map { case (n, a, b) => Span(seq, "sql", n, a, b) })
      val fsDelta = (fs1.files - fs0.files, fs1.tableBytes - fs0.tableBytes,
        fs1.storeBytes - fs0.storeBytes)
      tracedOps(cls) += 1
      Layers.of(cls, opSpan, trackerSpans, opJobs, opQueries, fsDelta, gc1 - gc0, al1 - al0)
        .foreach { case (k, v) => layerSums(k) += v }
    }
    res match {
      case Left(e) => fail(cls, name, e, isWrong = false)
      case Right(a) =>
        try {
          check(a)
          if (timing) {
            latencies(cls) += ms
            cpu(cls) += cpuMs
            byName.getOrElseUpdate(s"$cls/$name", mutable.ArrayBuffer.empty) += cpuMs
          }
        } catch {
          case e: CheckFailed => fail(cls, name, e, isWrong = true)
          case NonFatal(e) => fail(cls, name, e, isWrong = false)
        }
    }
  }

  /** Record a failed property check that is not tied to one operation. */
  def propertyFailed(what: String): Unit = fail("write", "property", new CheckFailed(what), isWrong = true)
}
