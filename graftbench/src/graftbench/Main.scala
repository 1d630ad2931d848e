package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/**
 * Entry point of one benchmark run (launched by graftbench/run.py):
 *
 *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *     --selftest <0|1> --cpus <n> --workdir <dir> --tracedir <dir>
 *
 * Set-up (create, load, build history) runs once on a fresh table, then
 * the workload's warm-up rounds, then whole rounds for `--seconds`, at least
 * two. Every time metric is CPU time, which leaves out time spent waiting
 * for a CPU: each operation's is what all Java threads ran during its call, and
 * `setup_s` is the process's CPU time from JVM start to the first timed
 * operation. Wall times go to the detail line.
 * Writes `result.json` and `detail.json` into the work dir.
 */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val workload = a("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val selftest = a("selftest") == "1"
    val work = Paths.get(a("workdir"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(a("cpus").toInt, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sessionCpuS = Jvm.processCpuS
    val tracer = if (traced) Some(new Tracer) else None
    val recorder = if (traced) Some(new SparkRecorder(spark)) else None
    recorder.foreach(_.install())
    val runner = new Runner(tracer, recorder)

    // ---- set-up on a fresh table, then warm-up ----
    var fsPrev: FsState = null
    val t0 = System.nanoTime()
    val bench = Workloads(workload, new Ctx(spark, seed, work.resolve("data"), runner, tracer, selftest))
    bench.setup()
    val tableS = (System.nanoTime() - t0) / 1e9
    val tableCpuS = Jvm.processCpuS - sessionCpuS
    def propertyCheck(): Unit = {
      val now = bench.fs()
      if (fsPrev != null) {
        if (now.bytes < fsPrev.bytes) runner.propertyFailed(s"bytes on disk shrank: ${fsPrev.bytes} -> ${now.bytes}")
        if (!fsPrev.versionDirs.subsetOf(now.versionDirs))
          runner.propertyFailed(s"_version= directories vanished: ${(fsPrev.versionDirs -- now.versionDirs).take(3)}")
      }
      fsPrev = now
    }
    propertyCheck()
    runner.fsProbe = () => bench.fs()
    val (fsStart, rowsStart) = (bench.fs(), bench.userRows)
    val w = System.nanoTime()
    val warmup = if (selftest) 1 else bench.warmupRounds
    for (r <- 0 until warmup) { bench.round(r); propertyCheck() }
    val warmS = (System.nanoTime() - w) / 1e9

    // ---- timed window: whole rounds until --seconds have passed, at least two ----
    val minRounds = if (selftest) 1 else 2
    var bytesRatio = 0.0
    runner.timing = true
    val firstOpS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val setupCpuS = Jvm.processCpuS
    val w0 = System.nanoTime()
    var rounds = 0
    val roundMs = mutable.ArrayBuffer.empty[Double]
    while (rounds < minRounds || (!selftest && (System.nanoTime() - w0) / 1e9 < seconds)) {
      rounds += 1
      val before = runner.latencies.values.map(_.sum).sum
      bench.round(warmup + rounds - 1)
      roundMs += runner.latencies.values.map(_.sum).sum - before
      propertyCheck()
      // The warm-up and the window's first two rounds: a fixed sequence of
      // operations. A ratio over the whole window, or the whole table, drifts
      // with the number of rounds a run completes, since checkpoints and
      // refolds fall in some rounds only.
      if (rounds == minRounds)
        bytesRatio = (bench.fs().bytes - fsStart.bytes).toDouble /
          ((bench.userRows - rowsStart) * Gen.UserRowBytes)
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    runner.timing = false

    System.gc(); Thread.sleep(300); System.gc() // the pause lets Spark's cleaner drop what the first GC freed
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val lat = runner.cpu
    val wall = runner.latencies
    val opMs = wall.values.flatten.sum
    val ops = lat.values.map(_.size).sum

    val metrics: Seq[(String, Double, String)] =
      if (traced)
        Layers.all.map { case (name, unit) =>
          val cls = name.split('.').last
          val n = runner.tracedOps(cls)
          (name, if (n == 0) 0.0 else runner.layerSums(name) / n, unit)
        }
      else Seq(
        ("setup_s", setupCpuS, "s"),
        ("ops_per_cpu_s", ops / (lat.values.flatten.sum / 1000), "1/s"),
        ("write_cpu_p50_ms", median(lat("write").toSeq), "ms"),
        ("read_cpu_p50_ms", median(lat("read").toSeq), "ms"),
        ("travel_cpu_p50_ms", median(lat("travel").toSeq), "ms"),
        ("meta_cpu_p50_ms", median(lat("meta").toSeq), "ms"),
        ("bytes_per_user_byte", bytesRatio, "ratio"),
        ("heap_mb", heapMb, "MB"))

    val result = s"""{"correct": ${runner.wrong == 0}, "attempted": ${runner.attempted}, """ +
      s""""failed": ${runner.failed}, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") + "}}"
    val latencyDetail = lat.toSeq.sortBy(_._1).map { case (c, xs) =>
      val tail = tailPercentile(xs.toSeq).map { case (p, v) => s""", "tail": "p$p", "cpu_tail_ms": ${num(v)}""" }
      s""""$c": {"n": ${xs.size}, "cpu_p50_ms": ${num(median(xs.toSeq))}${tail.getOrElse("")}, """ +
        s""""wall_p50_ms": ${num(median(wall(c).toSeq))}}"""
    }.mkString(", ")
    val detail = s"""{"detail": {"workload": "$workload", "seed": $seed, "trace": $traced, """ +
      s""""session_s": ${num(sessionS)}, "table_s": ${num(tableS)}, "warmup_s": ${num(warmS)}, "first_op_s": ${num(firstOpS)}, """ +
      s""""session_cpu_s": ${num(sessionCpuS)}, "table_cpu_s": ${num(tableCpuS)}, "op_p50_ms": {${runner.byName.toSeq.sortBy(_._1).map { case (n, xs) =>
        s""""$n": ${num(median(xs.toSeq))}""" }.mkString(", ")}}, """ +
      s""""rounds": $rounds, "round_ops_ms": [${roundMs.map(num).mkString(", ")}], "window_s": ${num(windowS)}, "ops_ms": ${num(opMs)}, """ +
      s""""ops_per_s": ${num(ops / windowS)}, """ +
      s""""cpus": ${a("cpus")}, "latency": {$latencyDetail}, """ +
      s""""wrong_by_class": {${runner.wrongByClass.toSeq.sorted.map { case (c, n) => s""""$c": $n""" }.mkString(", ")}}, """ +
      s""""failures": [${runner.messages.map(m => jsonString(m)).mkString(", ")}]}}"""
    write(work.resolve("detail.json"), detail)
    write(work.resolve("result.json"), result)

    if (traced) {
      val dir = Paths.get(a("tracedir"))
      Files.createDirectories(dir)
      write(dir.resolve(s"trace-$workload-$seed.jsonl"), runner.spans.map { s =>
        s"""{"op": ${s.op}, "layer": "${s.layer}", "name": ${jsonString(s.name)}, """ +
          s""""start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}}"""
      }.mkString("", "\n", "\n"))
    }
    spark.stop()
    if (selftest) {
      val caught = Seq("read", "travel", "meta").filter(runner.wrongByClass(_) > 0)
      System.err.println(s"selftest: wrong answers caught in ${caught.mkString(", ")}")
      System.exit(if (caught.size == 3) 0 else 3)
    }
  }

  private def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalogPlugin")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      // keep little job/query status: the heap after GC then reflects graft
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest of p75/p90/p95/p99 with at least ten samples beyond it
    * (nearest rank); none below forty samples. */
  def tailPercentile(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 40) None
    else Seq(99, 95, 90, 75).find(p => xs.size * (100 - p) / 100.0 >= 10).map { p =>
      val s = xs.sorted
      (p, s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""

  private def write(p: Path, s: String): Unit = { Files.write(p, s.getBytes(StandardCharsets.UTF_8)); () }
}
