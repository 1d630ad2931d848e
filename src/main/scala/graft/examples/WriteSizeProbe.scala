/** Wall-clock and CPU time of mid-size versioned writes under different
  * cutoffs of the shared writer's one-task rule
  * ([[graft.operators.VersionedTables]]`.writeDataVersioned`). For each
  * input size it times, per cutoff:
  *   - `insert`: a `versionedInsertInto` of an S MB parquet input (8 files)
  *     into one partition;
  *   - `delete`: a rewrite `deleteWhere` of 10% of the rows of a partition
  *     that holds the same S MB in 4 files.
  * A cutoff of `1` byte writes with the input's own layout (no input is
  * that small), i.e. the writer without the rule. Cutoffs alternate in
  * order from rep to rep; the output is one `WRITE_SIZE` line per run
  * and one `WRITE_SIZE_MEDIAN` line per (size, op, cutoff).
  * Usage: `tools/run.sh graft.examples.WriteSizeProbe <confKey>
  *   [sizesMB=1,4,8,32,60] [cutoffs=1,1048576,67108864] [reps=3] [workDir]` */
package graft.examples

import graft.core._
import graft.operators.VersionedDml._
import graft.operators.VersionedTables
import graft.operators.VersionedTables._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File
import java.lang.management.ManagementFactory

object WriteSizeProbe {
  def main(args: Array[String]): Unit = {
    val confKey = args(0)
    val sizesMb = args.lift(1).getOrElse("1,4,8,32,60").split(',').map(_.toInt).toSeq
    val cutoffs = args.lift(2).getOrElse("1,1048576,67108864").split(',').map(_.toLong).toSeq
    val reps = args.lift(3).map(_.toInt).getOrElse(3)
    val work = args.lift(4).map(new File(_))
      .getOrElse(java.nio.file.Files.createTempDirectory("graft-writesize-").toFile)
    work.mkdirs()
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def rowsOf(n: Long) = spark.range(n).select(
      col("id").as("k"), (col("id") * 7).as("v"),
      sha2(col("id").cast("string"), 256).as("pay"), lit("a").as("p"))
    def parquetBytes(dir: File): Long =
      Option(dir.listFiles()).toSeq.flatten.map(f =>
        if (f.isDirectory) parquetBytes(f) else if (f.getName.endsWith(".parquet")) f.length else 0L).sum
    def deleteTree(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteTree)); f.delete(); ()
    }
    def filesUnder(f: File): Int =
      Option(f.listFiles()).toSeq.flatten.map(c =>
        if (c.isDirectory) filesUnder(c) else if (c.getName.endsWith(".parquet")) 1 else 0).sum

    // bytes per row on disk, from a 200k-row sample
    val sample = new File(work, "sample")
    rowsOf(200000).repartition(8).write.parquet(sample.getPath)
    val bytesPerRow = parquetBytes(sample).toDouble / 200000
    deleteTree(sample)

    var seq = 0
    def freshTable(): (VersionedTables, TableDefinition, File) = {
      seq += 1
      val dir = new File(work, s"run$seq")
      val engine = VersionedTables.withFileStore(spark, new File(dir, "store").toURI)
      val table = TableDefinition(TableName("probe", s"t$seq"),
        new File(dir, "t").toURI, PartitionSchema("p"), FileFormat.Parquet)
      engine.initTable(table, UserId("probe"), "init")
      (engine, table, dir)
    }
    def timed(body: => Unit): (Double, Double) = {
      val (w0, c0) = (System.nanoTime(), os.getProcessCpuTime)
      body
      ((System.nanoTime() - w0) / 1e6, (os.getProcessCpuTime - c0) / 1e6)
    }

    val results = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Double, Double)]
    // warm-up: one small insert and delete, untimed
    locally {
      val (engine, table, dir) = freshTable()
      rowsOf(10000).versionedInsertInto(engine, table, UserId("probe"), "warm")
      engine.deleteWhere(table, col("k") % 10 === 0, UserId("probe"), "warm")
      deleteTree(dir)
    }
    sizesMb.foreach { mb =>
      val n = (mb * 1024L * 1024L / bytesPerRow).toLong
      val src = new File(work, s"src$mb")
      rowsOf(n).repartition(8).write.parquet(src.getPath)
      val srcMb = parquetBytes(src) / 1048576.0
      (0 until reps).foreach { rep =>
        val order = if (rep % 2 == 0) cutoffs else cutoffs.reverse
        order.foreach { cutoff =>
          spark.conf.set(confKey, cutoff.toString)
          val (e1, t1, d1) = freshTable()
          val (iw, ic) = timed(spark.read.parquet(src.getPath)
            .versionedInsertInto(e1, t1, UserId("probe"), "insert"))
          val iFiles = filesUnder(new File(t1.location))
          deleteTree(d1)
          spark.conf.unset(confKey)
          val (e2, t2, d2) = freshTable()
          spark.read.parquet(src.getPath).repartition(4)
            .versionedInsertInto(e2, t2, UserId("probe"), "base")
          val before = filesUnder(new File(t2.location))
          spark.conf.set(confKey, cutoff.toString)
          val (dw, dc) = timed(e2.deleteWhere(t2, col("k") % 10 === 0, UserId("probe"), "delete"))
          val dFiles = filesUnder(new File(t2.location)) - before
          deleteTree(d2)
          spark.conf.unset(confKey)
          println(f"WRITE_SIZE size_mb=$srcMb%.1f op=insert cutoff=$cutoff rep=$rep wall_ms=$iw%.0f cpu_ms=$ic%.0f files=$iFiles")
          println(f"WRITE_SIZE size_mb=$srcMb%.1f op=delete cutoff=$cutoff rep=$rep wall_ms=$dw%.0f cpu_ms=$dc%.0f files=$dFiles")
          results += ((mb, "insert", cutoff, iw, ic))
          results += ((mb, "delete", cutoff, dw, dc))
        }
      }
      deleteTree(src)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    for (mb <- sizesMb; op <- Seq("insert", "delete"); cutoff <- cutoffs) {
      val rs = results.filter(r => r._1 == mb && r._2 == op && r._3 == cutoff)
      println(f"WRITE_SIZE_MEDIAN size_mb=$mb op=$op cutoff=$cutoff " +
        f"wall_ms=${median(rs.map(_._4).toSeq)}%.0f cpu_ms=${median(rs.map(_._5).toSeq)}%.0f")
    }
    spark.stop()
  }
}
