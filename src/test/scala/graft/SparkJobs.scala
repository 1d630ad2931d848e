package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Counting the Spark jobs a piece of driver code starts, for job-count
  * laws. */
object SparkJobs {

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Call sites of the Spark jobs `body` starts (its own thread and the
    * threads that inherit its job group, such as broadcast builders). */
  def of(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"graft-job-count-${seq.incrementAndGet()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the result stage is created last and is named after the job's call site
        val site = e.stageInfos.maxBy(_.stageId).name
        seen.add((Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull, site))
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count law")
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once a marker job started after
      // the body is seen, so are all of the body's jobs
      sc.setJobGroup(s"$group-end", "job count marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_._1 == s"$group-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      require(seen.asScala.exists(_._1 == s"$group-end"),
        "the listener did not see the marker job within 30 s")
    } finally sc.removeSparkListener(listener)
    seen.asScala.collect { case (g, site) if g == group => site }.toSeq
  }
}
