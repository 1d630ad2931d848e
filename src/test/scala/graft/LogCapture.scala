package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import scala.jdk.CollectionConverters._

/** Capturing what a logger (and its children) logs at WARN or above, for
  * laws about log lines. */
object LogCapture {

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `LEVEL message` of every event at WARN or above that `loggerName` or
    * a logger below it logs while `body` runs. */
  def warnings(loggerName: String)(body: => Unit): Seq[String] = {
    val logger = LogManager.getLogger(loggerName).asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"graft-log-capture-${seq.incrementAndGet()}",
        null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) {
          seen.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}"); ()
        }
    }
    appender.start()
    logger.addAppender(appender)
    val before = logger.getLevel
    // a JVM that has not started Spark yet logs at log4j's ERROR default
    if (!logger.isEnabled(Level.WARN)) logger.setLevel(Level.WARN)
    try body
    finally {
      logger.removeAppender(appender)
      logger.setLevel(before)
      appender.stop()
    }
    seen.asScala.toSeq
  }
}
