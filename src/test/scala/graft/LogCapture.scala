package graft

/** Captures what the named log4j loggers emit while a block runs — the
  * specs' way to assert that a code path logs no warning.
  */
object LogCapture {

  /** Run `body` with an appender on each of `loggerNames`; returns the
    * body's result and the formatted messages logged meanwhile.
    */
  def during[T](loggerNames: String*)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import scala.jdk.CollectionConverters._
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
        s"graft-capture-${java.util.UUID.randomUUID()}", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val loggers = loggerNames.map(
      org.apache.logging.log4j.LogManager.getLogger(_).asInstanceOf[Logger])
    loggers.foreach(_.addAppender(capture))
    val result =
      try body
      finally {
        loggers.foreach(_.removeAppender(capture))
        capture.stop()
      }
    (result, lines.asScala.toSeq)
  }
}
