package graft

import org.apache.spark.sql.SparkSession

/** What a body of spec code made Spark and the round lifecycle do. */
object Observe {

  /** `body`'s result and the Spark jobs started while it ran. The
    * listener bus delivers asynchronously, so the count settles until
    * no new job arrives for half a second (at most 15 s).
    */
  def jobs[A](spark: SparkSession)(body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val got = body
      var last = -1
      val deadline = System.currentTimeMillis() + 15000
      while (System.currentTimeMillis() < deadline && n.get != last) {
        last = n.get; Thread.sleep(500)
      }
      (got, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** `body`'s result and the `graft.Rounds` DEBUG lines it logged. */
  def rounds[A](body: => A): (A, Seq[String]) =
    log("graft.Rounds", org.apache.logging.log4j.Level.DEBUG)(body)

  /** `body`'s result and the messages logged at `level` or above under
    * `logger` (and its children) while it ran; they are not printed.
    */
  def log[A](logger: String, level: org.apache.logging.log4j.Level)(
      body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("observe-" + logger, null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        lines.add(e.getMessage.getFormattedMessage); ()
      }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = new LoggerConfig(logger, level, false)
    cfg.addAppender(app, level, null)
    ctx.getConfiguration.addLogger(logger, cfg)
    ctx.updateLoggers()
    try {
      val got = body
      import scala.jdk.CollectionConverters._
      (got, lines.asScala.toSeq)
    } finally {
      ctx.getConfiguration.removeLogger(logger)
      ctx.updateLoggers()
      app.stop()
    }
  }
}
