package graft.pipeline

import org.apache.logging.log4j.{Level, LogManager, Marker}
import org.apache.logging.log4j.core.{Filter, LogEvent, Logger, LoggerContext}
import org.apache.logging.log4j.core.filter.AbstractFilter
import org.apache.logging.log4j.message.Message

/** Drops Spark's `CodeGenerator` log events raised on the calling thread
  * while [[apply]]'s body runs. A failed compile there is the fence
  * probe's expected answer, and Spark logs each one at ERROR with the
  * whole janino trace (~170 lines per healthy fenced run). Events from
  * other threads and other loggers pass untouched, and no logger's level
  * changes. The filter is in the logging configuration only while some
  * body runs, so logging costs nothing extra outside the probe. Without
  * log4j 2 core as the logging backend the body runs unfiltered. */
private[pipeline] object CodegenLogMute {
  private val CodeGen = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val muted = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private var running = 0 // bodies in flight, guarded by this

  private object ThreadFilter extends AbstractFilter(Filter.Result.DENY, Filter.Result.NEUTRAL) {
    start()
    private def decide(logger: String): Filter.Result =
      if (muted.get && logger == CodeGen) onMatch else onMismatch
    override def filter(e: LogEvent): Filter.Result = decide(e.getLoggerName)
    override def filter(l: Logger, lv: Level, m: Marker, msg: Message, t: Throwable): Filter.Result =
      decide(l.getName)
    override def filter(l: Logger, lv: Level, m: Marker, msg: AnyRef, t: Throwable): Filter.Result =
      decide(l.getName)
    override def filter(l: Logger, lv: Level, m: Marker, msg: String, ps: AnyRef*): Filter.Result =
      decide(l.getName)
  }

  def apply[T](body: => T): T = LogManager.getContext(false) match {
    case ctx: LoggerContext =>
      val cfg = ctx.getConfiguration
      synchronized { if (running == 0) cfg.addFilter(ThreadFilter); running += 1 }
      muted.set(true)
      try body finally {
        muted.set(false)
        synchronized { running -= 1; if (running == 0) cfg.removeFilter(ThreadFilter) }
      }
    case _ => body
  }
}
