package graft.tools

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender

/**
 * Dev diagnostic (not part of the library): attributes scheduler-level
 * WARN lines — `Broadcasting large task binary` (oversized closures /
 * serialized plan fragments) and `WindowExec: No Partition Defined`
 * (single-partition windows) — to the individual gate query that
 * produced them. The bench tail shows these warnings but not which of
 * the 180+ queries emitted them; this runs each query in isolation with
 * a capturing log4j2 appender and prints a per-query tally.
 *
 * Usage: `sbt "runMain graft.tools.WarnAudit [sfDir [q1,q2,...]]"`
 */
object WarnAudit {

  private val hits = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private final class Capture extends AbstractAppender("graft-warn-capture", null, null, true, null) {
    override def append(e: LogEvent): Unit = {
      val m = e.getMessage.getFormattedMessage
      if (m.contains("Broadcasting large task binary") || m.contains("No Partition Defined"))
        hits.add(m)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val only = if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus(8))

    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val cap = new Capture
    cap.start()
    cfg.getRootLogger.addAppender(cap, Level.WARN, null)
    ctx.updateLoggers()

    val queries = only.fold(graft.SparkEntry.queries)(ns => graft.SparkEntry.queries.filter(kv => ns(kv._1)))
    val sizeRe = """size ([0-9.]+ [KMG]iB)""".r
    queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      hits.clear()
      try {
        fn(spark, sfDir).count()
        val msgs = new java.util.ArrayList(hits)
        if (!msgs.isEmpty) {
          val sizes = msgs.toArray.map(_.toString).flatMap(m => sizeRe.findFirstMatchIn(m).map(_.group(1)))
          val win = msgs.toArray.count(_.toString.contains("No Partition Defined"))
          println(s"WARNAUDIT $name: taskbin=${sizes.length} [${sizes.distinct.mkString(" ")}] window=$win")
        }
      } catch {
        case scala.util.control.NonFatal(e) => println(s"WARNAUDIT $name: ERROR ${e.getClass.getSimpleName}")
      }
    }
    println("WARNAUDIT done")
    spark.stop()
  }
}
