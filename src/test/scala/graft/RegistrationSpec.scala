package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.GraftFunctions

/** The one registration point: `SparkEntry.queries` registers the native
  * functions on the session it is given, once per session, and never
  * replaces an entry (Spark logs every replacement as a warning). */
class RegistrationSpec extends SparkSpec {

  private val Replaced = "replaced a previously registered function"

  /** Run `body`, returning every message logged meanwhile. */
  private def logged(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-log-capture", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(capture)
    try body
    finally { root.removeAppender(capture); capture.stop() }
    seen.asScala.toSeq
  }

  test("a query built twice through SparkEntry.queries on a fresh " +
    "session plans, registers the table once and replaces nothing") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val ids = GraftFunctions.table.map(f => FunctionIdentifier(f._1))
    assert(ids.forall(!reg.functionExists(_)),
      "a new session starts without the native functions")
    val build = SparkEntry.queries("q30_dedup_minhash_lsh")
    val probe = "registration spec: log capture is live"
    val messages = logged {
      LogManager.getLogger(getClass).warn(probe)
      assert(build(s, sf1).queryExecution.executedPlan != null)
      val entries = reg.listFunction().toSet
      val infos = ids.map(reg.lookupFunction(_).get)
      assert(build(s, sf1).queryExecution.executedPlan != null)
      assert(reg.listFunction().toSet === entries, "second build added")
      assert(ids.map(reg.lookupFunction(_).get).zip(infos)
        .forall { case (now, first) => now eq first },
        "second build re-registered a function")
    }
    assert(messages.contains(probe))
    val replaced = messages.filter(_.contains(Replaced))
    assert(replaced.isEmpty, replaced.mkString("\n"))
  }
}
