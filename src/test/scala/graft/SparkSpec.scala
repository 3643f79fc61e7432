package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily started). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The local properties of every Spark job `f` starts, in start order. */
  def jobPropertiesOf(f: => Unit): Seq[Properties] =
    eventsOf(f).collect { case e: SparkListenerJobStart =>
      Option(e.properties).getOrElse(new Properties())
    }

  /** Every job start and every SQL or other non-core listener event that
    * `f` causes, in delivery order. Listener events arrive asynchronously,
    * so a sentinel job runs after `f` and its start event marks the point
    * where every earlier one has been delivered. */
  def eventsOf(f: => Unit): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(e)
        ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = {
        seen.add(e)
        ()
      }
    }
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    def isSentinel(e: SparkListenerEvent) = e match {
      case j: SparkListenerJobStart =>
        Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel)
      case _ => false
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(isSentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(isSentinel), "listener bus did not drain")
      seen.asScala.takeWhile(e => !isSentinel(e)).toSeq
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(cores = 4)
}
