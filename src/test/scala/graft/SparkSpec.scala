package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily started). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The local properties of every Spark job `f` starts, in start order.
    * Listener events arrive asynchronously, so a sentinel job runs after
    * `f` and its start event marks the point where every earlier one has
    * been delivered. */
  def jobPropertiesOf(f: => Unit): Seq[Properties] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties).getOrElse(new Properties()))
        ()
      }
    }
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    def isSentinel(p: Properties) = p.getProperty("spark.jobGroup.id") == sentinel
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(isSentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(isSentinel), "listener bus did not drain")
      seen.asScala.takeWhile(p => !isSentinel(p)).toSeq
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(cores = 4)
}
