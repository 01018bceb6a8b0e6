package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local[4] session for all suites (one JVM, Test/fork=true). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Spark jobs submitted from this thread while `body` runs. A marker
    * job submitted afterwards is awaited on the listener bus, which
    * delivers in order, so every job of `body` has been seen by then.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobs.tag"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(s"$tag-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(s"$tag-end"), "listener bus did not deliver the marker job")
      seen.asScala.count(_ == tag)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
