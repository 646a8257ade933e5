package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (Test/fork := true
  * gives the suite its own JVM; the session dies with it). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.build("4")
    functions.GraftFunctions.register(s)
    s
  }
}

trait SparkTestBase extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark

  /** Spark jobs started while `body` runs. The listener bus is drained
    * before the listener is added, so earlier work is not counted, and
    * again before the count is read, so every job of `body` is. */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    TestBus.drain(sc)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; TestBus.drain(sc); jobs.get } finally sc.removeSparkListener(l)
  }
}
