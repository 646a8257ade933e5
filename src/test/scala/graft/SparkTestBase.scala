package graft

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
  def jobsDuring(body: => Any): Int = jobDescriptionsDuring(body).size

  /** The description (`spark.job.description`, "" when unset) of each
    * Spark job started while `body` runs, drained as in [[jobsDuring]]. */
  def jobDescriptionsDuring(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    TestBus.drain(sc)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      body; TestBus.drain(sc)
      scala.jdk.CollectionConverters.IteratorHasAsScala(jobs.iterator).asScala.toSeq
    } finally sc.removeSparkListener(l)
  }
}
