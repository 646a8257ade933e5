package graft

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}

/** One shared local session for the whole test JVM (Test/fork := true
  * gives the suite its own JVM; the session dies with it). A spec that
  * stops it gets a fresh one, built the same way, on the next call. */
object TestSpark {
  private var session: SparkSession = _

  def spark: SparkSession = synchronized {
    if (session == null || session.sparkContext.isStopped) {
      session = Sessions.build("4")
      functions.GraftFunctions.register(session)
    }
    session
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

  /** Runs `body` with the session setting `key` = `value`, then unsets it. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  /** Runs `body` with whole-stage codegen off and expressions
    * interpreted, then restores both settings to what they were. */
  def interpreted[T](body: => T): T = {
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** `body`'s result and what it printed to `System.err`. */
  def capturingErr[T](body: => T): (T, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val orig = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val r = try body finally System.setErr(orig)
    (r, buf.toString("UTF-8"))
  }

  /** Whether `df` pairs vectors on the ann route: its plan carries the
    * route's candidate filter. */
  def annRouted(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("min_common_long")

  def tmpDir(): String = Files.createTempDirectory("graft_spec_").toString

  /** A copy of the fixture directory `d`, one file per table. */
  def copyOf(d: String): String = {
    val out = tmpDir()
    new java.io.File(d).listFiles().foreach(f =>
      Files.copy(f.toPath, Paths.get(out, f.getName)))
    out
  }

  /** Writes `df` as `d`'s `table`: one parquet file at
    * `d/table.parquet`, replacing what is there. */
  def writeOneFile(df: DataFrame, d: String, table: String): Unit = {
    val staging = s"${tmpDir()}/t"
    df.coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(part.length === 1)
    Files.copy(part.head.toPath, Paths.get(s"$d/$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** A fixture directory whose documents table is one parquet file:
    * 40 seeded clusters of 5 texts, each a 30-word base with 0-4 words
    * replaced, so every cluster holds pairs above and below τ = 0.6. */
  def clusteredCorpus(): String = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val bases = (0 until 40).map(_ => Seq.fill(30)("w" + rnd.nextInt(5000)))
    val docs = (0 until 200).map { i =>
      val w = bases(i / 5).toArray
      (0 until i % 5).foreach(_ => w(rnd.nextInt(w.length)) = "v" + rnd.nextInt(5000))
      (i.toLong, w.mkString(" "))
    }.toDF("doc_id", "text")
    val d = tmpDir()
    writeOneFile(docs, d, "documents")
    d
  }

  /** The Spark jobs of `body` that build the `kind` artefact of the
    * documents table under `d` (see `Tables.pinned`). */
  def buildJobs(d: String, kind: String)(body: => Any): Int =
    jobDescriptionsDuring(body).count(_ == s"graft $kind $d/documents.parquet")

  /** Rewrites `d`'s `table` at the same path, as one file holding the
    * rows with an even `id`. */
  def rewriteHalf(d: String, table: String, id: String): Unit = {
    import org.apache.spark.sql.functions.col
    writeOneFile(spark.read.parquet(s"$d/$table.parquet").filter(col(id) % 2 === 0), d, table)
  }
}
