package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions.cosine_distance

/** Kernel-only cost of `cosine_distance`, in CPU ns per pair: a job
  * over a cached frame of generated vector pairs (every row of A against
  * a broadcast B), minus the same job reading both arrays without the
  * kernel. */
object Kernel {
  def cosineNsPerPair(run: Run, vecs: Array[Array[Double]]): Double = {
    val s = run.spark
    val (na, nb) = (16384, 512)
    def frame(n: Int, name: String, off: Int) = s.createDataFrame(
      s.sparkContext.parallelize((0 until n).map(i => Row(vecs((i + off) % vecs.length).toSeq)),
        run.cpus.toInt), StructType(Seq(StructField(name, ArrayType(DoubleType, false))))).cache()
    val a = frame(na, "a", 0); val b = frame(nb, "b", 7)
    a.count(); b.count()
    def time(c: org.apache.spark.sql.Column): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      run.span("kernel_job", "graft.functions")(
        a.crossJoin(broadcast(b)).select(sum(c)).collect())
      (System.nanoTime() - t0).toDouble
    })
    val kernel = time(cosine_distance(col("a"), col("b")))
    val base = time(element_at(col("a"), 1) * element_at(col("b"), 1))
    a.unpersist(); b.unpersist()
    math.max(0.0, (kernel - base) * run.cpus.toDouble / (na.toDouble * nb))
  }
}
