package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every table follows the schemas and value
  * domains of FIXTURES.md (64-d FLOAT embeddings, `label` 0-9, the five
  * langs, `src0`-`src19`), so every registry key stays valid on them.
  *
  * Each (workload, seed, size) gets a fresh directory whose basename is
  * unique within the process: the engine keys the IVF index table on the
  * directory basename (`graft_ivf_<basename>`) and memoizes the
  * documents row count per path, so a reused basename in one JVM would
  * serve a stale index or count. */
object Gen {
  val Dim = 64
  val Langs = Array("en", "fr", "de", "es", "zh")

  val docSchema = StructType(Seq(
    StructField("doc_id", LongType, false), StructField("text", StringType, false),
    StructField("lang", StringType, false), StructField("source", StringType, false),
    StructField("n_chars", LongType, false)))
  val embSchema = StructType(Seq(
    StructField("vec_id", LongType, false),
    StructField("embedding", ArrayType(FloatType, false), false),
    StructField("label", IntegerType, false)))

  final case class Doc(id: Long, text: String, lang: String, source: String)

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "te", "vi",
    "bo", "da", "fe", "gu", "ha", "ji", "po", "ze", "qu", "xo", "wy", "ce")

  /** A vocabulary of `n` distinct lowercase pseudo-words. */
  def vocabulary(n: Int): Array[String] =
    Array.tabulate(n) { i =>
      var x = i; val sb = new StringBuilder
      do { sb.append(syllables(x % syllables.length)); x /= syllables.length }
      while (x > 0)
      sb.append(syllables((i * 7) % syllables.length)).toString
    }

  def words(r: Random, vocab: Array[String], lo: Int, hi: Int): Array[String] =
    Array.fill(lo + r.nextInt(hi - lo + 1))(vocab(r.nextInt(vocab.length)))

  def doc(r: Random, id: Long, text: String): Doc =
    Doc(id, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}")

  def gaussian(r: Random): Array[Float] = Array.fill(Dim)(r.nextGaussian().toFloat)

  /** `base` plus isotropic noise of relative scale `eps`: cosine
    * similarity to the base is about 1 / sqrt(1 + eps^2). */
  def perturb(r: Random, base: Array[Float], eps: Double): Array[Float] =
    base.map(x => (x + eps * r.nextGaussian()).toFloat)

  def freshDir(work: String, tag: String): String = {
    val d = new File(work, s"in/$tag-${System.nanoTime()}")
    require(d.mkdirs(), s"cannot create input directory $d")
    d.getPath
  }

  def writeDocs(s: SparkSession, dir: String, docs: Seq[Doc]): Unit =
    s.createDataFrame(s.sparkContext.parallelize(docs.map(d =>
        Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 1), docSchema)
      .write.parquet(s"$dir/documents.parquet")

  def writeEmbeddings(s: SparkSession, dir: String,
      vecs: Seq[(Long, Array[Float], Int)], files: Int = 1): Unit =
    s.createDataFrame(s.sparkContext.parallelize(vecs.map { case (id, v, l) =>
        Row(id, v.toSeq, l) }, files), embSchema)
      .write.parquet(s"$dir/embeddings.parquet")

  /** Corpus of `n` documents with `lo`-`hi` words each. */
  def corpus(r: Random, n: Int, vocab: Array[String], lo: Int, hi: Int): Seq[Doc] =
    (0L until n).map(i => doc(r, i, words(r, vocab, lo, hi).mkString(" ")))

  /** Word 3-shingle set of a text, as the dedup operators define it:
    * lowercase, split on single spaces, empty tokens dropped. */
  def shingles(text: String): Set[String] = {
    val w = text.toLowerCase.split(" ").filter(_.nonEmpty)
    if (w.length < 3) Set.empty
    else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val ix = a.intersect(b).size.toDouble
    graft.plans.IvfIndex.r6(ix / (a.size + b.size - ix))
  }

  /** Kernel-order cosine distance (same accumulation order and final
    * form as graft.functions.CosineDistance), 6-dp rounded as the
    * engine's queries round it. */
  def cosDist(a: Array[Double], b: Array[Double]): Double = graft.plans.IvfIndex.r6(cosRaw(a, b))

  /** Unrounded kernel-order cosine distance. */
  def cosRaw(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    1.0 - dot / math.sqrt(na * nb)
  }

  def toD(v: Array[Float]): Array[Double] = v.map(_.toDouble)

  /** Replace `k` random word positions of `w` with random words. */
  def mutate(r: Random, w: Array[String], vocab: Array[String], k: Int): Array[String] = {
    val out = w.clone()
    (0 until k).foreach(_ => out(r.nextInt(out.length)) = vocab(r.nextInt(vocab.length)))
    out
  }

  /** Planted cluster sizes cycling 2, 3, 4, 5 until `share` of `n` items
    * is covered: the seed varies the content, never the amount of work. */
  def clusterSizes(n: Int, share: Double): Seq[Int] = {
    val out = ArrayBuffer.empty[Int]; var covered = 0
    while (covered < share * n) { val c = 2 + out.length % 4; out += c; covered += c }
    out.toSeq
  }
}
