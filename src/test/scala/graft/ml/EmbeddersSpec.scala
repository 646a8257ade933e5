package graft.ml

import java.nio.file.Files
import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The inference seam: surrogate determinism, float32 quantization,
  * and the real `binaryFile` source plumbing (the path q_embed_image
  * runs over an actual image directory). */
class EmbeddersSpec extends SparkTestBase {

  test("hash embedders are deterministic, bounded, and salt-separated") {
    val t = new HashTextEmbedder(64)
    val i = new HashImageEmbedder(64)
    val a = t.embed("hello world")
    assert(a.length === 64)
    assert(a.toSeq === t.embed("hello world").toSeq) // deterministic
    assert(a.forall(x => x >= -0.5f && x < 0.5f))
    assert(a.toSeq !== t.embed("hello worlds").toSeq)
    // Image tower hashes the same bytes into a different space.
    assert(i.embed("hello world".getBytes("UTF-8")).toSeq !== a.toSeq)
  }

  test("h28 is the digest's first 7 hex chars, high-bit bytes included") {
    def hexForm(b: Array[Byte]): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString.take(7), 16)
    val r = new scala.util.Random(42)
    val inputs = Seq(Array.empty[Byte], Array[Byte](-1, -128, 127, 0)) ++
      Seq.fill(500)(Array.fill(r.nextInt(64))(r.nextInt(256).toByte))
    inputs.foreach(b => assert(Embedders.h28(b) === hexForm(b), b.toSeq))
    // Digests whose leading bytes have the high bit set are covered.
    assert(inputs.exists(b => hexForm(b) >= (1L << 27)))
    // The embedders' cloned-prefix hashing equals one hash per salt.
    val text = "naïve café #7 ✓"
    assert(new HashTextEmbedder(64).embed(text).toSeq === (0 until 64).map(i =>
      (Embedders.h28(text + "#" + i).toDouble / 268435456.0 - 0.5).toFloat))
    val bytes = Array[Byte](-1, 0, 65, -128)
    assert(new HashImageEmbedder(64).embed(bytes).toSeq === (0 until 64).map(i =>
      (Embedders.h28(bytes ++ ("#img#" + i).getBytes("UTF-8")).toDouble /
        268435456.0 - 0.5).toFloat))
  }

  test("captioner grounds on metadata and tokenization") {
    val c = new TemplateCaptioner
    assert(c.describe(3, "en", "src1", "Key Agg row") ===
      "doc 3 (en, src1): 3 tokens, starts 'key'")
    assert(c.describe(0, "fr", "s", "") === "doc 0 (fr, s): 0 tokens, starts ''")
  }

  test("binaryFile source feeds the image embedder end to end") {
    val dir = Files.createTempDirectory("graft_bin_")
    Files.write(dir.resolve("a.png"), Array[Byte](1, 2, 3, 4))
    Files.write(dir.resolve("b.png"), Array[Byte](9, 8, 7))
    Files.write(dir.resolve("skip.txt"), Array[Byte](0))
    val s = spark
    import s.implicits._
    val bin = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.png") // A1's suffix predicate (cli.py:41-42)
      .load(dir.toString)
      .select(col("path"), col("content"))
    val embedded = bin.as[(String, Array[Byte])].mapPartitions { rows =>
      val model = new HashImageEmbedder(8) // once per partition
      rows.map { case (p, bytes) => (p, model.embed(bytes)) }
    }.collect().toMap
    assert(embedded.size === 2) // txt filtered out by the glob
    assert(embedded.keys.forall(_.endsWith(".png")))
    val again = new HashImageEmbedder(8).embed(Array[Byte](1, 2, 3, 4))
    assert(embedded.find(_._1.endsWith("a.png")).get._2.toSeq === again.toSeq)
  }
}
