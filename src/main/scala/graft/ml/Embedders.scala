package graft.ml

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Batch-inference seam — the engine-side equivalent of the
  * reference's model calls (CLIP image/text encoders at
  * photo_vector_search.py:30-40, Ollama captioning at :42-82).
  *
  * The contract mirrors the reference's load-once discipline
  * (photo_vector_search.py:28 loads CLIP once per store): an
  * implementation is constructed ONCE PER PARTITION inside
  * `mapPartitions` and reused for every row — never per row. A real
  * deployment plugs an ONNX Runtime session or an HTTP client to a
  * model endpoint behind the same trait; the shipped implementations
  * are deterministic hash surrogates so the pipeline is hermetic and
  * DuckDB-verifiable end to end (SURVEY §7.5).
  */
trait TextEmbedder extends Serializable {
  def dim: Int
  def embed(text: String): Array[Float]
  /** Batch seam for remote/accelerated models: the whole partition
    * iterator goes in, embeddings come out IN ORDER, lazily — an
    * implementation may group rows into request batches
    * (HttpTextEmbedder does). Default: row-at-a-time. */
  def embedAll(texts: Iterator[String]): Iterator[Array[Float]] =
    texts.map(embed)
}

trait ImageEmbedder extends Serializable {
  def dim: Int
  /** `content` is the raw file bytes (binaryFile `content` column). */
  def embed(content: Array[Byte]): Array[Float]
}

trait Captioner extends Serializable {
  def describe(docId: Long, lang: String, source: String, text: String): String
}

object Embedders {
  // MessageDigest is NOT thread-safe; one instance per call (or per
  // row, cloned per salt) is the simple executor-safe choice.
  private def md5(): MessageDigest = MessageDigest.getInstance("MD5")

  /** The digest's top 28 bits, which are its first 7 hex chars. */
  private def top28(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) | ((d(2) & 0xffL) << 4) |
      ((d(3) & 0xffL) >>> 4)

  /** 28-bit hash = first 7 md5 hex chars — bit-for-bit the TextKit
    * SQL twin `conv(substr(md5(x),1,7),16,10)`. */
  def h28(bytes: Array[Byte]): Long = top28(md5().digest(bytes))
  def h28(s: String): Long = h28(s.getBytes(UTF_8))

  /** `h28(prefix ++ i.toString)` for i in [0, n): the shared prefix is
    * hashed once and its digest state cloned for each index. */
  private[ml] def h28Salted(prefix: Array[Byte], n: Int): Array[Long] = {
    val head = md5()
    head.update(prefix)
    Array.tabulate(n) { i =>
      val d = head.clone().asInstanceOf[MessageDigest]
      top28(d.digest(i.toString.getBytes(UTF_8)))
    }
  }

  /** Conf-switched embedder selection — the production seam the
    * embedding queries compose (reference boundary: the Ollama HTTP
    * client, photo_vector_search.py:42-82). The factory is resolved
    * ON THE DRIVER at plan-build time from session conf and returns
    * a serializable constructor invoked once per partition:
    *
    *   spark.graft.embedder              surrogate (default) | http | onnx
    *   spark.graft.embedder.endpoint     required for http
    *   spark.graft.embedder.batchSize    rows per HTTP request (32)
    *   spark.graft.embedder.minIntervalMs per-partition rate limit (0)
    *   spark.graft.embedder.model        required for onnx (model path)
    *
    * Default is the verified hash surrogate, so CORRECTNESS output
    * is unchanged unless a user opts into a real endpoint
    * (HttpEmbedderSpec drives q_embed_text through a live local
    * server to prove the http path composes into the same plan). */
  def textEmbedderFactory(s: org.apache.spark.sql.SparkSession,
      dim: Int): () => TextEmbedder =
    s.conf.get("spark.graft.embedder", "surrogate") match {
      case "http" =>
        val endpoint = s.conf.get("spark.graft.embedder.endpoint")
        val batch = s.conf.get("spark.graft.embedder.batchSize", "32").toInt
        val interval = s.conf.get("spark.graft.embedder.minIntervalMs", "0").toLong
        () => new HttpTextEmbedder(endpoint, dim, batch, minIntervalMs = interval)
      case "onnx" =>
        val model = s.conf.get("spark.graft.embedder.model")
        () => new OnnxTextEmbedder(model, dim)
      case "surrogate" => () => new HashTextEmbedder(dim)
      case other => throw new IllegalArgumentException(
        s"spark.graft.embedder must be surrogate|http|onnx, got '$other'")
    }
}

/** Deterministic text-embedding surrogate: component i is a
  * hash-seeded uniform in [-0.5, 0.5), quantized to float32 exactly
  * as a real model head would emit. */
final class HashTextEmbedder(val dim: Int = 64) extends TextEmbedder {
  def embed(text: String): Array[Float] =
    Embedders.h28Salted((text + "#").getBytes(UTF_8), dim)
      .map(h => (h.toDouble / 268435456.0 - 0.5).toFloat)
}

/** Deterministic image-embedding surrogate over raw bytes. The decode
  * / resize / re-encode stage of a real pipeline (PIL preprocess,
  * photo_vector_search.py:85-92, ≤1024px bound) would run here before
  * the model forward; the surrogate hashes the bytes directly (a
  * distinct "#img#" salt keeps image- and text-space embeddings
  * deliberately incomparable, like the reference's separate CLIP
  * towers). */
final class HashImageEmbedder(val dim: Int = 64) extends ImageEmbedder {
  def embed(content: Array[Byte]): Array[Float] =
    Embedders.h28Salted(content ++ "#img#".getBytes(UTF_8), dim)
      .map(h => (h.toDouble / 268435456.0 - 0.5).toFloat)
}

/** Deterministic captioner surrogate (Ollama stand-in,
  * photo_vector_search.py:42-82): a metadata-grounded template. */
final class TemplateCaptioner extends Captioner {
  def describe(docId: Long, lang: String, source: String, text: String): String = {
    val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
    val head = if (toks.nonEmpty) toks(0) else ""
    s"doc $docId ($lang, $source): ${toks.length} tokens, starts '$head'"
  }
}
