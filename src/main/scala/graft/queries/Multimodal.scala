package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.{Embedders, SurrogateMediaDecoder}
import TextKit.h28Duck

/** Multimodal-column operators: media as opaque binary + typed
  * metadata, with decode / feature-extract / frame-sample running in
  * the per-partition decoder seam (graft.ml.MediaDecoder). Payloads
  * in the harness are the documents' text bytes so DuckDB can
  * reproduce every "decoded" value; a real deployment points the
  * identical plumbing at image/video files via the binaryFile source
  * (see EmbeddersSpec's end-to-end binaryFile test).
  */
object Multimodal {

  val qs: Seq[Q] = Seq(

    // Decode + feature extraction: binary content → typed media
    // metadata columns (the A2 preprocess surface as a first-class
    // operator rather than a hidden step).
    Q("q_media_meta",
      s"""SELECT doc_id,
         |  CAST(${h28Duck("text")} % 1024 + 1 AS INT) AS width,
         |  CAST((${h28Duck("text")} // 1024) % 1024 + 1 AS INT) AS height,
         |  CASE WHEN length(text) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
         |  CAST(length(text) AS BIGINT) AS n_bytes
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val bin = fanout(Tables.documents(s, d))
        .select(col("doc_id"), col("text").cast("binary").as("content"))
      bin.as[(Long, Array[Byte])].mapPartitions { rows =>
        val dec = new SurrogateMediaDecoder // once per partition
        rows.map { case (id, bytes) =>
          val m = dec.meta(bytes)
          (id, m.width, m.height, m.format, m.nBytes)
        }
      }.toDF("doc_id", "width", "height", "format", "n_bytes")
        .orderBy("doc_id")
    },

    // Frame sampling: every 4th complete 32-byte "frame" of the
    // payload, one output row per sampled frame with its content
    // hash — the video-pipeline shape (decode → evenly-spaced sample
    // → per-frame featurize), scan-local until the final sort.
    // DECLARED clip bound: both sides sample the first 32 KiB
    // (1024 frames) of the payload — the engine truncates its input
    // to the same literal the oracle's range() domain encodes, so a
    // longer future corpus keeps the two in lockstep instead of
    // silently hash-diverging.
    Q("q_media_frames",
      // (range() can't reference lateral columns in DuckDB, so the
      // index domain is a literal bound filtered per doc.)
      s"""SELECT doc_id, CAST(i AS INT) AS frame_no,
         |  ${h28Duck("substr(text, CAST(i AS INT) * 32 + 1, 32)")} AS frame_hash
         |FROM documents, range(0, 1024, 4) t(i)
         |WHERE i < length(text) // 32
         |ORDER BY doc_id, frame_no""".stripMargin) { (s, d) =>
      import s.implicits._
      val bin = fanout(Tables.documents(s, d))
        .select(col("doc_id"),
          substring(col("text"), 1, 1024 * 32).cast("binary").as("content"))
      bin.as[(Long, Array[Byte])].mapPartitions { rows =>
        val dec = new SurrogateMediaDecoder
        rows.flatMap { case (id, bytes) =>
          dec.sampleFrames(bytes, frameSize = 32, stride = 4)
            .zipWithIndex.map { case (frame, j) =>
              (id, j * 4, Embedders.h28(frame))
            }
        }
      }.toDF("doc_id", "frame_no", "frame_hash")
        .orderBy("doc_id", "frame_no")
    },

    // Audio-shape feature extraction, completing the multimodal
    // triad (image metadata above, video frames above, audio here):
    // the payload is treated as fixed-rate PCM, split into
    // non-overlapping 64-byte windows ("10 ms" each), and each window
    // yields a surrogate energy level — the decode step is the same
    // per-partition seam, so a real PCM/opus decoder slots in with
    // identical plumbing. A per-doc summary row count = the clip's
    // duration in windows. DECLARED clip bound: both sides window the
    // first 16 KiB (256 windows) — engine-side truncation mirrors the
    // oracle's range() literal (see q_media_frames).
    Q("q_media_audio",
      s"""SELECT doc_id, CAST(i AS INT) AS win_no,
         |  CAST(${h28Duck("substr(text, CAST(i AS INT) * 64 + 1, 64)")} % 10000 AS BIGINT) AS energy
         |FROM documents, range(0, 256) t(i)
         |WHERE i < length(text) // 64
         |ORDER BY doc_id, win_no""".stripMargin) { (s, d) =>
      import s.implicits._
      val bin = fanout(Tables.documents(s, d))
        .select(col("doc_id"),
          substring(col("text"), 1, 256 * 64).cast("binary").as("content"))
      bin.as[(Long, Array[Byte])].mapPartitions { rows =>
        val dec = new SurrogateMediaDecoder // once per partition
        rows.flatMap { case (id, bytes) =>
          dec.sampleFrames(bytes, frameSize = 64, stride = 1)
            .zipWithIndex.map { case (win, j) =>
              (id, j, Embedders.h28(win) % 10000)
            }
        }
      }.toDF("doc_id", "win_no", "energy")
        .orderBy("doc_id", "win_no")
    },

    // Embedding-cosine near-dup DEDUP (not just the pair list): drop
    // every vector that has a more-canonical (lower-id) neighbor at
    // sim ≥ 0.4. Pairs from the shared SimilarityStages stage (exact
    // below the size gate; past `spark.graft.ann.autoThresholdBytes`
    // candidates route through IVF multi-probe cells + exact verify — the sub-quadratic
    // 100 TB path, set-equal at the test sfs per ScalePathSpec); the
    // survivors via anti-join — the A13/A14 delete pattern fused with
    // the similarity predicate.
    Q("q_dedup_embed",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |dupes AS (SELECT DISTINCT b.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
        |          WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4)
        |SELECT em.vec_id, em.label FROM embeddings em
        |WHERE em.vec_id NOT IN (SELECT vec_id FROM dupes)
        |ORDER BY em.vec_id""".stripMargin) { (s, d) =>
      // Pair finding = the block-chunked exact stage shared with
      // q_similarity_join (SimilarityStages.allPairsSim — bounded
      // per-block build sides at any scale, no broadcast hint).
      val e = Tables.embeddings(s, d)
      val dupes = SimilarityStages.allPairsSim(e, tau = 0.4)
        .select(col("id2").as("vec_id")).distinct()
      e.join(dupes, Seq("vec_id"), "left_anti")
        .select("vec_id", "label")
        .orderBy("vec_id")
    },
  )
}
