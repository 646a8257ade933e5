package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Source-format coverage beyond parquet/binaryFile/streaming-files:
  * CSV and JSON-lines readers with explicit schemas. The reference's
  * store is format-opaque to its callers (photos in, vectors out);
  * an engine replacing it must ingest whatever the lake serves —
  * and at 100 TB that means schema-ON-READ with an EXPLICIT schema:
  * schema inference is a full extra pass over the data, so both
  * readers here take the canonical schema and never infer.
  *
  * Each query stages the events table into the text format once
  * ([[Tables.staged]]: rebuilt when the events table changes), then
  * the declared operator is the read + aggregation. Timestamps
  * round-trip through an explicit micros-precision format — the
  * default CSV/JSON timestamp pattern only carries millis, which
  * would silently corrupt micro-precision event times.
  *
  * The oracle reads the SAME rows from the parquet table: a
  * hash-match proves the text round-trip is lossless (doubles via
  * Java's shortest-round-trip formatting, timestamps via the
  * explicit pattern).
  */
object Sources {

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** A staged copy of `d`'s `table`: `build` writes it to the path it
    * is given, `<staged dir>/<name>`, which is returned. */
  private def staged(kind: String, d: String, table: String = "events",
      name: String = "events")(build: String => Unit): String =
    Tables.staged(s"src_$kind", s"$d/$table.parquet")(dir => build(s"$dir/$name")) +
      s"/$name"

  private def stage(fmt: String, s: SparkSession, d: String): String =
    staged(fmt, d) { dir =>
      Tables.events(s, d)
        .write.mode("overwrite")
        .option("header", "true").option("timestampFormat", TsFmt)
        .format(fmt).save(dir)
    }

  private def agg(df: DataFrame): DataFrame =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        dsum(col("value")).as("total_value"),
        min("ts").as("min_ts"), max("ts").as("max_ts"))
      .orderBy("event_type")

  private val aggSql =
    s"""SELECT event_type, count(*) AS n,
       |  ${dsumSql("value")} AS total_value,
       |  min(CAST(ts AS TIMESTAMP)) AS min_ts,
       |  max(CAST(ts AS TIMESTAMP)) AS max_ts
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val qs: Seq[Q] = Seq(

    Q("q_source_csv", aggSql) { (s, d) =>
      val dir = stage("csv", s, d)
      agg(s.read
        .schema(Tables.events(s, d).schema)
        .option("header", "true").option("timestampFormat", TsFmt)
        .csv(dir))
    },

    Q("q_source_json", aggSql) { (s, d) =>
      val dir = stage("json", s, d)
      agg(s.read
        .schema(Tables.events(s, d).schema)
        .option("timestampFormat", TsFmt)
        .json(dir))
    },

    // ORC — the other native columnar format (binary, so no
    // timestamp-format concerns; predicate pushdown and column
    // pruning work like parquet's).
    Q("q_source_orc", aggSql) { (s, d) =>
      val dir = stage("orc", s, d)
      agg(s.read.schema(Tables.events(s, d).schema).orc(dir))
    },

    // Schema evolution: a table directory whose files disagree on
    // schema — older files lack a later-added column — read with
    // mergeSchema, absent columns NULL-filled. This is the lake's
    // steady state at 100 TB (schemas change mid-corpus; a re-write
    // of history is a 100 TB job you don't run). The aggregation
    // groups by the evolved column, exercising the NULL fill.
    Q("q_schema_evolution",
      s"""WITH a AS (SELECT event_id, user_id, value, NULL AS source_tag
         |           FROM events WHERE event_id % 2 = 0),
         |b AS (SELECT event_id, user_id, value,
         |        's' || CAST(user_id % 3 AS VARCHAR) AS source_tag
         |      FROM events WHERE event_id % 2 = 1),
         |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
         |SELECT source_tag, count(*) AS n,
         |  ${dsumSql("value")} AS total_value
         |FROM u GROUP BY source_tag
         |ORDER BY source_tag NULLS FIRST""".stripMargin) { (s, d) =>
      val dir = staged("evo", d) { out =>
        val e = Tables.events(s, d)
        // generation 1: no source_tag column yet
        e.filter(col("event_id") % 2 === 0)
          .select("event_id", "user_id", "value")
          .write.mode("overwrite").parquet(out)
        // generation 2: schema grew a column; append alongside gen 1
        e.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("user_id"), col("value"),
            concat(lit("s"), (col("user_id") % 3).cast("string")).as("source_tag"))
          .write.mode("append").parquet(out)
      }
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy("source_tag")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("source_tag").asc_nulls_first)
    },

    // PARTITION-PRUNED SCAN: events staged once as a hive-layout
    // directory partitioned by event_type; the declared query filters
    // one partition value and aggregates. The filter resolves against
    // DIRECTORY NAMES at planning time — the scan's PartitionFilters
    // carries it and the other partitions' files are never opened
    // (file-count pruning asserted in SourcesSpec-style test). THE
    // first-line data-skipping mechanism at 100 TB: partition on the
    // dominant predicate column and a selective query reads 1/N of
    // the lake. The oracle reads the same rows from the unpartitioned
    // parquet — a hash match proves pruning lost nothing.
    Q("q_partition_pruned",
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = staged("hive", d) { out =>
        Tables.events(s, d).write.mode("overwrite")
          .partitionBy("event_type").parquet(out)
      }
      s.read.parquet(dir)
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy("h")
    },

    // BINARY-FILE INGEST — the multimodal raw-bytes path: one file
    // per document staged once (executor-side writes), read back via
    // Spark's `binaryFile` source (path, length, content BINARY) —
    // the same reader an image/audio corpus enters the engine
    // through before the A2 decode seam (ml/MediaDecoder). The
    // declared output fingerprints every blob (id parsed from the
    // path, byte length, md5); the oracle computes the same
    // fingerprints straight from the documents table, so a hash
    // match proves the file round-trip is byte-lossless. Scale:
    // binaryFile lists and splits files like any file source — the
    // scan parallelizes per file, and a real corpus adds
    // pathGlobFilter/recursiveFileLookup pruning before any byte is
    // read (A1's recursive-scan semantics).
    // TEXT-LINES SOURCE — the log-file ingestion path: the events
    // table staged as raw tab-separated lines (spark.write.text),
    // read back with spark.read.text and parsed SCHEMA-ON-READ by
    // scan-local split/cast expressions. This is the format the
    // other readers can't stand in for: at 100 TB a crawl/syslog
    // corpus arrives as splittable plain text with NO embedded
    // schema, and the parse must be codegen projection work (as
    // here), never a second inference pass. Same lossless round-trip
    // contract as CSV/JSON: explicit micros timestamp pattern,
    // doubles via shortest-round-trip formatting — the shared
    // aggSql oracle proves recovery under the TSV staging contract:
    // (a) EVERY field is coalesced to '' at write time, because
    // concat_ws silently SKIPS null arguments — one unguarded null
    // would shift every later field left and mis-parse the row; ''
    // casts back to NULL for the typed columns, so nulls round-trip
    // for long/timestamp/double, while NULL string fields
    // (event_type/props) return as '' — a documented narrowing, not
    // a shift; (b) free-form string fields are CHECKED for literal
    // tab/newline at stage time (raise_error, codegen regexp on the
    // one-off write path only) — a payload delimiter would otherwise
    // corrupt the line silently (split yields extra fields, casts
    // turn them into plausible NULLs).
    Q("q_source_text", aggSql) { (s, d) =>
      val dir = staged("text", d) { out =>
        def tsv(c: Column, name: String): Column = coalesce(
          when(c.rlike("[\\t\\n\\r]"), raise_error(concat(
            lit(s"q_source_text: literal tab/newline in `$name` " +
              "violates the TSV staging contract: "), c)))
            .otherwise(c),
          lit(""))
        Tables.events(s, d)
          .select(concat_ws("\t",
            coalesce(col("event_id").cast("string"), lit("")),
            coalesce(date_format(col("ts"), TsFmt), lit("")),
            coalesce(col("user_id").cast("string"), lit("")),
            tsv(col("event_type"), "event_type"),
            coalesce(col("value").cast("string"), lit("")),
            tsv(col("props"), "props")).as("value"))
          .write.mode("overwrite").text(out)
      }
      s.read.text(dir)
        .select(split(col("value"), "\t", -1).as("f"))
        .select(
          element_at(col("f"), 1).cast("long").as("event_id"),
          to_timestamp(element_at(col("f"), 2), TsFmt).as("ts"),
          element_at(col("f"), 3).cast("long").as("user_id"),
          element_at(col("f"), 4).as("event_type"),
          element_at(col("f"), 5).cast("double").as("value"),
          element_at(col("f"), 6).as("props"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("total_value"),
          min("ts").as("min_ts"), max("ts").as("max_ts"))
        .orderBy("event_type")
    },

    Q("q_source_binary",
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dir = staged("bin", d, "documents", "docs") { out =>
        // Executor-side writes go through the Hadoop FileSystem API
        // (not java.nio): on a cluster `out` is a shared-FS URI and
        // each task writes THERE, where the driver's binaryFile read
        // will find the files — local java.nio writes would strand
        // blobs on executor-local disks.
        Tables.documents(s, d).select("doc_id", "text")
          .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
            val fs = org.apache.hadoop.fs.FileSystem.get(
              new java.net.URI(s"file://$out"),
              new org.apache.hadoop.conf.Configuration())
            // ChecksumFileSystem writes a hidden .crc SIDECAR per
            // file — at the 100× fixture that doubles both the
            // staging writes and the directory entries the read-side
            // InMemoryFileIndex must list+stat (round 18; the
            // sidecars never appear as ROWS — listing filters
            // dot-files — they only cost).
            fs.setWriteChecksum(false)
            it.foreach { r =>
              val p = new org.apache.hadoop.fs.Path(
                out, s"doc_${r.getLong(0)}.txt")
              val os = fs.create(p, true)
              try os.write(Option(r.getString(1)).getOrElse("")
                .getBytes("UTF-8"))
              finally os.close()
            }
          }
      }
      s.read.format("binaryFile").load(dir)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.txt$", 1).cast("long")
            .as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("digest"))
        .orderBy("doc_id")
    },
  )
}
