package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession so Verify, Bench and
  * the test suites agree on semantics-bearing config:
  *
  *  - `spark.sql.shuffle.partitions` = cores (NOT the 200 default —
  *    on the 1000-executor target this would be set to ~2-3× total
  *    cores / sized to ~128 MB shuffle partitions; locally it must
  *    match the thread count or small queries pay 200 empty tasks).
  *  - UTC session timezone (hash-compare vs DuckDB, SURVEY §5.1).
  *  - `nanosAsLong`: events.ts is parquet TIMESTAMP(NANOS) which the
  *    vectorized reader rejects; set ONCE here instead of mutating
  *    session conf inside a table loader (round-1 advice).
  *  - AQE on: runtime coalescing + skew-join splitting is part of the
  *    100 TB posture and costs nothing locally.
  *  - Streaming checkpoint logs (`offsets/`, `commits/`, `sources/`)
  *    are written through the Hadoop FileSystem API
  *    (`FileSystemBasedCheckpointFileManager`), not Spark's default
  *    FileContext manager: on a local disk its temp-file-and-rename
  *    write costs a fraction of FileContext's per small file, and a
  *    drainUpsert micro-batch writes three. Only this `local[n]`
  *    builder sets it: every query graft starts checkpoints into its
  *    own temp directory, so no two writers share a log, and the
  *    sessions [[prepare]] sees (a cluster's, on HDFS or an object
  *    store) keep FileContext's atomic rename.
  */
object Sessions {
  def build(cpus: String): SparkSession = {
    // getOrCreate() silently ignores every builder config (extensions,
    // excludedRules, warehouse dir, nanosAsLong) when a session is
    // already active — which would disable the IVF rule and kernel
    // registration with no error, and leak a temp warehouse dir per
    // call. Detect that case, say so loudly, and skip the dir.
    val existing = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    existing.foreach { s =>
      System.err.println("[graft] Sessions.build: a SparkSession is already " +
        "active — reusing it; builder-time configs (GraftExtensions, " +
        "excludedRules, warehouse.dir, nanosAsLong) were NOT applied here. " +
        "If this session was not built by Sessions.build, the IVF rule and " +
        "SQL kernels may be missing.")
      prepare(s)
      return s
    }
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions) // kernels in every session
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      // InferFiltersFromGenerate synthesizes `size(arr) > 0` below
      // every explode; PushDownPredicates then drags it to the scan
      // with the array-building expression INLINED into an
      // interpreted per-row Filter — for computed arrays (tokens,
      // shingles) that re-runs the whole tokenize/shingle chain 2-4×
      // per row before the real projection runs once more (measured:
      // 12 s → 1 s for a 500k-shingle explode at sf0.1). Empty-array
      // pruning is worthless for our pipelines (arrays are computed,
      // never scanned), so the rule is excluded session-wide.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // ObjectHashAggregate (every typed-udaf heap fold: the dedup
      // top-5 heaps, TopKNeighborsAggregator) falls back to
      // SORT-BASED aggregation after a mere 128 distinct keys in the
      // in-memory map — the map-side partial agg then externally
      // SORTS its whole input partition (round 17: the spill column
      // showed q_mutual_knn/q_lof spilling ~48 GB each at the 100×
      // fixture sorting the pair stream under 200 k anchor keys).
      // The folds' per-key state is a bounded ≤5-tuple heap
      // (~200 B), so half a million keys per task is ~100 MB — raise
      // the threshold so the hash path holds node-count-sized key
      // sets and the sort never happens.
      //
      // The raised threshold governs EVERY TypedImperativeAggregate,
      // so it only stays session-wide because the registry has been
      // audited for unbounded-per-key state (round-18 advice): all
      // collect_list sites are bounded by construction (≤8 PQ codes
      // VectorSearch, 64 embedding dims Semantic ×5, rn≤5 postings
      // TextOps:874, per-doc token vocab Semantic:1142 — bounded by
      // document length), and the two percentile sites are 5-key
      // (q_robust_scale — key COUNT never reaches even the 128
      // default, threshold moot) or per-user slope lists whose TOTAL
      // hash-map state ≈ the task's input rows — the same bytes the
      // sort fallback would buffer before sorting (q_theil_sen). A
      // future aggregate with genuinely unbounded per-key state must
      // scope its own threshold instead of relying on this one.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (2 * 1024 * 1024).toString)
      // Catalog tables (bucketed-join demos) land in a per-process
      // temp warehouse: no repo pollution, no stale cross-run reads.
      .config("spark.sql.warehouse.dir", Tables.tempDir("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Idempotent per-session preparation for sessions we did NOT build
    * (the driver calls `SparkEntry.entry`/`queries` with its own):
    * the nanos conf must be set before any `events` scan is planned,
    * and the session timezone must be UTC — it is part of the
    * engine's declared semantics (every oracle hash-compares against
    * DuckDB under UTC, SURVEY §5.1), and [[Tables.normalizeTs]]'s
    * TIMESTAMP_NTZ branch maps the NTZ wall clock to an instant
    * through it, so a non-UTC foreign session would silently read
    * different instants from the timestamp[us] testdata vintage than
    * from the nanos vintage (round-10 advice). */
  def prepare(s: SparkSession): Unit = {
    if (s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").isEmpty)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (s.conf.get("spark.sql.session.timeZone") != "UTC")
      s.conf.set("spark.sql.session.timeZone", "UTC")
    // See the builder note: without this the typed-udaf heap folds
    // sort their whole input partition past 128 keys.
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      (2 * 1024 * 1024).toString)
  }
}
