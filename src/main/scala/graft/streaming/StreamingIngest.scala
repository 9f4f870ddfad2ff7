package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cluster.KMeans
import graft.core.ScopedConf
import graft.io.Frame

/** Structured-Streaming ingest into an IVF index (SURVEY §2.10): the
  * reference's incremental `add` path (faiss/Index.h:100-116,
  * IndexIVF.cpp:254 omp add loop) is embarrassingly parallel
  * assign→append, which maps exactly onto foreachBatch over a
  * list_no-sorted parquet index. SlidingIndexWindow
  * (faiss/IVFlib.h:87-112) becomes time-partition retention.
  */
object StreamingIngest {

  /** Start appending a stream of (id, vec) rows into `indexPath`
    * (the `ivfflat` layout of [[graft.io.IndexIO.save]]): each microbatch
    * is coarse-assigned with the trained centroids and appended as
    * list_no-sorted files, one per task, with no shuffle. A list then
    * spans files, and its pages in each are contiguous. A store in the
    * older one-directory-per-list layout is refused: flat files beside
    * its `list_no=` directories would make it unreadable. */
  def startIngest(stream: DataFrame, model: KMeans.Model, indexPath: String,
      checkpoint: String): StreamingQuery = {
    val invlists = s"$indexPath/invlists"
    require(!Frame.legacy(stream.sparkSession, invlists),
      s"$invlists is in the list_no= directory layout; re-save it with IndexIO.save first")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        model.assign(batch, "vec")
          .select(col("id"), col("vec"), col("list_no"))
          .sortWithinPartitions("list_no")
          .write.mode("append").parquet(invlists)
      }
      .start()
  }

  /** Retention step of a sliding window over time-partitioned data
    * (SlidingIndexWindow::step): keep only the newest `keep`
    * partitions of `col`. Returns the pruned DataFrame view; physical
    * deletion is the caller's compaction policy. */
  def slidingWindow(df: DataFrame, partitionCol: String, keep: Int): DataFrame = {
    val parts = df.select(col(partitionCol)).distinct()
      .orderBy(col(partitionCol).desc).limit(keep)
    df.join(broadcast(parts), Seq(partitionCol), "left_semi")
  }

  /** FileStreamSource wants a DIRECTORY. A directory path streams
    * as-is (the multi-file 100 TB case); a single-file path (the
    * testdata layout) is staged into a temp dir that [[drain]]
    * removes once the memory sink holds the drained result. */
  private def stage(path: String): (String, Option[java.nio.file.Path]) = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(p)) (path, None)
    else {
      val dir = java.nio.file.Files.createTempDirectory("graft_stream")
      java.nio.file.Files.copy(p, dir.resolve(p.getFileName))
      (dir.toString, Some(dir))
    }
  }

  /** Best-effort recursive delete; shared by the streaming stagers
    * and the catalog's temp-index queries. Closes the walk stream
    * (an open directory fd until GC otherwise; r9 review). */
  private[graft] def rmTree(d: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(d)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(d)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
      finally walk.close()
    }

  /** `spark.sql.legacy.parquet.nanosAsLong=true`, needed to READ a
    * TIMESTAMP(NANOS) parquet schema at all; a no-op unless the file
    * really is TIMESTAMP(NANOS). Always scoped (ADVICE r8 — never set
    * on the caller's session). */
  private[graft] val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** Drains a one-shot stream over `eventsParquet` into a memory sink
    * and returns the sink's table. The drain runs on a clone of `spark`
    * ([[ScopedConf.withConfs]]) carrying [[NanosAsLong]], the source's
    * [[adaptiveStatePartitions]] count — streaming queries read
    * `spark.sql.shuffle.partitions` at query START, so the scoped value
    * sizes the state — and `confs`. The caller's session is never
    * written, and the sink's temp view lives only in the clone; the
    * returned frame is rebound to `spark`, so the caller's downstream
    * aggregations plan at the session width. `query` turns the source
    * stream into the sink's input. */
  private def drain(spark: SparkSession, eventsParquet: String,
      outputMode: String, expandFactor: Double = 1.0,
      confs: Seq[(String, String)] = Nil)(
      query: DataFrame => DataFrame): DataFrame = {
    val (srcDir, staged) = stage(eventsParquet)
    val parts = adaptiveStatePartitions(spark, eventsParquet, expandFactor)
    try ScopedConf.withConfs(spark, Seq(NanosAsLong,
        "spark.sql.shuffle.partitions" -> parts.toString) ++ confs: _*) { c =>
      // a query reports only to the listeners of the session that
      // started it: hand the caller's to the clone so they still see
      // the drain's progress
      spark.streams.listListeners().foreach(c.streams.addListener)
      val schema = c.read.parquet(eventsParquet).schema
      val out = query(c.readStream.schema(schema).parquet(srcDir))
      val name = s"graft_drain_${System.identityHashCode(out)}"
      val q = out.writeStream.outputMode(outputMode)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      shim.rebind(spark, c.table(name))
    } finally staged.foreach(rmTree)
  }

  /** The testdata's `ts` column has shipped both as TIMESTAMP(NANOS)
    * (which Spark only reads as a nanosecond long) and as a native µs
    * timestamp (read as TIMESTAMP_NTZ); normalize either to a session
    * TIMESTAMP so windows and epoch casts agree with the DuckDB
    * oracle's naive-epoch reading (session tz is UTC). */
  def normTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // exact integer division: `/` would promote the ns long (~2^60,
        // above 2^53) to DOUBLE and the truncating cast back could land
        // 1 µs off; `div` stays in integer arithmetic (ADVICE r07)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** Batch-equivalent streaming window aggregation over a parquet
    * events table: readStream → tumbling window agg → memory sink,
    * drained synchronously. Returns the completed result table. */
  def windowedEventCounts(spark: SparkSession, eventsParquet: String,
      windowLength: String = "1 hour"): DataFrame =
    drain(spark, eventsParquet, "complete") { src =>
      normTs(src)
        .groupBy(window(col("ts"), windowLength), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"))
    }.select(col("window.start").cast("long").as("ws"), col("event_type"),
      col("cnt"), round(col("sv"), 2).as("sv"))

  /** Streaming exactly-once dedup ingest: readStream → stateful
    * dropDuplicates on `keys` → append sink, drained synchronously.
    * The training-pipeline ingest shape — dedup crawled records by
    * fingerprint AS they arrive, state = one entry per distinct key
    * (at scale: RocksDB state store + watermark-bounded state via
    * dropDuplicatesWithinWatermark). Returns the table of unique
    * rows. */
  def dedupIngest(spark: SparkSession, eventsParquet: String,
      keys: Seq[String],
      /** Bench-only scale hook (the sf1-equivalent tier): applied to
        * the stream BEFORE the stateful dedup, so a 10x row/key
        * expansion flows through the state store like a 10x source
        * would. Identity on every oracle run. */
      expand: DataFrame => DataFrame = identity,
      /** Row multiplier of `expand` — sizes the adaptive state
        * partition count from the EXPANDED volume, since the opaque
        * expand hook hides it from the source stats. */
      expandFactor: Double = 1.0): DataFrame =
    drain(spark, eventsParquet, "append", expandFactor)(
      src => expand(src).dropDuplicates(keys))

  /** Scale-adaptive shuffle/state partition count for the drained
    * one-shot streams (VERDICT r19 #4). Structured Streaming fixes the
    * number of STATE partitions at the session's
    * `spark.sql.shuffle.partitions` when the query first starts — a
    * constant sized for the cluster (the 32-core local session here),
    * and AQE never coalesces stateful exchanges. At tiny input volumes
    * every micro-batch then pays a full stateful-commit cycle across
    * 32 near-empty state stores (measured r19: every stream_* row ran
    * FASTER at 8 cores than at 32). The scale-safe rule, derived from
    * the source rather than hard-coded: partitions =
    * ceil(sourceBytes x expansion / AQE advisory partition size),
    * clamped to [1, session shuffle partitions]. A 100 TB source
    * saturates the clamp and behaves exactly as before (state spread
    * cluster-wide, per-instance size divides with the partition
    * count); only a provably small source stops paying empty
    * state-store commits. Any failure to size the source keeps the
    * session value. */
  private def adaptiveStatePartitions(spark: SparkSession, path: String,
      expansion: Double = 1.0): Int = {
    val session = spark.sessionState.conf.numShufflePartitions
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val bytes = p.getFileSystem(spark.sessionState.newHadoopConf())
        .getContentSummary(p).getLength.toDouble
      // Per-partition budget: advisory/128 of SOURCE bytes (0.5 MB at
      // the 64 MB default) ≈ tens of thousands of rows per state
      // partition per batch. What binds here is per-row state-store
      // work, not state bytes: measured on sf0.1, the 600 k-row
      // lineitem dedup stream needs its inserts spread (2 partitions =
      // 6.4-9.7 s batch vs 2.6-3.8 s at 32), while the ~100 k-row
      // event streams win by NOT paying 32 near-empty store commits
      // (1 partition = 1.0-1.3 s vs 1.6-3.2 s at 32). The budget puts
      // the first stream at 22 partitions and the second at ~4-5,
      // both on the winning side of their crossover; the [1, session]
      // clamp keeps 100 TB sources cluster-wide exactly as before.
      val advisory = math.max(128L, spark.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)).toDouble
      val n = math.ceil(bytes * expansion / (advisory / 128.0)).toLong
      math.max(1L, math.min(session.toLong, n)).toInt
    } catch { case scala.util.control.NonFatal(_) => session }
  }

  /** The RocksDB state-store provider (ships with Spark — no extra
    * dependency): per-key state lives OFF-HEAP in a local RocksDB
    * instance per state partition, spilling to executor disk, with
    * changelog/snapshot files checkpointed to the (distributed)
    * checkpoint location. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Watermark-BOUNDED streaming dedup
    * (`dropDuplicatesWithinWatermark`): like [[dedupIngest]] but the
    * per-key state is dropped once the event-time watermark passes
    * first-seen + delay — the shape that holds at 100 TB, where
    * unbounded dropDuplicates state would grow with every distinct
    * key ever seen while this keeps only the active window's keys in
    * the state store. Duplicates within `delay` of the first
    * occurrence are guaranteed dropped; the single-batch drain of a
    * staged file dedups everything (state lives for the whole batch),
    * making the result exactly batch-distinct for the oracle.
    *
    * What bounds state at 100 TB (VERDICT r18 #6 — the contract,
    * written down): TWO independent mechanisms compose. (1) TIME —
    * the watermark evicts every key older than first-seen + delay, so
    * steady-state entries are (arrival rate x delay), independent of
    * total corpus size; this is the semantic bound and it is already
    * the `stream_dedup_watermark` oracle row. (2) SPACE — the state
    * BACKEND: the default HDFSBackedStateStoreProvider keeps every
    * live entry on the executor HEAP (the sf1 tier's 10x-state decade
    * runs one 128 GiB heap and measures exactly this), while
    * `rocksDb = true` moves state off-heap to per-partition RocksDB
    * instances on executor-local disk with checkpointed
    * changelogs — entries per EXECUTOR then bound memory, not heap,
    * and state capacity scales with executors x local disk exactly
    * like shuffle. A 100 TB deployment sets both: watermark for the
    * semantic bound, RocksDB so the surviving window's keys never
    * compete with execution memory. State is also hash-partitioned by
    * key across `spark.sql.shuffle.partitions` tasks, so per-instance
    * size divides with the partition count the same way every shuffle
    * in this engine does. */
  def dedupIngestWithinWatermark(spark: SparkSession, eventsParquet: String,
      keys: Seq[String], delay: String = "10000 hours",
      rocksDb: Boolean = false): DataFrame = {
    // No-data micro-batches off: the engine schedules an EXTRA empty
    // batch after the data drains whenever a watermark advanced, for
    // eager state cleanup and watermark-gated EMISSION. For this
    // drained one-shot ingest that batch is pure overhead: dedup emits
    // every surviving row in the batch it arrives (nothing is
    // watermark-gated), so the empty batch only evicts state the stop()
    // throws away anyway — yet it pays a full stateful-commit cycle
    // across every state partition (measured: its triggerExecution ≈
    // the data batch's, ~40% of the query window). A CONTINUOUS ingest
    // keeps the default: there the eager cleanup bounds state between
    // arrivals. Never disable it around watermark-EMITTING sinks
    // (session/tumbling windows in append mode) — their final windows
    // only emit in that extra batch. The state-store provider is read
    // at query START, so the scoped conf is the per-query toggle.
    val confs = Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false") ++
      (if (rocksDb) Seq("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider)
       else Nil)
    drain(spark, eventsParquet, "append", confs = confs)(src =>
      normTs(src).withWatermark("ts", delay).dropDuplicatesWithinWatermark(keys))
  }

  /** Session-window streaming aggregation (Structured Streaming
    * `session_window` — the event-sessionization primitive of every
    * activity pipeline): a user's events group into sessions
    * separated by >= `gap` of inactivity (an event extends the
    * session iff it lands strictly inside previous-event-ts + gap,
    * so a gap-exactly-apart event starts a NEW session). Per session:
    * first-event timestamp (exact µs), event count, value sum.
    * Session windows only support APPEND output: a session is emitted
    * once the event-time watermark passes its end (last event + gap) —
    * the honest streaming semantics, where still-open sessions flush
    * on later data. The batch equivalent is therefore "sessions
    * closed before the corpus watermark", which the oracle replays
    * with the same last-event + gap <= max(ts) cutoff. */
  def sessionizedEventCounts(spark: SparkSession, eventsParquet: String,
      gap: String = "12 hours", maxUser: Long = Long.MaxValue): DataFrame =
    drain(spark, eventsParquet, "append") { src =>
      normTs(src)
        .filter(col("user_id") < maxUser)
        .withWatermark("ts", "0 seconds")
        .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sv"))
    }.select(col("user_id"),
      unix_micros(col("sw.start")).as("session_start"),
      col("n_events"), col("sv"))

  /** Custom per-key streaming state via flatMapGroupsWithState (the
    * KeyValueGroupedDataset custom-state surface — arbitrary state
    * machines the built-in aggs can't express; at scale the state
    * lives in the RocksDB state store, one entry per key). Tracks per
    * user a running (count, max, min) over `value` and emits the
    * state after each batch; the caller keeps the final row per key.
    * Count/max/min are deliberately order-insensitive, so the result
    * is exactly batch-equivalent regardless of row order. */
  def statefulUserStats(spark: SparkSession, eventsParquet: String,
      maxUser: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    drain(spark, eventsParquet, "update") { src =>
      src.filter(col("user_id") < maxUser)
        .select(col("user_id"), col("value")).as[(Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Double, Double), (Long, Long, Double, Double)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
          var (cnt, mx, mn) = state.getOption
            .getOrElse((0L, Double.NegativeInfinity, Double.PositiveInfinity))
          rows.foreach { case (_, v) =>
            cnt += 1; mx = math.max(mx, v); mn = math.min(mn, v)
          }
          state.update((cnt, mx, mn))
          Iterator((uid, cnt, mx, mn))
        }
        .toDF("user_id", "cnt", "mx", "mn")
    }
      // update mode emits one row per (key, batch): keep the final
      // state = the row with the largest running count per key
      .groupBy(col("user_id"))
      .agg(max(struct(col("cnt"), col("mx"), col("mn"))).as("_s"))
      .select(col("user_id"), col("_s.cnt").as("cnt"),
        round(col("_s.mx"), 2).as("mx"), round(col("_s.mn"), 2).as("mn"))
  }
}
