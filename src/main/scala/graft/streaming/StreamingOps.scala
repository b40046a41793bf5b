package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** One input event for sessionization. */
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Open-session state carried between micro-batches. */
case class SessionState(start: Long, last: Long, n: Long, sum: Double)

/** One closed session. */
case class EwmaEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
  value: Double)

/** Running EWMA per key: the carried smoothed value plus the observation
  * count — O(1) state per key, the whole point of the streaming form.
  */
case class EwmaRunning(y: Double, n: Long)

case class EwmaOut(user_id: Long, n_events: Long, ewma_last: Double)

case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

/** KMV sketch state per group: the ≤ k smallest distinct hashes, kept
  * sorted — bounded at k longs forever, the streaming point of KMV.
  */
case class KmvSketch(hs: Seq[Long])

/** Where a streaming op lands its result. `Memory` buffers on the driver —
  * the right default for the finite oracle/test replays, NOT a production
  * path. `Parquet` is the production shape: distributed append-mode writes
  * with a checkpoint for exactly-once restart.
  */
sealed trait StreamSink
object StreamSink {
  final case class Memory(queryName: String) extends StreamSink
  final case class Parquet(path: String, checkpointDir: String,
      queryName: String) extends StreamSink
}

/** Structured Streaming surface (SURVEY §2.11). The reference is strictly
  * batch, but its sensor table is naturally a stream; the engine exposes the
  * windowed-stats operators over `readStream` with event-time windows and
  * watermarks. At scale this is the standard continuous-ingest path: state
  * is bounded by the watermark, aggregation is keyed by (window, key) so it
  * shards across executors, and `availableNow` gives exactly-once catch-up
  * batch replays of the same code path.
  */
object StreamingOps {

  /** Fully-qualified class name of Spark's RocksDB state store provider. */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` against a session whose streaming state store is backed by
    * RocksDB instead of the default in-memory HDFS-backed provider. At
    * 100 TB the in-memory store is the first thing to fall over — streaming
    * state (dedup keys, open sessions, join buffers) must not be bounded by
    * executor heap. Every StreamingOps operator picks the provider up from
    * the session conf at query start, so no per-operator parameter is
    * needed; results are provider-invariant (spec-pinned against the
    * default provider).
    *
    * The provider is set on a CLONE (`spark.newSession()` — same
    * SparkContext and extensions, isolated SQLConf), never on the shared
    * session: the provider class is captured when a query STARTS, so
    * toggling shared conf would race any streaming query started
    * concurrently elsewhere on the session, silently running it against
    * the wrong state store. The clone's conf is discarded with it — no
    * restore step, no failure window.
    */
  def withRocksDBStateStore[T](spark: SparkSession)(body: SparkSession => T): T = {
    val cloned = spark.newSession()
    cloned.conf.set("spark.sql.streaming.stateStore.providerClass",
      RocksDBProvider)
    body(cloned)
  }

  /** Tumbling event-time window aggregation over a parquet directory read as
    * a stream, executed to completion with `Trigger.AvailableNow` and a
    * memory sink, then returned as a finite DataFrame. Append output mode:
    * only windows the watermark has passed are emitted and their state is
    * dropped — the bounded-state contract a continuous ingest needs. The
    * batch equivalent is `groupBy(date_trunc(...))` restricted to
    * finalized windows; the driver's oracle checks exactly that.
    */
  /** File-source streams need a directory; `fileName` narrows the scan to
    * one table's parquet via pathGlobFilter.
    */
  private def fileStream(spark: SparkSession, dir: String,
      fileName: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = Tables.readParquet(spark, s"$dir/$fileName").schema
    // `$dir/$fileName` ships in two physical shapes: a single parquet FILE
    // (the testdata convention — glob-filter it out of the directory) or a
    // Spark-written DIRECTORY of part files (any materialized table — the
    // production shape). A glob filter on the directory name would match
    // no part files and the stream would silently process ZERO rows, so
    // adapt on the actual shape instead.
    val target = new java.io.File(s"$dir/$fileName")
    val (root, glob) =
      if (target.isDirectory) (s"$dir/$fileName", "*.parquet")
      else (dir, fileName)
    val reader = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(root)
  }

  /** Execute `df` to the sink with `Trigger.AvailableNow` and return the
    * finite result. Parquet sinks require append mode (Structured Streaming
    * has no complete-mode file sink) — complete-mode ops stay on memory.
    */
  private def runToSink(spark: SparkSession, df: DataFrame, sink: StreamSink,
      outputMode: String): DataFrame = {
    // State partitioning is a SIZING decision (rows of live state), not a
    // mirror of the session's batch shuffle width — the round-14
    // streamStreamRangeJoin lesson (its probe measured the per-partition
    // state-store commit as the dominant micro-batch cost), applied to
    // EVERY stateful streaming query: each micro-batch pays a fixed
    // open+commit round per state partition, and at bench state volumes
    // (≤ tens of thousands of live rows) 8 partitions more than suffice.
    // Overridable via spark.graft.stream.stateParts; at 100 TB size it to
    // live-state rows, decoupled from core count. Values are unaffected:
    // every streamed aggregate here is keyed/additive, and the stream ≡
    // batch twin oracles re-check that under any partitioning.
    val stateParts = spark.conf.getOption("spark.graft.stream.stateParts")
      .getOrElse("8")
    // scope the override to STATEFUL queries: a stateless pass-through
    // stream has no state store to size, and capping its (hypothetical)
    // shuffles at 8 would be a pure de-parallelization; detect state by
    // the stateful logical operators in the analyzed plan. Caveat (knob
    // semantics): a query RESUMED from an existing checkpoint keeps the
    // state partition count it was first run with — Structured Streaming
    // fixes it at first run; the knob only sizes NEW checkpoints.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      Deduplicate, DeduplicateWithinWatermark, Distinct,
      FlatMapGroupsWithState, Join}
    val stateful = df.queryExecution.analyzed.collectFirst {
      case _: Aggregate | _: Deduplicate | _: DeduplicateWithinWatermark |
        _: Distinct | _: FlatMapGroupsWithState | _: Join => ()
    }.isDefined
    val tempConf =
      if (stateful) Seq("spark.sql.shuffle.partitions" -> stateParts)
      else Seq.empty
    withTempConf(spark, tempConf) {
      sink match {
        case StreamSink.Memory(name) =>
          val q = df.writeStream.format("memory").queryName(name)
            .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          spark.table(name)
        case StreamSink.Parquet(path, ckpt, name) =>
          require(outputMode == "append",
            s"parquet sink supports append mode only, got $outputMode")
          val q = df.writeStream.format("parquet")
            .option("path", path).option("checkpointLocation", ckpt)
            .queryName(name)
            .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          spark.read.parquet(path)
      }
    }
  }

  def windowedEventStats(spark: SparkSession, dir: String, fileName: String,
      tsCol: String, keyCol: String, valueCol: String,
      window: String, watermark: String, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val stream = prepare(fileStream(spark, dir, fileName))
    val agged = stream
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(28,4)")).as("sum_dec"))
    runToSink(spark, agged, sink, "append")
      .select(
        col("window.start").cast("date").as("window_start"),
        col(keyCol),
        col("n"),
        col("sum_dec").cast("double").as("sum_value"))
  }

  /** Streaming deduplication with watermark-bounded state
    * (`dropDuplicatesWithinWatermark`): exact-key dedup at ingest, the
    * streaming counterpart of [[graft.operators.DedupOps.exactGroups]].
    * State holds only keys younger than the watermark — bounded memory on
    * an unbounded stream, the shape a 100 TB continuous ingest needs.
    */
  def dedupStream(spark: SparkSession, dir: String, fileName: String,
      keyCols: Seq[String], tsCol: String, watermark: String,
      sink: StreamSink, prepare: DataFrame => DataFrame = identity): DataFrame = {
    val stream = prepare(fileStream(spark, dir, fileName))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)
    runToSink(spark, stream, sink, "append")
  }

  /** Idempotent incremental materialization: finalized event-time windows
    * re-written into a DATE-PARTITIONED parquet table through `foreachBatch`
    * with dynamic partition overwrite — the production sink pattern for a
    * continuously-refreshed aggregate table. Each batch rewrites ONLY the
    * date partitions it contains rows for; partitions outside the batch are
    * untouched, so replays and backfills converge to the same table instead
    * of appending duplicates. (Append sinks duplicate on replay; memory
    * sinks don't persist — this is the shape that survives production.)
    */
  def materializeWindowedStats(spark: SparkSession, dir: String,
      fileName: String, tsCol: String, keyCol: String, valueCol: String,
      window: String, watermark: String, outPath: String, checkpointDir: String,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val stream = prepare(fileStream(spark, dir, fileName))
    val agged = stream
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(28,4)")).as("sum_dec"))
      .select(col("window.start").cast("date").as("window_start"),
        col(keyCol), col("n"),
        col("sum_dec").cast("double").as("sum_value"))
    val writer: (DataFrame, Long) => Unit = (batch, _) =>
      batch.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("window_start")
        .parquet(outPath)
    val q = agged.writeStream
      .outputMode("append")
      .foreachBatch(writer)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // zero micro-batches (empty source, or every window still open under
    // the watermark) → outPath was never created, or holds only _SUCCESS
    // from an all-empty batch write; the correct result is an empty table
    // with the materialized schema, not PATH_NOT_FOUND / schema-inference
    // failure — the streamingCurationStore convention. Data exists iff at
    // least one window_start= partition directory was written.
    def hasPartitions = Option(new java.io.File(outPath).listFiles())
      .exists(_.exists(f => f.isDirectory && f.getName.startsWith("window_start=")))
    if (hasPartitions)
      spark.read.parquet(outPath)
        .select(col("window_start").cast("date").as("window_start"),
          col(keyCol), col("n"), col("sum_value"))
    else
      prepare(Tables.readParquet(spark, s"$dir/$fileName")).limit(0)
        .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
          col(keyCol))
        .agg(count(lit(1)).as("n"),
          sum(col(valueCol).cast("decimal(28,4)")).as("sum_dec"))
        .select(col("window.start").cast("date").as("window_start"),
          col(keyCol), col("n"),
          col("sum_dec").cast("double").as("sum_value"))
  }

  /** Streaming curation ingest — the incremental half of the batch
    * curation capstone: the per-document scoring stage (`score`: quality,
    * language-ID, content hash — pure per-row projections, the
    * embarrassingly-incremental 99% of a curation pipeline's work) runs
    * inside each micro-batch via `foreachBatch` and appends to a curated
    * parquet store. The corpus-GLOBAL stages (canonical-per-hash dedup,
    * decontamination, sampling, manifest) are NOT incremental by nature;
    * they run at publish time over the accumulated store, as one batch
    * plan. Score-on-ingest / curate-on-publish is the continuous-feed
    * shape at corpus scale: O(corpus) row work amortizes into the stream,
    * global decisions stay declarative — and an availableNow replay
    * converges to the same scored ROWS and the same publish-time manifest
    * regardless of how many micro-batches the input arrived in (each row's
    * scored form is a pure function of the row; only the physical
    * batch=<id> layout under the store differs, and the read-back drops
    * that column).
    */
  def streamingCurationStore(spark: SparkSession, dir: String,
      fileName: String, outPath: String, checkpointDir: String,
      score: DataFrame => DataFrame,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // maxFilesPerTrigger caps each micro-batch (availableNow still drains
    // everything) — the spec uses it to prove batch-count invariance
    val stream = fileStream(spark, dir, fileName, maxFilesPerTrigger)
    // IDEMPOTENT ingest: each micro-batch owns the directory keyed by its
    // batchId and OVERWRITES it — a batch retried after a partial write
    // replaces its own output instead of appending duplicates (foreachBatch
    // is at-least-once; blind append would double rows under retry)
    val writer: (DataFrame, Long) => Unit = (batch, batchId) =>
      score(batch).write.mode("overwrite")
        .parquet(s"$outPath/batch=$batchId")
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch(writer)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // zero micro-batches (empty source) → outPath was never created; an
    // empty store with the scored schema is the correct result, not a
    // PATH_NOT_FOUND crash. On the non-empty path, DROP the inferred
    // `batch` partition column (an ingest-layout artifact of the batch=<id>
    // subdirectories) so both branches return the same scored schema and
    // the store reads batch-count-invariant.
    if (new java.io.File(outPath).exists())
      spark.read.parquet(outPath).drop("batch")
    else score(Tables.readParquet(spark, s"$dir/$fileName")).limit(0)
  }

  /** Streaming CDC compaction: a continuously-maintained latest-state-per-key
    * view of a change stream — the streaming counterpart of
    * [[graft.operators.CdcOps.compactLatest]]. One `max_by` aggregation over
    * the lexicographic version tuple, complete-mode output (an upsert VIEW
    * is by nature a full-table result; parquet/append cannot express it).
    *
    * State is one row per live key — the same footprint as the materialized
    * upsert view itself, sharded across executors by key; per-batch work is
    * map-side-combined like the batch operator. Late or out-of-order changes
    * are handled by the version tuple, not arrival order, so replay and
    * live tailing converge to the identical table.
    */
  def compactLatestStream(spark: SparkSession, dir: String, fileName: String,
      keys: Seq[String], ordCols: Seq[String], sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val stream = prepare(fileStream(spark, dir, fileName))
    // the SAME aggregation as the batch operator — convergence to the batch
    // answer is the contract (q73 ≡ q70), so don't re-implement it here
    val agged = graft.operators.CdcOps.compactLatest(stream, keys, ordCols)
    runToSink(spark, agged, sink, "complete")
  }

  /** Gap-based sessionization with custom state
    * (`flatMapGroupsWithState`, SURVEY §2.11 extension): consecutive events
    * of a user belong to one session while inter-event gaps stay within
    * `gapSeconds`. Sessions are emitted when a later event closes them or
    * when the event-time timeout fires after the watermark passes the gap.
    *
    * Scale shape: state is one small record per open session, keyed by
    * user — it shards across executors and is bounded by the watermark, so
    * a year-long stream with millions of users holds only live sessions in
    * memory.
    */
  def sessionize(spark: SparkSession, dir: String, fileName: String,
      gapSeconds: Long, watermark: String, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    import spark.implicits._
    val stream = prepare(fileStream(spark, dir, fileName))
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"), col("value").cast("double"))
      .as[SessionEvent]

    val gapMs = gapSeconds * 1000L
    def close(u: Long, s: SessionState): SessionOut =
      SessionOut(u, new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last),
        s.n, s.sum)

    val sessions = stream.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, events: Iterator[SessionEvent],
            state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val out = state.getOption.map(close(user, _)).toList
            state.remove()
            out.iterator
          } else {
            // batch events arrive unordered — sort before the gap sweep
            val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var cur = state.getOption
            val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed += close(user, s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                state.setTimeoutTimestamp(s.last + gapMs)
              case None => state.remove()
            }
            closed.iterator
          }
        })

    runToSink(spark, sessions.toDF(), sink, "append")
  }

  /** Streaming KMV distinct sketch ≡ batch (q380's twin — the fifth
    * member of the streaming-sketch family after quantile bins, Bloom
    * bits, CMS counters, and HLL registers): per-group state is the
    * ≤ k smallest distinct hashes (`mapGroupsWithState`, k longs
    * bounded forever), each micro-batch folds in as
    * minK(state ∪ batch) — and because minK over a deduplicated union
    * is associative, commutative, AND idempotent, any micro-batching
    * (and update-mode re-emission) lands on the batch sketch exactly:
    * the finisher explodes every reported state, dedupes, and re-ranks,
    * which is itself just one more KMV merge. Shares q380's oracle.
    */
  def streamingKmvDistinct(spark: SparkSession, dir: String,
      fileName: String, sink: StreamSink,
      prepare: DataFrame => DataFrame, k: Int = 64): DataFrame = {
    import spark.implicits._
    import graft.operators.SketchOps
    val keyed = prepare(fileStream(spark, dir, fileName))
    val hashed = keyed.select(col("grp").cast("string"),
      conv(substring(md5(concat(lit("kmv#"), col("k").cast("string"))),
        1, 15), 16, 10).cast("long").as("h"))
      .as[(String, Long)]
    val updated = hashed.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (grp: String, rows: Iterator[(String, Long)],
            state: GroupState[KmvSketch]) => {
          val prev = state.getOption.map(_.hs).getOrElse(Seq.empty[Long])
          val merged = (prev ++ rows.map(_._2)).distinct.sorted.take(k)
          state.update(KmvSketch(merged))
          (grp, merged)
        })
    val sunk = runToSink(spark, updated.toDF("grp", "hs"), sink, "update")
    val flat = sunk.select(col("grp"), explode(col("hs")).as("h"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("h"))
    val kept = flat.withColumn("r", row_number().over(w).cast("long"))
      .filter(col("r") <= k)
      .select(col("grp"), col("r"), col("h"))
    SketchOps.kmvDistinctCard(kept,
      prepare(Tables.readParquet(spark, s"$dir/$fileName")), k)
  }

  /** Stateful running EWMA per key (`mapGroupsWithState` — the recurrence
    * y ← αx + (1−α)y carried as ONE (double, count) record per key): the
    * true sequential exponential smoothing that the batch operator
    * ([[graft.operators.TimeSeriesOps.ewma]]) deliberately truncates to a
    * bounded window. Streaming is where the recurrence belongs — state is
    * O(keys), each micro-batch folds its (sorted) slice into the carried
    * value, and no key ever re-reads history.
    *
    * Determinism contract: within a batch, events fold in (ts, event_id)
    * order; the fold is a fixed IEEE sequence (αx + (1−α)y, y₀ = x₀), so
    * the emitted doubles are BIT-IDENTICAL to any engine replaying the
    * same ordered fold — the oracle needs no rounding at all (the q118
    * PageRank bit-identity precedent). Update mode: each batch re-emits
    * the keys it touched; with AvailableNow replay the final table is one
    * row per key.
    */
  def streamingEwma(spark: SparkSession, dir: String, fileName: String,
      alpha: Double, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    import spark.implicits._
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val stream = prepare(fileStream(spark, dir, fileName))
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[EwmaEvent]
    val beta = 1.0 - alpha
    val smoothed = stream.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (user: Long, events: Iterator[EwmaEvent],
            state: GroupState[EwmaRunning]) => {
          // batch events arrive unordered — sort before the fold; getTime
          // is millis only, so getNanos (equal millis ⇒ equal second ⇒
          // comparable) restores full sub-millisecond order
          val sorted = events.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          val next = sorted.foldLeft(
              state.getOption.getOrElse(EwmaRunning(0.0, 0L))) { (s, e) =>
            if (s.n == 0L) EwmaRunning(e.value, 1L)
            else EwmaRunning(alpha * e.value + beta * s.y, s.n + 1L)
          }
          state.update(next)
          EwmaOut(user, next.n, next.y)
        })
    // Batch-count invariance: the memory sink in update mode APPENDS each
    // micro-batch's re-emission of the keys it touched, so a multi-file
    // input (or maxFilesPerTrigger) would leave one row per (key, batch).
    // Keep only the LAST emission per key — n is strictly increasing per
    // key, so max_by(·, n) is exact and deterministic.
    runToSink(spark, smoothed.toDF(), sink, "update")
      .groupBy(col("user_id"))
      .agg(
        max(col("n_events")).as("n_events"),
        max_by(col("ewma_last"), col("n_events")).as("ewma_last"))
  }

  /** Stream-static broadcast join + per-key aggregation: the streaming side
    * joins a small static dimension (reference J2 as a stream-static join —
    * annotations are static, sensor readings stream). The static side is
    * broadcast so the stream never shuffles before aggregation. NOTE: the
    * aggregate is keyed by the static key, not an event-time window, so
    * append mode cannot finalize it — this runs in complete mode and its
    * state is proportional to the (small, broadcast) dimension, not to the
    * stream; the watermark only bounds the join buffer.
    */
  /** Stream-stream inner join with a watermarked time-range condition — the
    * attribution shape: each left event (e.g. purchase) pairs with the right
    * events (e.g. clicks) of the same key in the `rangeSeconds` window ending
    * at the left event. BOTH sides are unbounded streams; the watermarks plus
    * the range bound tell Spark exactly how long each side's rows must stay
    * in join state, so state is bounded on unbounded input — the property
    * that makes this run forever at ingest scale. Inner join: matches are
    * emitted as they form (the watermark governs eviction, not emission), so
    * the finite replay equals the batch join the oracle runs.
    */
  /** Run `body` with the given session confs set, restoring (or
    * unsetting) the previous values after — the streaming engine reads
    * them at query START, and every runToSink query starts and finishes
    * inside the call, so the override is scoped to exactly one query
    * IN TIME, not per-query: the confs are session-global while `body`
    * runs, so a query started CONCURRENTLY on the same SparkSession
    * would inherit them. Every caller today runs single-threaded (the
    * bench concurrency streams exclude streaming queries); if that ever
    * changes, scope the override via a dedicated session instead.
    */
  private def withTempConf[T](spark: SparkSession,
      kvs: Seq[(String, String)])(body: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Stream-stream watermarked range join. Right-side columns come back
    * suffixed `_r` (the two sides may share a schema, as in a self-join
    * on one event stream).
    *
    * Two tuning knobs, both measured on the bench drift (round-14 probe,
    * sf0.1: 13.2 s → 5.6 s wall):
    *
    *   - `noDataBatch = false` skips the trailing no-data micro-batch.
    *     For an INNER join that batch only EVICTS state and emits
    *     nothing (emission is watermark-independent — the very property
    *     that makes the finite replay hash the batch oracle), yet it
    *     paid a full per-partition state-store commit round (~4 s at 32
    *     partitions). Results are identical with it off. The OUTER
    *     variant must keep it: null emission is watermark-driven.
    *   - `stateParts` pins `spark.sql.shuffle.partitions` for this one
    *     query: stream-join state lives in 4 stores × partitions, and
    *     each partition pays a fixed commit cost per micro-batch — state
    *     partitioning is a SIZING decision (rows of live state), not a
    *     mirror of the session's batch shuffle width. At bench scale
    *     (~40 k state rows) 8 partitions more than suffices; at 100 TB
    *     you size it UP the same way, decoupled from the core count.
    */
  def streamStreamRangeJoin(spark: SparkSession, dir: String, fileName: String,
      keyCol: String, tsCol: String,
      leftPred: org.apache.spark.sql.Column, rightPred: org.apache.spark.sql.Column,
      rangeSeconds: Long, watermark: String, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity,
      noDataBatch: Boolean = true,
      stateParts: Option[Int] = None): DataFrame = {
    val l = prepare(fileStream(spark, dir, fileName))
      .filter(leftPred).withWatermark(tsCol, watermark)
    val rBase = prepare(fileStream(spark, dir, fileName)).filter(rightPred)
    val r = rBase.columns.foldLeft(rBase)(
        (d, c) => d.withColumnRenamed(c, c + "_r"))
      .withWatermark(tsCol + "_r", watermark)
    val cond = col(keyCol) === col(keyCol + "_r") &&
      col(tsCol + "_r") <= col(tsCol) &&
      col(tsCol + "_r") >= col(tsCol) - expr(s"INTERVAL $rangeSeconds SECONDS")
    val kvs = Seq(
      "spark.sql.streaming.noDataMicroBatches.enabled" ->
        noDataBatch.toString) ++
      // runToSink applies the family-wide state sizing; the per-call knob
      // feeds it through the graft conf so an explicit value still wins
      stateParts.map(p => "spark.graft.stream.stateParts" -> p.toString)
    withTempConf(spark, kvs) {
      runToSink(spark, l.join(r, cond), sink, "append")
    }
  }

  /** LEFT-OUTER stream-stream range join: same shape as
    * [[streamStreamRangeJoin]], but unmatched left rows survive with null
    * right columns. Null emission is WATERMARK-DRIVEN: a left row is
    * released as unmatched only once the watermark clears the full join
    * window it keeps open (left.ts + rangeSeconds), so rows younger than
    * (max event time − watermark delay − range) are withheld at
    * end-of-input — callers comparing against a batch oracle must restrict
    * both sides to that matured horizon, at millisecond grain (Spark
    * tracks event-time watermarks in ms). State stays bounded exactly as
    * in the inner variant: the range condition lets Spark evict both sides
    * as the watermark moves.
    */
  def streamStreamRangeJoinOuter(spark: SparkSession, dir: String,
      fileName: String, keyCol: String, tsCol: String,
      leftPred: org.apache.spark.sql.Column, rightPred: org.apache.spark.sql.Column,
      rangeSeconds: Long, watermark: String, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity,
      stateParts: Option[Int] = None): DataFrame = {
    val l = prepare(fileStream(spark, dir, fileName))
      .filter(leftPred).withWatermark(tsCol, watermark)
    val rBase = prepare(fileStream(spark, dir, fileName)).filter(rightPred)
    val r = rBase.columns.foldLeft(rBase)(
        (d, c) => d.withColumnRenamed(c, c + "_r"))
      .withWatermark(tsCol + "_r", watermark)
    val cond = col(keyCol) === col(keyCol + "_r") &&
      col(tsCol + "_r") <= col(tsCol) &&
      col(tsCol + "_r") >= col(tsCol) - expr(s"INTERVAL $rangeSeconds SECONDS")
    // no noDataBatch knob here ON PURPOSE: unmatched-left emission is
    // watermark-DRIVEN, and the trailing no-data batch is what releases
    // the matured unmatched rows — skipping it would drop them
    val kvs = stateParts.map(p =>
      "spark.graft.stream.stateParts" -> p.toString).toSeq
    withTempConf(spark, kvs) {
      runToSink(spark, l.join(r, cond, "leftOuter"), sink, "append")
    }
  }

  def streamStaticJoinStats(spark: SparkSession, dir: String, fileName: String,
      static: DataFrame, streamKey: String, staticKey: String,
      tsCol: String, valueCol: String, watermark: String,
      sink: StreamSink, prepare: DataFrame => DataFrame = identity): DataFrame = {
    val stream = prepare(fileStream(spark, dir, fileName))
    val joined = stream
      .withWatermark(tsCol, watermark)
      .join(broadcast(static), col(streamKey) === static(staticKey))
    val agged = joined
      .groupBy(col(staticKey))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(28,4)")).as("sum_dec"))
    // complete output mode → memory sink only (see runToSink)
    runToSink(spark, agged, sink, "complete")
      .select(col(staticKey), col("n"),
        col("sum_dec").cast("double").as("sum_value"))
  }

  /** STREAMING drift monitor: the q113 PSI maintained incrementally. The
    * reference window's bounds come from one static scan (bin edges must
    * be frozen before monitoring starts — same contract as a frozen
    * scaler); the stream then keeps per-(key, bin) reference/current
    * counters as a complete-mode keyed aggregation — counts are pure
    * additive state, so the counter frame (keys × bins rows, tiny) is
    * forever-fresh and ANY snapshot of it finishes into the PSI report
    * via [[graft.operators.DriftOps.psiFromCells]]. Run over a bounded
    * replay it lands on exactly the batch q113 answer — the convergence
    * contract the oracle checks (the q73/q70 CDC pattern applied to
    * drift).
    */
  def streamingPsiDrift(spark: SparkSession, dir: String, fileName: String,
      keyCol: String, tsCol: String, valCol: String, nBins: Int,
      sink: StreamSink, prepare: DataFrame => DataFrame = identity): DataFrame = {
    val static = prepare(Tables.readParquet(spark, s"$dir/$fileName"))
    val usCol = unix_micros(col(tsCol))
    val range = static.agg(min(usCol).as("__mn_us"), max(usCol).as("__mx_us"))
    val bounds = static
      .crossJoin(broadcast(range))
      .filter(usCol * 2 < col("__mn_us") + col("__mx_us"))
      .groupBy(col(keyCol))
      .agg(min(col(valCol)).as("__lo"), max(col(valCol)).as("__hi"))
      .crossJoin(broadcast(range))
    val stream = prepare(fileStream(spark, dir, fileName))
    val counters = stream
      .join(broadcast(bounds), keyCol)
      .withColumn("__is_ref",
        usCol * 2 < col("__mn_us") + col("__mx_us"))
      .withColumn("__w", (col("__hi") - col("__lo")) / lit(nBins.toDouble))
      .withColumn("__bin",
        when(col("__w") === 0.0, lit(0))
          .otherwise(least(lit(nBins - 1), greatest(lit(0),
            floor((col(valCol) - col("__lo")) / col("__w")).cast("int")))))
      .groupBy(col(keyCol), col("__bin"))
      .agg(
        sum(when(col("__is_ref"), 1L).otherwise(0L)).as("__ref"),
        sum(when(!col("__is_ref"), 1L).otherwise(0L)).as("__cur"))
    val sunk = runToSink(spark, counters, sink, "complete")
    // pin the counter snapshot (keys × bins rows — tiny, and a memory-sink
    // table anyway): psiFromCells self-joins the frame, and joining a
    // memory-sink VIEW against its own aggregate trips conflicting
    // attribute resolution
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rows.add)
    val cells = spark.createDataFrame(rows, sunk.schema)
    graft.operators.DriftOps.psiFromCells(cells, keyCol, nBins)
  }

  /** Streaming log-bin quantile sketch: the [[graft.operators.SketchOps]]
    * additive (digit-count, two-significant-digit) counters maintained in
    * complete-mode across micro-batches, finished with the SAME
    * `quantilesFromBins` step as the batch path — so the streaming
    * estimate converges to the batch sketch's EXACT output on the same
    * data regardless of micro-batch boundaries (additive counters commute
    * with batching; the q113/q131 batch≡stream contract applied to
    * quantiles). State is the sketch itself: ≤ 90·digits rows per group,
    * bounded forever, no watermark needed.
    */
  def streamingLogBinQuantiles(spark: SparkSession, dir: String,
      fileName: String, grpCol: String, valueCol: String,
      quantiles: Seq[Double], sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    // the batch build runs unchanged on the unbounded frame — complete
    // mode keeps the counters additive across micro-batches
    val counters = graft.operators.SketchOps.logBins(
      prepare(fileStream(spark, dir, fileName)), grpCol, valueCol)
    val sunk = runToSink(spark, counters, sink, "complete")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rows.add)
    val bins = spark.createDataFrame(rows, sunk.schema)
    val all = bins.groupBy(col("e"), col("m"))
      .agg(sum(col("n")).as("n"))
      .withColumn(grpCol, lit("ALL"))
      .select(col(grpCol), col("e"), col("m"), col("n"))
    graft.operators.SketchOps.quantilesFromBins(
      bins.unionByName(all), grpCol, quantiles)
  }

  /** Streaming HYPERLOGLOG build ≡ batch (q162's twin — completing the
    * streaming-sketch family: quantile log-bins q202, Bloom bits q213,
    * count-min q221, and now distinct-count registers): the register
    * frame is a streaming `groupBy(grp, j) MAX(rho)` whose state is
    * 64 registers per group forever, and MAX is associative/commutative/
    * idempotent, so the streamed registers equal the batch sketch
    * EXACTLY under any micro-batching (even replays — max is idempotent
    * where a sum would double-count). The estimate finishing step and
    * exact ground truth run in batch on the streamed registers.
    */
  def streamingHllDistinct(spark: SparkSession, dir: String,
      fileName: String, sink: StreamSink,
      prepare: DataFrame => DataFrame): DataFrame = {
    import graft.operators.SketchOps
    val keyed = prepare(fileStream(spark, dir, fileName))
    val regs = SketchOps.hllRegisters(keyed, Seq("grp"), col("k"))
    val sunk = runToSink(spark, regs, sink, "complete")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rows.add)
    val streamed = spark.createDataFrame(rows, sunk.schema)
    val regsAll = streamed.groupBy(col("j")).agg(max(col("m_j")).as("m_j"))
      .withColumn("grp", lit("ALL"))
      .select(col("grp"), col("j"), col("m_j"))
    val est = SketchOps.hllEstimate(
      streamed.unionByName(regsAll), Seq("grp"))
    val keyedBatch = prepare(Tables.readParquet(spark, s"$dir/$fileName"))
    val exact = keyedBatch
      .unionByName(keyedBatch.withColumn("grp", lit("ALL")))
      .groupBy(col("grp")).agg(countDistinct(col("k")).as("n_exact"))
    est.join(exact, "grp")
      .withColumn("rel_err",
        round((col("hll_estimate") - col("n_exact")) /
          col("n_exact").cast("double"), 6))
      .orderBy(col("grp"))
  }

  /** Streaming Welch's t ≡ batch (q266's twin — the drift battery joins
    * the streaming-sketch family): the
    * [[graft.operators.DriftOps.welchMoments]] frame is pure additive
    * state — two counts and four exact per-row decimal sums — maintained
    * as one complete-mode global aggregation (1 row, bounded forever, no
    * watermark), so the streamed moments equal the batch moments EXACTLY
    * under any micro-batching (decimal sums commute with batching), and
    * the SAME [[graft.operators.DriftOps.welchFromMoments]] finisher
    * yields the bit-identical report the shared q266 oracle checks.
    */
  def streamingWelchTTest(spark: SparkSession, dir: String,
      fileName: String, valCol: String, groupCol: String,
      groupA: String, groupB: String, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val moments = graft.operators.DriftOps.welchMoments(
      prepare(fileStream(spark, dir, fileName)),
      valCol, groupCol, groupA, groupB)
    val sunk = runToSink(spark, moments, sink, "complete")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rows.add)
    graft.operators.DriftOps.welchFromMoments(
      spark.createDataFrame(rows, sunk.schema))
  }

  /** Streaming fairness monitor ≡ batch (q309's twin): the per-group
    * confusion-cell frame ([[graft.metrics.MetricQueries.fairnessCells]])
    * is pure additive complete-mode state — |groups| rows of exact
    * BIGINT counts — and the SAME
    * [[graft.metrics.MetricQueries.fairnessFromCells]] finisher lands on
    * the batch card bit-for-bit under any micro-batching. The production
    * shape of a bias gate: counts stay forever-fresh in the stream; the
    * rates/gaps re-assemble whenever the audit question is asked.
    */
  def streamingFairnessCard(spark: SparkSession, dir: String,
      fileName: String, groupCol: String,
      labelExpr: org.apache.spark.sql.Column,
      predExpr: org.apache.spark.sql.Column, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val cells = graft.metrics.MetricQueries.fairnessCells(
      prepare(fileStream(spark, dir, fileName)),
      groupCol, labelExpr, predExpr)
    val sunk = runToSink(spark, cells, sink, "complete")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rows.add)
    graft.metrics.MetricQueries.fairnessFromCells(
      spark.createDataFrame(rows, sunk.schema), groupCol)
  }

  /** Streaming CUSUM change-point ≡ batch (q267's twin): the per-day
    * decimal mass frame ([[graft.operators.DriftOps.cusumDailyMasses]])
    * is pure additive state — one complete-mode (day) aggregation whose
    * state is bounded by the calendar span — and the SAME
    * [[graft.operators.DriftOps.cusumFromDaily]] finisher lands on the
    * batch report bit-for-bit under any micro-batching (decimal sums
    * commute with batching). The monitor shape: keep the day masses
    * fresh in the stream, re-finish the bounded frame whenever the
    * change-point question is asked.
    */
  def streamingCusumChangePoint(spark: SparkSession, dir: String,
      fileName: String, tsCol: String, valCol: String, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val daily = graft.operators.DriftOps.cusumDailyMasses(
      prepare(fileStream(spark, dir, fileName)), tsCol, valCol)
    val sunk = runToSink(spark, daily, sink, "complete")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rows.add)
    graft.operators.DriftOps.cusumFromDaily(
      spark.createDataFrame(rows, sunk.schema))
  }

  /** Streaming BH-FDR drift screen ≡ batch (q276's twin): the per-group
    * moment frame ([[graft.operators.DriftOps.bhFdrMoments]] — one row
    * per group, every column a count or exact decimal sum) is additive
    * complete-mode state; the SAME
    * [[graft.operators.DriftOps.bhFdrFromMoments]] finisher (one-vs-rest
    * Welch z, shared normal-tail polynomial, BH ranking) lands on the
    * batch report bit-for-bit under any micro-batching. The monitor
    * shape for a segment fleet: keep |segments| rows of state fresh,
    * re-rank whenever the alarm question is asked.
    */
  def streamingBhFdr(spark: SparkSession, dir: String, fileName: String,
      valCol: String, groupCol: String, alpha: Double, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val moments = graft.operators.DriftOps.bhFdrMoments(
      prepare(fileStream(spark, dir, fileName)), valCol, groupCol)
    val sunk = runToSink(spark, moments, sink, "complete")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rows.add)
    graft.operators.DriftOps.bhFdrFromMoments(
      spark.createDataFrame(rows, sunk.schema), alpha, groupCol)
  }

  /** Streaming Dunning keyness ≡ batch (q322's twin): the (source,
    * term) count frame ([[graft.operators.TextOps.keynessCells]]) is
    * pure additive complete-mode state — counts merge across
    * micro-batches — and the SAME
    * [[graft.operators.TextOps.keynessFromCells]] finisher (per-term /
    * per-source totals, G², top-k) lands on the batch card bit-for-bit
    * under any micro-batching. The monitor shape for a live corpus
    * feed: keep the vocab-sized state fresh, re-rank "what words
    * characterize this source" whenever asked.
    */
  def streamingKeyness(spark: SparkSession, dir: String, fileName: String,
      srcCol: String, textCol: String, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val cells = graft.operators.TextOps.keynessCells(
      prepare(fileStream(spark, dir, fileName)), srcCol, textCol)
    val sunk = runToSink(spark, cells, sink, "complete")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rows.add)
    graft.operators.TextOps.keynessFromCells(
      spark.createDataFrame(rows, sunk.schema))
  }

  /** Streaming daily-count ACF ≡ batch (q269's twin): the (day, count)
    * frame is additive complete-mode state bounded by the calendar
    * span; the SAME [[graft.operators.TimeSeriesOps
    * .dailyCountAcfFromCounts]] finisher (calendar spine, lag joins,
    * exact moments) lands on the batch card bit-for-bit under any
    * micro-batching.
    */
  def streamingDailyAcf(spark: SparkSession, dir: String,
      fileName: String, tsCol: String, maxLag: Int, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val counts = prepare(fileStream(spark, dir, fileName))
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val sunk = runToSink(spark, counts, sink, "complete")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rows.add)
    graft.operators.TimeSeriesOps.dailyCountAcfFromCounts(
      spark.createDataFrame(rows, sunk.schema), maxLag)
  }

  /** Streaming Page–Hinkley ≡ batch (q342's twin — the sequential drift
    * monitor joins the streaming family): the (day, count) frame is
    * additive complete-mode state bounded by the calendar span; the
    * SAME [[graft.operators.TimeSeriesOps.pageHinkleyFromCounts]]
    * finisher (spine, running mean, decimal excursion walk) lands on
    * the batch card bit-for-bit under any micro-batching — the
    * always-fresh "has the daily level shifted" monitor.
    */
  def streamingPageHinkley(spark: SparkSession, dir: String,
      fileName: String, tsCol: String, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val counts = prepare(fileStream(spark, dir, fileName))
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val sunk = runToSink(spark, counts, sink, "complete")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rows.add)
    graft.operators.TimeSeriesOps.pageHinkleyFromCounts(
      spark.createDataFrame(rows, sunk.schema))
  }

  /** Streaming seasonal decomposition ≡ batch (q348's twin): the
    * (day, count) frame is additive complete-mode state; the SAME
    * [[graft.operators.TimeSeriesOps.seasonalDecompositionFromCounts]]
    * finisher lands on the batch card bit-for-bit under any
    * micro-batching — the always-fresh weekly-rhythm monitor.
    */
  def streamingSeasonalDecomposition(spark: SparkSession, dir: String,
      fileName: String, tsCol: String, sink: StreamSink,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val counts = prepare(fileStream(spark, dir, fileName))
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val sunk = runToSink(spark, counts, sink, "complete")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rows.add)
    graft.operators.TimeSeriesOps.seasonalDecompositionFromCounts(
      spark.createDataFrame(rows, sunk.schema))
  }

  /** Streaming dedup-on-ingest — the production shape of the WHOLE dedup
    * family in one stage, chaining q216's persisted band-store admission
    * with q225's Levenshtein verification inside `foreachBatch`: each
    * micro-batch reads the store the previous batches admitted, bands its
    * docs, verifies ONLY the banded collisions with exact edit distance,
    * writes its verdicts, and appends the admitted docs' bands + prefixes
    * back into the store ([[graft.operators.DedupOps.admitVerifyBatch]]).
    * Per-ingest cost is O(batch + collisions), independent of corpus size
    * — the store is additive state, never recomputed.
    *
    * Convergence contract (the q213/q221/q222 convention, but for an
    * ORDER-DEPENDENT operator): admission history depends on batch
    * boundaries, so the stream is pinned to deterministic boundaries —
    * one parquet file per wave under `wavesDir`, `maxFilesPerTrigger=1`,
    * ascending modification time — and then converges row-for-row to
    * [[graft.operators.DedupOps.dedupIngestWaves]] replaying the same
    * waves as one batch plan (IngestDedupSpec pins it). The verdict write
    * is keyed by batchId and OVERWRITES its own directory (the
    * streamingCurationStore idempotence convention: foreachBatch is
    * at-least-once; a blind append would double verdicts under retry).
    */
  def streamingDedupIngest(spark: SparkSession, wavesDir: String,
      idCol: String, textCol: String, storeRoot: String,
      shingleSize: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 4,
      prefixLen: Int = 200, minSim: Double = 0.8): DataFrame = {
    import graft.operators.DedupOps
    val schema = spark.read.parquet(wavesDir).schema
    // every store write is keyed by batchId and OVERWRITES its own
    // batch=<id> directory — a retried micro-batch replaces its own state
    // instead of appending duplicates (foreachBatch is at-least-once).
    // Read-back drops the inferred `batch` layout column.
    def storePart(name: String, like: DataFrame): DataFrame = {
      val d = new java.io.File(s"$storeRoot/$name")
      val hasData = d.isDirectory && d.listFiles()
        .exists(f => f.isDirectory && f.getName.startsWith("batch="))
      if (hasData)
        spark.read.parquet(d.toString)
          .select(like.columns.toIndexedSeq.map(col): _*)
      else like.limit(0)
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(wavesDir)
    val writer: (DataFrame, Long) => Unit = (batch, batchId) => {
      val likeBands = DedupOps.lshBands(DedupOps.minhashSignatures(
        batch.limit(0), idCol, textCol, shingleSize, numHashes),
        idCol, numHashes, rowsPerBand)
      val likeTexts = batch.limit(0).select(col(idCol),
        substring(trim(col(textCol)), 1, prefixLen).as("prefix"))
      val bands = storePart("bands", likeBands)
      val texts = storePart("texts", likeTexts)
      val (verdicts, _, _) = DedupOps.admitVerifyBatch(
        bands, texts, batch, idCol, textCol, shingleSize, numHashes,
        rowsPerBand, prefixLen, minSim)
      // verdicts reflect the PRE-batch store; write them FIRST, then
      // derive the admitted set from the WRITTEN file — the state appends
      // below mutate the store, and a lazily recomputed verdict plan
      // would re-read it mid-mutation
      verdicts.withColumn("wave", lit(batchId))
        .write.mode("overwrite").parquet(s"$storeRoot/verdicts/batch=$batchId")
      val admitted = spark.read
        .parquet(s"$storeRoot/verdicts/batch=$batchId")
        .filter(col("admitted") === 1L).select(col(idCol))
      DedupOps.lshBands(DedupOps.minhashSignatures(
          batch, idCol, textCol, shingleSize, numHashes),
          idCol, numHashes, rowsPerBand)
        .join(admitted, Seq(idCol))
        .write.mode("overwrite").parquet(s"$storeRoot/bands/batch=$batchId")
      batch.select(col(idCol),
          substring(trim(col(textCol)), 1, prefixLen).as("prefix"))
        .join(admitted, Seq(idCol))
        .write.mode("overwrite").parquet(s"$storeRoot/texts/batch=$batchId")
    }
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch(writer)
      .option("checkpointLocation", s"$storeRoot/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(s"$storeRoot/verdicts")
      .select(col(idCol), col("wave").cast("long").as("wave"),
        col("n_candidates"), col("n_verified"), col("admitted"))
      .orderBy(col(idCol))
  }

  /** Streaming IVF index maintenance — the persisted-index sibling of
    * [[streamingDedupIngest]]: the FIRST micro-batch draws the portable
    * coarse quantizer from its own vectors and freezes it (the
    * [[graft.operators.SimilarityOps.writeIvfIndex]] append convention);
    * every later batch assigns against the frozen centroids and lands in
    * the list-partitioned layout — one broadcast join per ingest, no
    * recluster, O(batch) forever. Batch boundaries only decide WHICH
    * rows seed the quantizer; given the same deterministic wave split
    * the streamed index equals the batch build exactly (q230's oracle
    * hash-checks the search over it; IvfIndexSpec pins assignment-set
    * equality). Writes are batchId-keyed and overwrite their own
    * directory — the at-least-once retry convention.
    */
  def streamingIvfIngest(spark: SparkSession, wavesDir: String,
      idCol: String, vecCol: String, indexRoot: String, nlist: Int,
      simRound: Option[Int] = Some(6),
      failAtBatch: Option[Long] = None): Unit = {
    import graft.operators.SimilarityOps
    val schema = spark.read.parquet(wavesDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(wavesDir)
    val writer: (DataFrame, Long) => Unit = (batch, batchId) => {
      val cents =
        if (batchId == 0L) {
          val c = SimilarityOps.ivfCentroidsPortable(
            batch, idCol, vecCol, nlist)
          c.write.mode("overwrite").parquet(s"$indexRoot/centroids")
          spark.read.parquet(s"$indexRoot/centroids")
        } else spark.read.parquet(s"$indexRoot/centroids")
      SimilarityOps.ivfAssign(batch, idCol, vecCol, cents, simRound)
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$indexRoot/assigned/batch=$batchId")
      // fault injection for the recovery contract: die AFTER the sink
      // write but BEFORE the checkpoint commit — the worst crash window.
      // A restart from the checkpoint re-runs this batch (at-least-once)
      // and its batchId-keyed overwrite replaces the orphaned partial
      // state instead of duplicating it (the spec kills here and asserts
      // convergence to the uninterrupted build).
      failAtBatch.filter(_ == batchId).foreach { b =>
        throw new IllegalStateException(
          s"injected crash after batch $b sink write")
      }
    }
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch(writer)
      .option("checkpointLocation", s"$indexRoot/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Read the streamed IVF index back as ([[graft.operators.SimilarityOps
    * .ivfAssign]]-shaped assignments, centroids) — the `batch` layout
    * column is dropped, list ids restored to int.
    */
  def readStreamedIvfIndex(spark: SparkSession, indexRoot: String,
      idCol: String): (DataFrame, DataFrame) = {
    val cents = spark.read.parquet(s"$indexRoot/centroids")
    val assigned = spark.read.parquet(s"$indexRoot/assigned")
      .select(col(idCol), col("emb"),
        col("centroid_id").cast("int").as("centroid_id"))
    (assigned, cents)
  }

  /** Streaming COUNT-MIN build ≡ batch (q123's twin — the third member
    * of the streaming-sketch family after the quantile log-bins q202 and
    * the Bloom bits q213): the sketch is maintained as a streaming
    * `groupBy(depth, bucket)` SUM whose state is depth×width counters
    * forever — no term dictionary, no per-key state — and because
    * counters are additive, the streamed sketch equals the batch sketch
    * EXACTLY regardless of micro-batching. The exact top-k ground truth
    * for the card comes from the batch side (it is the card's reference
    * column, not sketch state).
    */
  def streamingCmsHeavyHitters(spark: SparkSession, dir: String,
      fileName: String, textCol: String, depth: Int, width: Int, k: Int,
      sink: StreamSink): DataFrame = {
    import graft.operators.SketchOps
    val toks = fileStream(spark, dir, fileName)
      .select(explode(split(trim(col(textCol)), " ")).as("term"))
    val counters = SketchOps.cmsCountersFromTokens(toks, "term",
      depth, width)
    val sunk = runToSink(spark, counters, sink, "complete")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rows.add)
    val streamed = spark.createDataFrame(rows, sunk.schema)
    val terms = Tables.readParquet(spark, s"$dir/$fileName")
      .select(explode(split(trim(col(textCol)), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
    SketchOps.cmsFinishHeavyHitters(terms, streamed, depth, width, k)
  }

  /** Streaming Bloom-filter build ≡ batch (q206's twin, the q201/q202
    * convention for the Bloom member of the sketch family): the filter is
    * maintained as a streaming `groupBy(pos)` whose state is AT MOST
    * `mBits` rows — bounded forever, the whole point of a Bloom ingest
    * gate — and because bit-set union is associative/commutative, the
    * final position set equals the batch filter EXACTLY regardless of
    * micro-batching. The probe/audit finishing step then runs in batch on
    * the streamed bits; ground-truth fields (n_build_keys, exact
    * membership) come from the batch side by construction — they are the
    * card's reference columns, not filter state.
    */
  def streamingBloomFpCard(spark: SparkSession, dir: String,
      buildFile: String, probeFile: String,
      buildKey: String, probeKey: String,
      kHashes: Int, mBits: Int, sink: StreamSink,
      prepareBuild: DataFrame => DataFrame = identity): DataFrame = {
    import graft.operators.SketchOps
    val keyed = prepareBuild(fileStream(spark, dir, buildFile))
      .select(col(buildKey).cast("string").as("k"))
    val posCounts = keyed
      .select(explode(SketchOps.bloomPositions(col("k"), kHashes, mBits))
        .as("pos"))
      .groupBy(col("pos")).count()
    val sunk = runToSink(spark, posCounts, sink, "complete")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.select(col("pos")).collect().foreach(rows.add)
    val bits = spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType))))
    val bKeys = prepareBuild(Tables.readParquet(spark, s"$dir/$buildFile"))
      .select(col(buildKey).cast("string").as("k")).distinct()
    SketchOps.bloomCardFromBits(bKeys, bits,
      Tables.readParquet(spark, s"$dir/$probeFile"), probeKey, kHashes, mBits)
  }

  /** Streaming PII scrub card ≡ batch (q231's twin — the continuous-
    * ingest shape of the scrub pass): detection and redaction are
    * STATELESS per-row regexp projections, and every card column is an
    * additive SUM/COUNT over them, so the streaming groupBy(source) —
    * state bounded at one row per source forever — equals the batch card
    * under any micro-batching. The whole card plan is passed in and runs
    * unchanged on the unbounded frame (the q202/q213/q221/q222
    * sketch-twin convention: same columns, same oracle as the batch
    * query).
    */
  def streamingPiiCard(spark: SparkSession, dir: String, fileName: String,
      sink: StreamSink, card: DataFrame => DataFrame): DataFrame =
    runToSink(spark, card(fileStream(spark, dir, fileName)),
      sink, "complete")
      .orderBy(col("source"))

  /** Streaming sequence-packing card ≡ batch (q248's twin) — the
    * append-only-ingest shape of a GLOBAL prefix computation: waves are
    * id-ordered ranges (ids grow with ingest time — the natural
    * append-log order), so
    *
    *   1. **Offset pass** — each micro-batch records its token total
    *      batchId-keyed (bounded state: one row per batch);
    *   2. **Fragment pass** — each batch re-computes its docs' global
    *      start offsets from the FROZEN earlier-wave totals and emits
    *      its partial card (docs, tokens, fragments, splits) — all four
    *      ADDITIVE, so the summed card equals the batch card exactly.
    *
    * Finishing derives contexts/tail-waste from the exact totals; the
    * card shares q248's oracle.
    */
  def streamingPackingCard(spark: SparkSession, wavesDir: String,
      idCol: String, textCol: String, contextLen: Int,
      storeRoot: String, bucketWidth: Int = 1000): DataFrame = {
    import graft.operators.SplitOps
    val schema = spark.read.parquet(wavesDir).schema
    val pass1: (DataFrame, Long) => Unit = (batch, batchId) => {
      batch.select(
          size(split(trim(col(textCol)), " ")).cast("long").as("__tok"))
        .agg(sum(col("__tok")).as("total"),
          count(lit(1)).as("n_docs"))
        .withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$storeRoot/totals/batch=$batchId")
    }
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(wavesDir)
      .writeStream.outputMode("append").foreachBatch(pass1)
      .option("checkpointLocation", s"$storeRoot/ckpt1")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val totals = spark.read.parquet(s"$storeRoot/totals")
      .select(col("batch_id").cast("long").as("batch_id"), col("total"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pass2: (DataFrame, Long) => Unit = (batch, batchId) => {
      val waveOffset = totals.filter(_._1 < batchId).values.sum
      // the in-wave prefix machinery is the batch packingCard's; the
      // frozen wave offset shifts every start by a constant, which the
      // fragment arithmetic absorbs exactly
      val card = SplitOps.packingCardPartial(batch, idCol, textCol,
        contextLen, bucketWidth, waveOffset)
      card.withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$storeRoot/partials/batch=$batchId")
    }
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(wavesDir)
      .writeStream.outputMode("append").foreachBatch(pass2)
      .option("checkpointLocation", s"$storeRoot/ckpt2")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val partials = spark.read.parquet(s"$storeRoot/partials")
    SplitOps.packingCardFinish(partials, contextLen)
  }

  /** Streaming cluster-occupancy drift ≡ batch (q251's twin) in the
    * TWO-PASS streaming shape a corpus-wide portable quantizer needs:
    *
    *   1. **Centroid pass** — the portable centroid set is the nlist
    *      SMALLEST two-round-draw keys over the whole corpus, a min-k
    *      that is monotone under union: each micro-batch merges its
    *      local min-k into a persisted nlist-row candidate store
    *      (min-k(store ∪ batch) — idempotent under at-least-once
    *      replay, the q216 additive-state convention; state is nlist
    *      rows FOREVER).
    *   2. **Occupancy pass** — with centroids frozen, per-slice cluster
    *      counts are ADDITIVE: each micro-batch assigns against the
    *      broadcast store and writes its own batchId-keyed count
    *      partition (overwrite-own-directory retry safety); the final
    *      counts are one SUM over partitions.
    *
    * Finishing runs [[graft.operators.SimilarityOps.occupancyDriftFinish]]
    * on the summed counts — the streamed card equals the batch card
    * EXACTLY under any micro-batching, so it shares q251's oracle.
    */
  def streamingClusterDrift(spark: SparkSession, wavesDir: String,
      idCol: String, vecCol: String, sliceB: org.apache.spark.sql.Column,
      storeRoot: String, nlist: Int): DataFrame = {
    import graft.operators.SimilarityOps
    val schema = spark.read.parquet(wavesDir).schema
    val candPath = s"$storeRoot/cand"
    val p1 = 1000003L
    val p2 = 9999991L
    def drawn(df: DataFrame): DataFrame = {
      val id = col(idCol).cast("long")
      val idDiv = (id.cast("decimal(38,0)") / lit(p1)).cast("long")
      val x1 = pmod(pmod(id, lit(p1)) * lit(2654435761L), lit(p1))
      val x2 = pmod(pmod(x1 + idDiv, lit(p2)) * lit(22695477L), lit(p2))
      df.select(x2.as("__draw"), id.as("__id"),
        col(vecCol).cast("array<double>").as("centroid"))
    }
    def minK(df: DataFrame): Array[org.apache.spark.sql.Row] =
      df.orderBy(col("__draw"), col("__id")).limit(nlist).collect()
    val candSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__draw",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val pass1: (DataFrame, Long) => Unit = (batch, _) => {
      // bounded-state merge: nlist rows collected, nlist rows written
      val local = minK(drawn(batch))
      val prior =
        if (new java.io.File(candPath).exists())
          spark.read.parquet(candPath).collect()
        else Array.empty[org.apache.spark.sql.Row]
      val merged = minK(spark.createDataFrame(
        java.util.Arrays.asList(prior ++ local: _*), candSchema))
      spark.createDataFrame(
          java.util.Arrays.asList(merged: _*), candSchema)
        .coalesce(1).write.mode("overwrite").parquet(candPath)
    }
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(wavesDir)
      .writeStream.outputMode("append").foreachBatch(pass1)
      .option("checkpointLocation", s"$storeRoot/ckpt1")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    import org.apache.spark.sql.expressions.Window
    val cents = spark.read.parquet(candPath)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("__draw"), col("__id"))))
      .select((col("rn") - 1).cast("int").as("centroid_id"),
        col("centroid"))
    val pass2: (DataFrame, Long) => Unit = (batch, batchId) => {
      SimilarityOps.ivfAssign(batch, idCol, vecCol, cents, Some(6))
        .join(batch.select(col(idCol), sliceB.as("__b")), idCol)
        .groupBy(col("centroid_id"))
        .agg(sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$storeRoot/occ/batch=$batchId")
    }
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(wavesDir)
      .writeStream.outputMode("append").foreachBatch(pass2)
      .option("checkpointLocation", s"$storeRoot/ckpt2")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val occ = spark.read.parquet(s"$storeRoot/occ")
      .groupBy(col("centroid_id").cast("int").as("centroid_id"))
      .agg(sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"))
    SimilarityOps.occupancyDriftFinish(cents, occ, nlist)
  }

  /** Streaming AMS/count-sketch F2 build ≡ batch (q357's twin — the
    * second-moment sketch joins the streaming family): the counter
    * matrix is pure ADDITIVE state — `rows`×`width` signed BIGINT sums,
    * bounded forever, maintained as one complete-mode aggregation — so
    * the streamed counters equal the batch counters EXACTLY under any
    * micro-batching (integer sums commute with batching), and the same
    * [[graft.operators.SketchOps.amsF2Card]] finisher lands on the
    * batch card bit-for-bit against the SHARED oracle.
    */
  def streamingAmsF2(spark: SparkSession, dir: String, fileName: String,
      rows: Int, width: Int, sink: StreamSink,
      prepare: DataFrame => DataFrame): DataFrame = {
    import graft.operators.SketchOps
    val keyed = prepare(fileStream(spark, dir, fileName))
    val counters = SketchOps.amsCounters(keyed, col("k"), rows, width)
    val sunk = runToSink(spark, counters, sink, "complete")
    val rowsBuf = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sunk.collect().foreach(rowsBuf.add)
    val streamed = spark.createDataFrame(rowsBuf, sunk.schema)
    val exact = prepare(Tables.readParquet(spark, s"$dir/$fileName"))
      .groupBy(col("k")).agg(count(lit(1)).as("f"))
      .agg(sum(col("f").cast("decimal(38,0)") *
        col("f").cast("decimal(38,0)")).cast("long").as("f2_exact"))
    SketchOps.amsF2Card(streamed, exact)
  }
}
