package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface: the batch event operators
  * ([[graft.ops.Events]]) as streams — `readStream` → watermarked windowed
  * aggregation → `writeStream`, plus stateful sessionization via
  * `flatMapGroupsWithState`. The reference's nearest analog is the
  * download batch queue + cron-daily cycle (SURVEY.md §2.10); these are the
  * scale-path equivalents: watermarks bound state, `Trigger.AvailableNow`
  * reproduces the batch cycle incrementally.
  */
object StreamOps {

  /** Streaming source over a parquet directory with the given schema. */
  def parquetStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` (start + drain one or more streaming queries) with the
    * RocksDB state-store provider, restoring the previous provider after.
    * The default HDFS-backed store keeps every key's state ON HEAP — fine
    * for watermark-bounded aggregations, fatal for large-keyspace state
    * (stream-stream joins / sessionization over 100 TB/day: state is
    * bounded in TIME but can still dwarf executor heap). RocksDB keeps
    * state off-heap with incremental checkpointing; the provider is
    * per-query, pinned at first start (rocksdbjni ships with Spark, so
    * this is a config choice, not a dependency). Results are identical —
    * pinned by the spec running sessionization under both providers.
    */
  def withRocksDbState[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, RocksDbProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Watermarked tumbling-window aggregation — late data beyond
    * `watermarkDelay` is dropped and window state is reclaimed, which is
    * what makes an unbounded 100 TB/day stream aggregable with bounded
    * executor state.
    */
  def windowedCounts(events: DataFrame, tsCol: String, duration: String,
                     watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), duration), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup with bounded state: the first row per key wins
    * and later duplicates are dropped; per-key state is evicted once the
    * watermark passes the key's event time plus the delay — the property
    * that lets an unbounded ingest stream dedup with finite executor
    * memory (duplicates in real pipelines arrive close together; the
    * watermark bounds how far apart they may be).
    */
  def dedupStream(events: DataFrame, keys: Seq[String], tsCol: String,
                  watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-static enrichment join: each micro-batch hash-joins against the
    * static dimension with the dim side broadcast — stateless (no watermark
    * or join state), so an unbounded stream enriches with constant memory;
    * the dim table is re-resolvable per batch, so a slowly-refreshed
    * dimension is picked up without restarting the query.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   keys: Seq[(String, String)]): DataFrame =
    stream.join(broadcast(dim),
      keys.map { case (a, b) => stream(a) === dim(b) }.reduce(_ && _))

  final case class Event(event_id: Long, user_id: Long, event_type: String,
                         value: Double, ts: java.sql.Timestamp)
  final case class SessionState(sessionId: Long, lastTs: Long, nEvents: Long)
  final case class SessionUpdate(user_id: Long, session_id: Long, n_events: Long)

  /** Stateful gap sessionization with `flatMapGroupsWithState` — the
    * custom-state shape (`KeyValueGroupedDataset`) the built-in windowing
    * can't express. Emits a session row per update; state carries
    * (session counter, last event time). NoTimeout: we never arm timers,
    * and an armed ProcessingTimeTimeout keeps the engine scheduling
    * timeout batches under `Trigger.AvailableNow` (the run never drains).
    */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          var s = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val t = e.ts.getTime
            s = if (s.lastTs == Long.MinValue || t - s.lastTs > gapMs)
              SessionState(s.sessionId + 1, t, 1L)
            else s.copy(lastTs = t, nEvents = s.nEvents + 1)
            SessionUpdate(userId, s.sessionId, s.nEvents)
          }
          state.update(s)
          out.iterator
      }
  }

  final case class FunnelState(timesMicros: Seq[Long])
  final case class FunnelUpdate(user_id: Long, t1: java.sql.Timestamp,
                                t2: java.sql.Timestamp, t3: java.sql.Timestamp,
                                reached: Int)

  private def tsMicros(ts: java.sql.Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
  private def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** Stateful streaming funnel — the batch [[graft.ops.Events.funnel]]
    * semantics (greedy min per stage, each stage within `maxGap` of the
    * previous) as a per-user state machine: `mapGroupsWithState` folds each
    * user's events in time order and emits ONE row per user per batch with
    * the stage times reached so far. State is the achieved stage times —
    * O(#stages) longs per user, the smallest state a funnel can carry.
    * Times fold in microseconds (the corpus' real precision), so window
    * boundaries and emitted timestamps are bit-identical to the batch op.
    */
  def funnelStream(events: Dataset[Event], stages: Seq[String],
                   maxGap: java.time.Duration): Dataset[FunnelUpdate] = {
    require(stages.size == 3, "streaming funnel emits a fixed 3-stage row")
    import events.sparkSession.implicits._
    val gapUs = maxGap.toNanos / 1000
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelUpdate](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          var times = state.getOption.map(_.timesMicros).getOrElse(Nil)
          for (e <- rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))) {
            val i = times.size
            if (i < stages.size && e.event_type == stages(i)) {
              val t = tsMicros(e.ts)
              if (i == 0) times = Seq(t)
              else if (t > times.last && t <= times.last + gapUs) times = times :+ t
            }
          }
          state.update(FunnelState(times))
          def at(i: Int) = if (times.size > i) microsTs(times(i)) else null
          FunnelUpdate(userId, at(0), at(1), at(2), times.size)
      }
  }

  /** Watermarked stream-stream inner join: both sides buffer rows in state
    * until the watermark proves no more matches can arrive, so an
    * unbounded×unbounded join runs with bounded state — the time-bound
    * predicate (`|leftTs - rightTs| <= joinWindow`) is what lets the
    * engine evict. Key equality + time bound is the canonical
    * click-to-impression shape.
    */
  /** `joinType` "inner" (default) or "left_outer": the outer form emits
    * null-padded left rows once the watermark proves no match can still
    * arrive — impression-without-click detection with bounded state. Note
    * outer results trail the watermark: rows near the end of a drained
    * stream stay unemitted until a later batch advances it.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       key: String, leftTs: String, rightTs: String,
                       watermarkDelay: String, joinWindow: String,
                       joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $joinWindow"),
      joinType)
      .drop(r(key))
  }

  /** Continuous keyed upsert into a parquet dataset via `foreachBatch` —
    * the reference's cron-batch upsert cycle (`loading.rb` UPDATE…JOIN +
    * INSERT) running as a stream: each micro-batch merges by key
    * (last-writer-wins on `orderCol`), the sink directory swaps
    * atomically. On a transactional table format the swap becomes a real
    * MERGE; the operator shape is unchanged.
    */
  def upsertSink(stream: DataFrame, path: String, keys: Seq[String],
                 orderCol: String, checkpointDir: String,
                 partitionCols: Seq[String] = Nil): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // with partitionCols a micro-batch rewrites only the hive
        // partitions it touches — a day's stream into a date-partitioned
        // 100 TB table costs that day, not the table
        graft.ops.Maintenance.upsertBatch(batch, path, keys, orderCol, partitionCols)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Continuous append into a manifest-versioned dataset: every
    * micro-batch publishes atomically as the next version — readers see
    * whole batches or nothing, and a crashed batch leaves only invisible
    * staged files (vs a plain file-sink's partial output). Appends move
    * no existing data, so the sink cost is the batch, not the dataset;
    * periodic [[graft.ops.Maintenance.compactToSize]]-style rewrites can
    * run as just another committed version.
    */
  /** Continuous keyed upsert into a MANIFEST-versioned dataset: each
    * micro-batch merges by key (last-writer-wins on `orderCol`) and
    * publishes as the next version — [[upsertSink]]'s contract on the
    * transactional layout instead of directory swaps, composing its
    * guarantees: readers never see a half-merged state, `partitionCols`
    * bounds the rewrite to touched partitions, and a replayed batch is
    * skipped via the batchId watermark (same pattern as
    * [[appendIdempotent]]).
    */
  def manifestUpsertSink(stream: DataFrame, path: String, keys: Seq[String],
                         orderCol: String, checkpointDir: String,
                         partitionCols: Seq[String] = Nil): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val committed = graft.ops.Manifest
          .lastProp(batch.sparkSession, path, "streaming.batchId").map(_.toLong)
        if (!committed.exists(_ >= batchId))
          graft.ops.Manifest.upsert(batch, path, keys, orderCol, partitionCols,
            extraProps = Map("streaming.batchId" -> batchId.toString)): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[manifestUpsertSink]] with MERGE-ON-READ application: each
    * micro-batch's matched keys become deletion-vector pairs and the
    * batch appends as new files ([[graft.ops.Manifest.upsertMergeOnRead]])
    * — per batch the sink costs the matched row IDs plus the batch,
    * never a partition rewrite, which is what keeps high-frequency CDC
    * apply affordable on a 100 TB target. The read-time anti-join
    * accumulates with the vector count; fold it back during maintenance
    * windows with `purgeDeletes`/`compact` (both are just more commits).
    * Same batchId replay guard as [[manifestUpsertSink]]; the first
    * batch publishes the initial version.
    */
  def manifestMorUpsertSink(stream: DataFrame, path: String, keys: Seq[String],
                            orderCol: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val committed = graft.ops.Manifest
          .lastProp(batch.sparkSession, path, "streaming.batchId").map(_.toLong)
        if (!committed.exists(_ >= batchId))
          graft.ops.Manifest.upsertMergeOnRead(batch, path, keys, orderCol,
            extraProps = Map("streaming.batchId" -> batchId.toString)): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Continuous corpus-dedup gate: each micro-batch of incoming docs runs
    * [[graft.ops.Dedup.gateBatch]] (in-batch dedup → persisted-LSH-index
    * probe → exact-Jaccard verify against the accepted corpus), then the
    * survivors append to BOTH the band index and the accepted-corpus
    * manifest. Ordering makes the crash story safe: the index appends
    * FIRST — a replay after a crash between the two writes re-appends the
    * same band rows, which is harmless (the probe `distinct`s candidate
    * pairs), while the manifest commit carries the batchId watermark, so
    * accepted docs land exactly once. This is the 100 TB crawl-ingest
    * shape: per batch, the corpus contributes only pruned index
    * directories and candidate text rows — it is never re-signatured or
    * re-scanned.
    */
  def lshDedupGateSink(stream: DataFrame, indexPath: String,
                       corpusPath: String, idCol: String, textCol: String,
                       checkpointDir: String,
                       k: Int = 8, rowsPerBand: Int = 2,
                       minJaccard: Double = 0.7): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val committed = graft.ops.Manifest
          .lastProp(spark, corpusPath, "streaming.batchId").map(_.toLong)
        if (!committed.exists(_ >= batchId)) {
          val haveCorpus = graft.ops.Manifest.latestVersion(spark, corpusPath) > 0
          val corpus =
            if (haveCorpus) graft.ops.Manifest.read(spark, corpusPath)
            else batch.limit(0)
          // one token/signature pass per batch: the gate hands back the
          // accepted docs' band rows, so the index append re-signatures
          // nothing
          // accepted arrives already materialized (the gate checkpoints
          // it eagerly and releases its own per-batch caches); bandsRaw
          // is the one cache the gate leaves alive, released below
          val (accepted, bandsRaw) = graft.ops.Dedup.gateBatchWithBands(
            batch, idCol, textCol, indexPath, corpus, k, rowsPerBand, minJaccard)
          if (accepted.head(1).nonEmpty)
            graft.ops.Dedup.writeLshIndexBands(
              bandsRaw.join(accepted.select(idCol), Seq(idCol), "left_semi"),
              indexPath)
          graft.ops.Manifest.append(accepted, corpusPath,
            Map("streaming.batchId" -> batchId.toString)): Unit
          // this batch's band cache and accepted checkpoint are dead
          // after both writes — release them eagerly so a long-running
          // gate doesn't rely on ContextCleaner GC to bound the
          // block-manager footprint
          bandsRaw.unpersist(): Unit
          graft.ops.CacheControl.release(accepted)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Idempotent-replay append: a micro-batch retried after a failure
    * between `Manifest.append` and the checkpoint commit would otherwise
    * land twice. The manifest commit records the batchId; a replay whose
    * id is ≤ the last recorded one is skipped — the standard foreachBatch
    * exactly-once pattern. `lastProp` scans versions newest-first, so an
    * interleaved non-streaming commit (compaction, manual append) can't
    * hide the recorded id.
    */
  def appendIdempotent(batch: DataFrame, path: String, batchId: Long): Unit = {
    val committed = graft.ops.Manifest
      .lastProp(batch.sparkSession, path, "streaming.batchId").map(_.toLong)
    if (!committed.exists(_ >= batchId))
      graft.ops.Manifest.append(batch, path,
        Map("streaming.batchId" -> batchId.toString)): Unit
  }

  def manifestSink(stream: DataFrame, path: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendIdempotent(batch, path, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Start a streaming query with its STATE partition count pinned to `n`
    * instead of inheriting the session's batch shuffle setting.
    *
    * Why this is a first-class knob and not bench tuning: a stateful
    * streaming query's shuffle-partition count is captured at FIRST start
    * (StreamExecution clones the session conf synchronously inside
    * `start()`) and then frozen into the checkpoint for the query's whole
    * life — it cannot be changed on restart, and AQE never touches
    * stateful streaming exchanges. So the number is a per-stream sizing
    * decision (key cardinality × per-batch volume), consciously chosen,
    * NOT the batch session default: every micro-batch pays one state-store
    * commit (file create + write + rename) PER PARTITION PER STATEFUL
    * OPERATOR even when the batch is tiny — a stream-stream join keeps 4
    * stores per partition, so a 32-partition session setting costs 128
    * commits per batch (measured on the bench join: 6.1 s at 32 partitions
    * → 2.4 s at 8, same data, same results). At ingest scale the same
    * sizing goes the other way: state for a 100 TB/day join wants HUNDREDS
    * of partitions regardless of what the session uses for batch work.
    *
    * Only `startQuery` (which must START the query synchronously — the
    * conf clone happens inside `start()`) runs under the flipped conf;
    * the previous value is restored before this returns. Pins serialize
    * on THE shared conf-flip lock ([[graft.ops.ConfFlip]]) — shared
    * with [[graft.ops.CacheControl.checkpointWithLayout]] and any future
    * conf-pinning helper — so neither two overlapping starts NOR a
    * start overlapping a batch checkpoint's AQE pin can capture the
    * other's transient value; for a stream that matters doubly, because
    * a wrong shuffle-partition count captured at `start()` is frozen
    * into the checkpoint for the query's whole life. Stream starts that
    * bypass this wrapper on a session with concurrent pinned planning
    * remain exposed (session conf is process-global): route them
    * through here, or don't overlap them with pinned work.
    */
  def withStatePartitions[A](spark: SparkSession, n: Int)(startQuery: => A): A =
    graft.ops.ConfFlip.withConf(spark, "spark.sql.shuffle.partitions",
      n.toString)(startQuery)

  /** Optional scratch root for streaming fixtures and checkpoints
    * (`graft.stream.scratch` system property, or the
    * `SPARK_GRAFT_STREAM_SCRATCH` env var). The bench lane points it at
    * tmpfs (`/dev/shm`) so the ~0.4 s/micro-batch WAL-fsync+addBatch
    * floor (NOTES.md, round 13 running log, "Streaming fixed-overhead
    * profile") stops being disk-fsync
    * bound and the lane isolates QUERY cost — a measurement-honesty
    * knob, not a deployment setting (a real deployment wants its
    * checkpoint durable). Default: unset, plain `java.io.tmpdir`
    * behavior everywhere.
    */
  def scratchOverride: Option[String] =
    sys.props.get("graft.stream.scratch")
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_SCRATCH")).filter(_.nonEmpty)

  /** A fresh temp dir for a streaming fixture/checkpoint, under
    * [[scratchOverride]] when set, else `java.io.tmpdir`. */
  def scratchDir(prefix: String): java.nio.file.Path =
    scratchOverride match {
      case Some(root) =>
        val r = java.nio.file.Paths.get(root)
        java.nio.file.Files.createDirectories(r)
        java.nio.file.Files.createTempDirectory(r, prefix)
      case None => java.nio.file.Files.createTempDirectory(prefix)
    }

  /** Run a streaming DataFrame to a named in-memory sink until all
    * available input is processed — the test/driver harness shape
    * (`Trigger.AvailableNow` ≈ the reference's cron-batch cycle O12).
    * `statePartitions` pins the query's state layout via
    * [[withStatePartitions]]; None inherits the session setting.
    */
  def runToMemory(df: DataFrame, queryName: String,
                  outputMode: String = "append",
                  statePartitions: Option[Int] = None): Unit = {
    def begin() = {
      val w = df.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
      // under a scratch override the checkpoint is placed explicitly
      // (Spark's own temp checkpoint always lands in java.io.tmpdir);
      // default behavior unchanged when no override is set
      scratchOverride.fold(w)(_ =>
        w.option("checkpointLocation",
          scratchDir("ck_" + queryName).toString)).start()
    }
    val q = statePartitions match {
      case Some(n) => withStatePartitions(df.sparkSession, n)(begin())
      case None => begin()
    }
    q.awaitTermination()
  }
}
